package perfbench

import java.nio.file.Path

import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

import graft.streaming.StreamingEventAlerts

/** `keyed-live`: an open loop. Many keys with short series; file f holds
  * the next `rowsPerFile` rows of every key, so each file touches every
  * key. One generator thread publishes the pre-built files at a fixed rate,
  * whatever the query does; `StreamingEventAlerts.alerts` consumes them
  * under the default trigger. A file's latency runs from its due time to
  * the end of the micro-batch that consumed it. */
final class KeyedLive(keys: Int, rowsPerFile: Int, filesPerSecond: Double,
    seconds: Double) extends Workload {
  private val schema = StructType(Seq(StructField("event_id", LongType),
    StructField("user_id", LongType), StructField("value", DoubleType)))
  /** At least enough files for every key to fire ten times. */
  val files: Int = math.max((Inputs.Window + 10 + rowsPerFile - 1) / rowsPerFile,
    math.round(filesPerSecond * seconds).toInt)
  private val rows = files * rowsPerFile
  private val HistorySamples = 10000
  private var pending: Seq[Path] = Nil
  private var thr: Map[String, Double] = _
  private var expected: Inputs.Expected = _

  def setup(env: Env): Unit = {
    val tr = env.tracer
    val vs = tr.span("gen.sample") {
      Inputs.samples(env.spark, (keys * rows + 5) / 6, env.seed).flatten
    }
    // value of (key k, row s) = vs(s * keys + k)
    val staged = env.dir("live-staged")
    pending = tr.span("stage") {
      (0 until files).map { f =>
        val p = staged.resolve(f"part-$f%06d.csv")
        val w = Inputs.writer(p)
        try for (s <- f * rowsPerFile until (f + 1) * rowsPerFile; k <- 0 until keys)
          w.write(s"${s + 1},$k,${vs(s * keys + k)}\n")
        finally w.close()
        p
      }
    }
    // thresholds from a population of fixed size, as stats.csv comes from
    // psd.R's sample rather than from the stream it is applied to
    thr = tr.span("gen.thresholds") {
      val spark = env.spark
      import spark.implicits._
      val history = Inputs.samples(spark, HistorySamples, env.seed + 1).flatten
      StreamingEventAlerts.thresholds(history.toSeq.toDF("value"))
    }
    expected = Inputs.expected(
      Iterator.range(0, keys).map(k =>
        k.toLong -> Array.tabulate(rows)(s => vs(s * keys + k))),
      (s, _) => thr(s))
  }

  def measure(env: Env, seconds: Double, e2e: Metrics, layer: Metrics): Unit = {
    val spark = env.spark
    val tr = env.tracer
    val in = env.dir("live-in")
    val out = env.dir("live-out")
    val ckpt = env.dir("live-ckpt")
    val offered = keys.toLong * rows
    val perFile = keys.toLong * rowsPerFile
    val periodMs = 1000.0 / filesPerSecond
    val published = new Array[Long](files)
    val due = new Array[Long](files)

    tr.span("live.run") {
      val q = StreamingEventAlerts.alerts(
          spark.readStream.schema(schema).csv(in.toString), thr)
        .writeStream.format("parquet")
        .option("checkpointLocation", ckpt.toString)
        .start(out.toString)
      def consumed = env.progress.of(q.runId).map(_.numInputRows).sum
      def awaitConsumed(rows: Long, untilMs: Long): Unit =
        while (consumed < rows && System.currentTimeMillis() < untilMs &&
          q.isActive) Thread.sleep(20)
      // file 0 warms the running query up (first plan, state store
      // providers) and is not timed; the schedule starts after it
      val pub = new Inputs.Publisher(in)
      pub.publish(pending(0))
      published(0) = System.currentTimeMillis()
      awaitConsumed(perFile, published(0) + 60000)

      val t0 = System.currentTimeMillis() + 100
      (0 until files).foreach(f => due(f) = t0 + math.round((f - 1) * periodMs))
      due(0) = published(0)
      val gen = new Thread(() => {
        (1 until files).foreach { f =>
          val wait = due(f) - System.currentTimeMillis()
          if (wait > 0) Thread.sleep(wait)
          pub.publish(pending(f))
          published(f) = System.currentTimeMillis()
        }
      }, "perfbench-loadgen")
      gen.start()
      awaitConsumed(offered, due(files - 1) + 60000)
      env.jvm.sample() // the state stores are still loaded
      q.stop()
      gen.join()
      env.drainEvents()

      val batches = env.progress.of(q.runId).map(Batch.from)
      val parent = tr.current
      batches.foreach(b => tr.add("stream.batch", parent,
        tr.epochToMs(b.startEpochMs), tr.epochToMs(b.endEpochMs)))
      val data = batches.filter(_.rows > 0)
      val rowsIn = data.map(_.rows).sum
      env.checks.check("streaming.rows_in = rows offered", rowsIn == offered,
        s"$rowsIn of $offered")
      // file f is consumed by the first batch whose running row count
      // reaches (f + 1) * perFile: files are published and read in order
      val before = data.scanLeft(0L)(_ + _.rows)
      val consumedBy = before.tail
      val endOf = (0 until files).flatMap(f =>
        data.zip(consumedBy).find(_._2 >= (f + 1) * perFile).map(_._1))
      (0 until files).foreach(f =>
        env.checks.check(s"file $f consumed", f < endOf.length))
      val timed = endOf.drop(1)
      if (timed.nonEmpty) {
        Report.percentiles(e2e, "latency",
          timed.zipWithIndex.map { case (b, i) => (b.endEpochMs - due(i + 1)).toDouble })
        Report.percentiles(e2e, "batch", timed.distinct.map(_.triggerMs.toDouble))
        val wall = (timed.last.endEpochMs - t0) / 1000.0
        e2e("wall_s") = (wall, "s")
        e2e("rows_per_s") = ((offered - perFile) / wall, "1/s")
      }

      tr.span("bench.check") {
        val got = spark.read.parquet(out.toString)
          .groupBy("stat", "key").count().collect()
          .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
        env.checks.check("keyed alert counts equal the reference computation",
          got == expected.alerts,
          s"${got.values.sum} vs ${expected.alerts.values.sum} alerts")
      }

      layer("loadgen.late_max_ms") =
        ((0 until files).map(f => published(f) - due(f)).max.toDouble, "ms")
      val backlog = data.zip(before).map { case (b, done) =>
        published.count(p => p > 0 && p <= b.startEpochMs) - done / perFile
      }
      layer("loadgen.backlog_files_max") =
        ((if (backlog.isEmpty) 0L else backlog.max).toDouble, "files")
      if (tr.enabled) {
        Report.streaming(layer, batches, 0L)
        env.layers.foreach { l =>
          env.drainEvents()
          Report.sparkTotals(layer, l, 1.0, Set(q.runId.toString))
        }
      }
    }
  }
}
