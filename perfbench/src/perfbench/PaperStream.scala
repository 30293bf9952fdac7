package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.analytics.AlertAnalytics
import graft.gen.PopulationStats
import graft.measures.Measures
import graft.sources.Sources
import graft.streaming.{CountSlidingWindow, Sample}

/** `paper-stream`: the same samples as [[PaperBatch]], pre-numbered as
  * (key = assetNo, seq, v) and staged in seq order as many small files,
  * caught up in closed-loop passes under `Trigger.AvailableNow`:
  * `CountSlidingWindow.measures` → stream-static threshold join with
  * `Measures.alertPredicate` → `Sources.writeAlertLog` per micro-batch. */
final class PaperStream(defaultSamples: Int, samplesPerFile: Int,
    filesPerTrigger: Int) extends Workload {
  private var n = 0
  private var samples: Array[Array[Double]] = _
  private var files = 0
  private var thr: Map[(String, Long), Double] = _
  /** Staged files of the first `samples` samples, and their expected alerts. */
  private final case class Input(dir: Path, samples: Int, expected: Inputs.Expected)
  private var input: Input = _
  private var warmUp: Input = _

  def setup(env: Env): Unit = {
    val tr = env.tracer
    n = env.samplesOverride.getOrElse(defaultSamples)
    samples = tr.span("gen.sample")(Inputs.samples(env.spark, n, env.seed))
    val csv = env.work.resolve("samples.csv")
    val (inDir, warmDir) = tr.span("stage") {
      Inputs.writeSamplesCsv(csv, samples, env.seed)
      (stage(env, "stream-in", n), stage(env, "stream-warm-up", 2 * samplesPerFile))
    }
    thr = tr.span("gen.thresholds") {
      val t = PopulationStats.thresholds(Sources.readSamplesCsv(env.spark, csv.toString))
      val m = t.collect().map(r =>
        (r.getString(0), r.getInt(1).toLong) -> r.getDouble(2)).toMap
      t.unpersist()
      m
    }
    def expected(k: Int) =
      Inputs.expected(Inputs.paperSeries(samples.take(k)), (s, key) => thr((s, key)))
    files = (n + samplesPerFile - 1) / samplesPerFile
    input = Input(inDir, n, expected(n))
    warmUp = Input(warmDir, 2 * samplesPerFile, expected(2 * samplesPerFile))
    Inputs.writeThresholds(env.work.resolve("thresholds.csv"), thr)
  }

  /** Writes the first `count` samples in seq order as files of
    * `samplesPerFile` samples × 7 series, and publishes them in that order. */
  private def stage(env: Env, name: String, count: Int): Path = {
    val staged = env.dir(s"$name-staged")
    val in = env.dir(name)
    val pub = new Inputs.Publisher(in)
    (0 until (count + samplesPerFile - 1) / samplesPerFile).foreach { f =>
      val p = staged.resolve(f"part-$f%06d.csv")
      val w = Inputs.writer(p)
      try {
        (f * samplesPerFile until math.min(count, (f + 1) * samplesPerFile)).foreach { i =>
          val xs = Inputs.seriesOf(samples(i))
          var k = 0
          while (k < Inputs.Series) {
            w.write(s"$k,${i + 1},${xs(k)}\n")
            k += 1
          }
        }
      } finally w.close()
      pub.publish(p)
    }
    Inputs.assertPublishedInOrder(in)
    in
  }

  private final case class Pass(wallS: Double, batches: Seq[Batch], fires: Long,
      counts: Map[(String, Long), Long], startEpochMs: Long, runId: String)

  /** One catch-up pass from an empty checkpoint; returns after the alert log
    * has been read back and checked. */
  private def pass(env: Env, spark: SparkSession, tag: String, in: Input): Pass = {
    import spark.implicits._
    val tr = env.tracer
    val sink = env.dir(s"stream-log-$tag")
    val ckpt = env.dir(s"stream-ckpt-$tag")
    val thrDf = thr.toSeq.map { case ((s, k), t) => (s, k.toInt, t) }
      .toDF("stat", "assetNo", "thr")
    val start = System.currentTimeMillis()
    val t0 = System.nanoTime()
    tr.span("stream.pass") {
      val src = spark.readStream
        .schema("key BIGINT, seq BIGINT, v DOUBLE")
        .option("maxFilesPerTrigger", filesPerTrigger.toLong)
        .csv(in.dir.toString).as[Sample]
      val meas = CountSlidingWindow.measures(src, Inputs.Window).toDF()
        .observe("measure_rows", count(lit(1)))
      val alerts = meas.join(broadcast(thrDf),
          meas("key") === thrDf("assetNo") && meas("stat") === thrDf("stat"))
        .where(Measures.alertPredicate(col("m"), col("thr"), Inputs.Shortfall))
        .select(col("seq").as("count"), meas("stat"), col("assetNo"),
          col("m").as("value"))
      val q = alerts.writeStream
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt.toString)
        .foreachBatch((df: DataFrame, id: Long) =>
          Sources.writeAlertLog(df, sink.resolve(f"batch-$id%06d").toString))
        .start()
      val parent = tr.current
      q.awaitTermination()
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      val batches = env.progress.of(q.runId).map(Batch.from)
      batches.foreach(b => tr.add("stream.batch", parent,
        tr.epochToMs(b.startEpochMs), tr.epochToMs(b.endEpochMs)))
      val counts = tr.span("bench.check") {
        val log = Sources.readAlertLog(spark, sink.resolve("batch-*").toString)
        val c = AlertAnalytics.counts(log, "assetNo").collect().map(r =>
          (r.getString(0), r.getInt(1).toLong) -> r.getLong(2)).toMap
        env.checks.check("stream alert counts equal the reference computation",
          c == in.expected.alerts,
          s"${c.values.sum} vs ${in.expected.alerts.values.sum} alerts")
        c
      }
      val fires = batches.map(_.observed.getOrElse("measure_rows", 0L)).sum /
        Measures.names.length
      val rowsIn = batches.map(_.rows).sum
      env.checks.check("streaming.rows_in = rows offered",
        rowsIn == in.samples.toLong * Inputs.Series,
        s"$rowsIn of ${in.samples.toLong * Inputs.Series}")
      env.checks.check("streaming.fires = 7(n-29)",
        fires == in.expected.windows, s"$fires vs ${in.expected.windows}")
      Env.deleteTree(ckpt)
      Pass((System.nanoTime() - t0) / 1e9, batches, fires, counts, start,
        q.runId.toString)
    }
  }

  def measure(env: Env, seconds: Double, e2e: Metrics, layer: Metrics): Unit = {
    val tr = env.tracer
    val warm = () => env.checks.op("paper-stream warm-up pass")(
      tr.paused(pass(env, env.spark, "w", warmUp))): Unit
    val (untraced, traced) = Loop.measured(tr.enabled, seconds, warm)(
      () => {
        val p = env.checks.op("paper-stream pass")(tr.paused(pass(env, env.spark, "u", input)))
        env.jvm.sample()
        p
      },
      () => env.checks.op("paper-stream traced pass")(pass(env, env.spark, "t", input)))
    if (untraced.isEmpty) return
    val rows = n.toDouble * Inputs.Series
    val wall = Stats.median(untraced.map(_.wallS))
    e2e("wall_s") = (wall, "s")
    e2e("rows_per_s") = (rows / wall, "1/s")
    Report.percentiles(e2e, "batch",
      untraced.flatMap(_.batches.filter(_.rows > 0).map(_.triggerMs.toDouble)))
    Report.percentiles(e2e, "latency", untraced.flatMap(fileLatencies))
    Report.rates(env, layer, untraced.last.counts, (n - Inputs.Window + 1).toLong)

    if (tr.enabled && traced.nonEmpty) {
      val last = traced.last
      Report.streaming(layer, last.batches, last.fires)
      // self time of a pass: its micro-batches, and the rest of the pass
      // (query start and stop, the output check)
      val trigger = traced.map(_.batches.map(_.triggerMs).sum / 1000.0)
      val idle = traced.zip(trigger).map { case (p, t) => p.wallS - t }
      layer("streaming.trigger_s") = (Stats.median(trigger), "s")
      layer("streaming.idle_s") = (Stats.median(idle), "s")
      Report.traceSummary(layer, Stats.median(trigger) + Stats.median(idle), wall,
        Stats.median(traced.map(_.wallS)))
      layer("streaming.rows_per_s") = (rows / wall, "1/s")
      env.layers.foreach { l =>
        env.drainEvents()
        // a micro-batch's jobs carry the query's run id as job group
        Report.sparkTotals(layer, l, traced.length.toDouble,
          traced.map(_.runId).toSet ++ Set("stream.pass", "bench.check"))
      }
      // the single-core baseline of the same catch-up
      val s1 = env.tracer.paused {
        env.spark.stop()
        val one = Env.session(1, env.work)
        one.streams.addListener(env.progress)
        pass(env, one, "local1", input)
      }
      layer("streaming.local1_rows_per_s") = (rows / s1.wallS, "1/s")
    }
  }

  /** Per file: from the pass start (every file is offered then) to the end
    * of the micro-batch that consumed it. Files are consumed in seq order,
    * so the running row count maps each file to its batch. */
  private def fileLatencies(p: Pass): Seq[Double] = {
    // cumulative rows through each file
    val through = (1 to files).map(f =>
      math.min(n, f * samplesPerFile).toLong * Inputs.Series)
    val data = p.batches.filter(_.rows > 0)
    val consumedBy = data.scanLeft(0L)(_ + _.rows).tail
    through.flatMap { r =>
      data.zip(consumedBy).find(_._2 >= r)
        .map { case (b, _) => (b.endEpochMs - p.startEpochMs).toDouble }
    }
  }
}
