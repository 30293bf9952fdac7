package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

import graft.analytics.AlertAnalytics
import graft.gen.PopulationStats
import graft.pipeline.{AlertPipeline, ReferencePipeline}
import graft.sources.Sources

/** `paper-batch`: the paper's job as one closed-loop batch. Each iteration
  * reads the R-style samples CSV, builds the thresholds, computes the
  * alerts, writes the alert log, reads it back and post-processes it into
  * counts and histograms, then checks the counts against [[Inputs.expected]]. */
final class PaperBatch(defaultSamples: Int) extends Workload {
  private var n = 0
  /** A samples CSV and the samples written to it. */
  private final case class Input(csv: Path, samples: Array[Array[Double]])
  private var input: Input = _
  private var warmUp: Input = _
  private val expectedByThr = mutable.Map.empty[Map[(String, Long), Double], Inputs.Expected]

  def setup(env: Env): Unit = {
    n = env.samplesOverride.getOrElse(defaultSamples)
    val samples = env.tracer.span("gen.sample")(Inputs.samples(env.spark, n, env.seed))
    input = Input(env.work.resolve("samples.csv"), samples)
    warmUp = Input(env.work.resolve("warm-up.csv"), samples.take(n / 5))
    env.tracer.span("stage")(Seq(input, warmUp).foreach(i =>
      Inputs.writeSamplesCsv(i.csv, i.samples, env.seed)))
  }

  /** Row counts of the traced prefixes. */
  private final case class Prefixes(parsed: Long, windows: Long, alerts: Long)

  private final case class JobResult(thr: Map[(String, Long), Double],
      counts: Map[(String, Long), Long], prefixes: Option[Prefixes])

  /** Materializes successive prefixes of the alert computation through the
    * noop sink, so the difference between two successive prefix times is
    * the self time of the layer added last. Runs after the timed sink call:
    * run before it, the prefixes paid the query's one-time costs (planning,
    * code generation) for it, and the layer self-times summed to only
    * 0.85-0.90 of the untraced job. */
  private def prefixes(env: Env, parsed: DataFrame, thr: DataFrame): Prefixes = {
    def run(name: String, df: DataFrame): Long = {
      val o = Observation(name)
      env.tracer.span(name) {
        df.observe(o, count(lit(1)).as("rows"))
          .write.format("noop").mode("overwrite").save()
      }
      o.get("rows").asInstanceOf[Long]
    }
    val series = Sources.toSeries(parsed)
    val windowed = AlertPipeline.windowed(series, col("assetNo"), col("seq"),
      col("x"), Inputs.Window)
    val measured = AlertPipeline.withMeasures(windowed,
      Seq(col("assetNo"), col("seq")), Inputs.Window)
    val rows = run("prefix.parse", parsed)
    run("prefix.series", series)
    run("prefix.window", windowed)
    val windows = run("prefix.measures", measured)
    val alerts = run("prefix.join",
      ReferencePipeline.alerts(parsed, thr, Inputs.Window, Inputs.Shortfall))
    Prefixes(rows, windows, alerts)
  }

  private def job(env: Env, in: Input, traced: Boolean): JobResult = {
    val spark = env.spark
    val tr = env.tracer
    val logDir = env.work.resolve("alert-log").toString
    tr.span("job") {
      val parsed = tr.span("sources.read")(Sources.readSamplesCsv(spark, in.csv.toString))
      val (thrDf, thr) = tr.span("gen.thresholds") {
        val t = PopulationStats.thresholds(parsed)
        t -> t.collect().map(r =>
          (r.getString(0), r.getInt(1).toLong) -> r.getDouble(2)).toMap
      }
      tr.span("sources.log_write") {
        Sources.writeAlertLog(
          ReferencePipeline.alerts(parsed, thrDf, Inputs.Window, Inputs.Shortfall)
            .withColumnRenamed("windowId", "count"),
          logDir)
      }
      val pre = if (traced) Some(prefixes(env, parsed, thrDf)) else None
      // loaded once, like the reference's post-processing loads the log
      // once before counting and plotting
      val log = tr.span("sources.log_read") {
        val l = Sources.readAlertLog(spark, logDir).cache()
        l.count()
        l
      }
      val counts = tr.span("analytics.counts") {
        AlertAnalytics.counts(log, "assetNo").collect().map(r =>
          (r.getString(0), r.getInt(1).toLong) -> r.getLong(2)).toMap
      }
      val histTotal = tr.span("analytics.histogram") {
        AlertAnalytics.histogram(log, "stat", "value").collect()
          .map(_.getLong(2)).sum
      }
      log.unpersist()
      thrDf.unpersist()
      tr.span("bench.check") {
        val exp = expectedByThr.getOrElseUpdate(thr,
          Inputs.expected(Inputs.paperSeries(in.samples), (s, k) => thr((s, k))))
        env.checks.check("batch alert counts equal the reference computation",
          counts == exp.alerts, diff(counts, exp.alerts))
        env.checks.check("histogram buckets hold every alert",
          histTotal == counts.values.sum, s"$histTotal vs ${counts.values.sum}")
      }
      JobResult(thr, counts, pre)
    }
  }

  private final case class Run(wallS: Double, result: JobResult)

  def measure(env: Env, seconds: Double, e2e: Metrics, layer: Metrics): Unit = {
    def timed(traced: Boolean)(): Option[Run] = {
      val t0 = System.nanoTime()
      env.checks.op(if (traced) "paper-batch traced job" else "paper-batch job") {
        if (traced) job(env, input, traced = true)
        else env.tracer.paused(job(env, input, traced = false))
      }.map { r =>
        val run = Run((System.nanoTime() - t0) / 1e9, r)
        env.jvm.sample()
        run
      }
    }
    val warm = () => env.checks.op("paper-batch warm-up job")(
      env.tracer.paused(job(env, warmUp, traced = false))): Unit
    val (untraced, traced) = Loop.measured(env.tracer.enabled, seconds, warm)(
      timed(traced = false), timed(traced = true))
    if (untraced.isEmpty) return
    val wall = Stats.median(untraced.map(_.wallS))
    val ms = untraced.map(_.wallS * 1000)
    e2e("wall_s") = (wall, "s")
    e2e("rows_per_s") = (n.toDouble * Inputs.Series / wall, "1/s")
    Report.percentiles(e2e, "batch", ms)
    Report.percentiles(e2e, "latency", ms)

    val last = (untraced ++ traced).last.result
    Inputs.writeThresholds(env.work.resolve("thresholds.csv"), last.thr)
    val windows = (n - Inputs.Window + 1).toLong
    Report.rates(env, layer, last.counts, windows)
    traced.lastOption.flatMap(_.result.prefixes).foreach { p =>
      env.checks.check("pipeline.windows = 7(n-29)",
        p.windows == Inputs.Series * windows, s"${p.windows}")
      env.checks.check("sources.dropped_lines = malformed lines + header",
        p.parsed == n, s"parsed ${p.parsed} of $n")
      env.checks.check("noop-sink alerts equal the alert log",
        p.alerts == last.counts.values.sum, s"${p.alerts} vs ${last.counts.values.sum}")
      layer("sources.dropped_lines") =
        ((Inputs.MalformedLines + 1 + n - p.parsed).toDouble, "count")
      layer("pipeline.windows") = (p.windows.toDouble, "count")
      layer("pipeline.alerts") = (p.alerts.toDouble, "count")
      layer("pipeline.alert_ratio") = (p.alerts.toDouble / (p.windows * 6), "1")
    }
    if (traced.nonEmpty) tracedLayers(env, layer, wall, traced.map(_.wallS))
  }

  private def tracedLayers(env: Env, layer: Metrics, untracedWall: Double,
      tracedWalls: Seq[Double]): Unit = {
    val tr = env.tracer
    val jobs = tr.named("job").filter(j => tr.all.exists(s =>
      s.parent == j.id && s.name == "prefix.parse"))
    // self time of each layer, per traced job, in seconds
    val selfs = jobs.map { j =>
      val kids = tr.all.filter(_.parent == j.id).map(s => s.name -> s.seconds).toMap
      def k(n: String) = kids.getOrElse(n, 0.0)
      Map(
        "sources.read" -> k("sources.read"),
        "gen.thresholds" -> k("gen.thresholds"),
        "sources.parse" -> k("prefix.parse"),
        "sources.series" -> (k("prefix.series") - k("prefix.parse")),
        "pipeline.window" -> (k("prefix.window") - k("prefix.series")),
        "pipeline.measures" -> (k("prefix.measures") - k("prefix.window")),
        "pipeline.join" -> (k("prefix.join") - k("prefix.measures")),
        "sources.log_write" -> (k("sources.log_write") - k("prefix.join")),
        "sources.log_read" -> k("sources.log_read"),
        "analytics.counts" -> k("analytics.counts"),
        "analytics.histogram" -> k("analytics.histogram"),
        "bench.check" -> k("bench.check"))
    }
    def med(name: String) = Stats.median(selfs.map(_(name)))
    Seq("gen.thresholds", "sources.parse", "sources.series", "pipeline.window",
      "pipeline.measures", "pipeline.join", "sources.log_write",
      "sources.log_read", "analytics.counts", "analytics.histogram").foreach { l =>
      layer(s"${l}_s") = (med(l), "s")
    }
    val selfSum = Stats.median(selfs.map(_.values.sum))
    Report.traceSummary(layer, selfSum, untracedWall, Stats.median(tracedWalls))

    layer("sources.log_mb") =
      (Env.sizeBytes(env.work.resolve("alert-log")) / 1e6, "MB")
    env.layers.foreach { l =>
      env.drainEvents()
      val iters = jobs.length.max(1).toDouble
      def g(name: String) = l.group(name)
      def mb(b: Long) = b / 1e6 / iters
      layer("gen.thresholds_shuffle_mb") = (mb(g("gen.thresholds").shuffleBytes), "MB")
      layer("sources.parse_max_task_s") = (g("prefix.parse").maxTaskMs / 1000.0, "s")
      layer("pipeline.window_shuffle_mb") =
        (mb(g("prefix.window").shuffleBytes - g("prefix.series").shuffleBytes), "MB")
      layer("pipeline.window_spill_mb") =
        (mb(g("prefix.window").spillBytes - g("prefix.series").spillBytes), "MB")
      layer("pipeline.window_task_skew") = (l.skew("prefix.window"), "ratio")
      Report.sparkTotals(layer, l, iters,
        Set("job", "sources.read", "gen.thresholds", "sources.log_write",
          "sources.log_read", "analytics.counts", "analytics.histogram",
          "bench.check"))
    }
  }

  private def diff(got: Map[(String, Long), Long],
      exp: Map[(String, Long), Long]): String =
    (got.keySet ++ exp.keySet).toSeq.sorted
      .filter(k => got.getOrElse(k, 0L) != exp.getOrElse(k, 0L)).take(5)
      .map(k => s"$k got ${got.getOrElse(k, 0L)} expected ${exp.getOrElse(k, 0L)}")
      .mkString("; ")
}
