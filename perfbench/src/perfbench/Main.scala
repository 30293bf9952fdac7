package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark entry point:
  * `Main --workload W --seed N --seconds S --trace 0|1 --work DIR [--samples N]`.
  *
  * Sets the workload up [[SetupRepeats]] times, each in a fresh session,
  * then measures it for `--seconds`. Prints its checks' failures and a few
  * `[perfbench]` lines, and as its last line one JSON object: the
  * end-to-end metrics untraced, the per-layer metrics traced. `--samples`
  * shrinks the paper workloads for the benchmark's own tests. */
object Main {
  /** Paper workloads: samples per run (7 series values each). */
  val PaperSamples = 10000
  /** paper-stream staging: samples per file and files per trigger. */
  val SamplesPerFile = 500
  val FilesPerTrigger = 1
  /** keyed-live: keys, rows per key in each file, and the offered rate. */
  val LiveKeys = 5000
  val LiveRowsPerFile = 1
  val LiveFilesPerSecond = 4.0
  val Cores = 4
  val SetupRepeats = 3

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "wall_s" -> "s", "rows_per_s" -> "1/s",
    "batch_p50_ms" -> "ms", "batch_tail_ms" -> "ms",
    "latency_p50_ms" -> "ms", "latency_tail_ms" -> "ms",
    "peak_heap_mb" -> "MB")

  val PerLayer: Seq[(String, String)] = Seq(
    "gen.sample_s" -> "s", "gen.thresholds_s" -> "s",
    "gen.thresholds_shuffle_mb" -> "MB",
    "sources.parse_s" -> "s", "sources.parse_max_task_s" -> "s",
    "sources.series_s" -> "s", "sources.dropped_lines" -> "count",
    "pipeline.window_s" -> "s", "pipeline.window_shuffle_mb" -> "MB",
    "pipeline.window_spill_mb" -> "MB", "pipeline.window_task_skew" -> "ratio",
    "pipeline.measures_s" -> "s", "pipeline.join_s" -> "s",
    "pipeline.windows" -> "count", "pipeline.alerts" -> "count",
    "pipeline.alert_ratio" -> "1",
    "sources.log_write_s" -> "s", "sources.log_read_s" -> "s",
    "sources.log_mb" -> "MB",
    "analytics.counts_s" -> "s", "analytics.histogram_s" -> "s",
    "alerts.sm2_asset_rate" -> "1", "alerts.sm2_portfolio_rate" -> "1",
    "streaming.batches" -> "count", "streaming.rows_in" -> "count",
    "streaming.fires" -> "count", "streaming.fire_ratio" -> "ratio",
    "streaming.add_batch_ms" -> "ms", "streaming.plan_ms" -> "ms",
    "streaming.offsets_ms" -> "ms", "streaming.commit_ms" -> "ms",
    "streaming.state_rows" -> "count", "streaming.state_mb" -> "MB",
    "streaming.state_updated_rows" -> "count",
    "streaming.state_commit_ms" -> "ms",
    "streaming.trigger_s" -> "s", "streaming.idle_s" -> "s",
    "streaming.rows_per_s" -> "1/s", "streaming.local1_rows_per_s" -> "1/s",
    "loadgen.late_max_ms" -> "ms", "loadgen.backlog_files_max" -> "files",
    "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.task_s" -> "s",
    "spark.sched_delay_s" -> "s", "jvm.gc_s" -> "s",
    "trace.self_sum_ratio" -> "ratio", "trace.overhead_pct" -> "%")

  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: java.nio.file.Path, samples: Option[Int])

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") match {
        case "0" => false
        case "1" => true
        case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, not $t")
      },
      Paths.get(need("work")).toAbsolutePath, kv.get("samples").map(_.toInt))
    require(a.seconds >= 1, "--seconds must be at least 1")
    a
  }

  def workload(a: Args): Workload = a.workload match {
    case "paper-batch" => new PaperBatch(PaperSamples)
    case "paper-stream" => new PaperStream(PaperSamples, SamplesPerFile, FilesPerTrigger)
    case "keyed-live" => new KeyedLive(LiveKeys, LiveRowsPerFile, LiveFilesPerSecond, a.seconds)
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }

  def main(argv: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val a = parse(argv)
    val wl = workload(a)
    Files.createDirectories(a.work)
    val checks = new Checks
    val progress = new ProgressListener
    val jvm = new JvmStats
    var spark: SparkSession = null
    val tracer = new Tracer(a.trace, s"${a.workload}-${a.seed}",
      g => Option(spark).foreach(s => g match {
        case Some(name) => s.sparkContext.setJobGroup(name, name, interruptOnCancel = false)
        case None => s.sparkContext.clearJobGroup()
      }))
    var env: Env = null
    // each repeat from a fresh session; the first one from process start
    val setups = (1 to SetupRepeats).map { rep =>
      val t0 = if (rep == 1) ManagementFactory.getRuntimeMXBean.getStartTime
        else System.currentTimeMillis()
      if (spark != null) spark.stop()
      spark = Env.session(Cores, a.work)
      val layers = if (a.trace) {
        val l = new LayerListener
        spark.sparkContext.addSparkListener(l)
        Some(l)
      } else None
      spark.streams.addListener(progress)
      env = new Env(spark, a.work, a.seed, tracer, checks, progress, layers, jvm,
        a.samples)
      wl.setup(env)
      (System.currentTimeMillis() - t0) / 1000.0
    }
    val e2e = new Metrics
    val layer = new Metrics
    jvm.reset()
    wl.measure(env, a.seconds, e2e, layer)
    e2e("setup_s") = (Stats.median(setups), "s")
    e2e("peak_heap_mb") = (jvm.liveHeapMb, "MB")
    layer("jvm.gc_s") = (jvm.gcSeconds, "s")
    // setup layers: the median over the repeats
    Seq("gen.sample", "gen.thresholds").foreach { n =>
      if (!layer.values.contains(s"${n}_s") && tracer.named(n).nonEmpty)
        layer(s"${n}_s") = (Stats.median(tracer.named(n).map(_.seconds)), "s")
    }
    if (!layer.values.contains("gen.thresholds_shuffle_mb"))
      env.layers.foreach(l =>
        layer("gen.thresholds_shuffle_mb") = (l.group("gen.thresholds").shuffleBytes / 1e6, "MB"))
    SparkSession.getDefaultSession.foreach(_.stop())
    if (a.trace) tracer.write(a.work.resolve("spans.jsonl"))

    checks.failures.foreach(f => println(s"[perfbench] FAILED $f"))
    val errorRate = checks.failed.toDouble / math.max(1L, checks.attempted)
    println(f"[perfbench] ${a.workload} seed ${a.seed}: ${checks.attempted} operations and checks, " +
      f"${checks.failed} failed, error_rate $errorRate%.4f")
    val (wanted, got) = if (a.trace) (PerLayer, layer) else (EndToEnd, e2e)
    val missing = wanted.filterNot { case (n, _) => got.values.contains(n) }
    val metrics = wanted.map { case (n, unit) =>
      val v = got.get(n).getOrElse(0.0)
      val value = if (v.isNaN || v.isInfinite) 0.0 else v
      s""""$n": {"value": $value, "unit": "$unit"}"""
    }
    if (!a.trace && missing.nonEmpty) {
      checks.failed += 1
      println(s"[perfbench] FAILED metrics not measured: ${missing.map(_._1).mkString(", ")}")
    }
    val correct = checks.failed == 0
    println(s"""{"correct": $correct, "attempted": ${math.max(1L, checks.attempted)}, """ +
      s""""failed": ${checks.failed}, "metrics": {${metrics.mkString(", ")}}}""")
  }
}
