package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

/** What a workload sees of the run: the session with the benchmark's
  * listeners installed, a private work directory, the seed and the
  * recorders. */
final class Env(val spark: SparkSession, val work: Path, val seed: Long,
    val tracer: Tracer, val checks: Checks, val progress: ProgressListener,
    val layers: Option[LayerListener], val jvm: JvmStats,
    val samplesOverride: Option[Int]) {

  /** A fresh empty directory under the work directory. */
  def dir(name: String): Path = {
    val d = work.resolve(name)
    Env.deleteTree(d)
    Files.createDirectories(d)
  }

  /** Waits for all listener events posted so far. */
  def drainEvents(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
}

object Env {
  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      finally s.close()
    }

  def sizeBytes(p: Path): Long = {
    val s = Files.walk(p)
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
    finally s.close()
  }
}

/** One benchmark workload. `setup` builds the inputs and is repeated, each
  * time in a fresh session; `measure` then runs for about `seconds`. */
trait Workload {
  def setup(env: Env): Unit
  def measure(env: Env, seconds: Double, e2e: Metrics, layer: Metrics): Unit
}
