package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Order statistics used for every reported distribution. */
object Stats {
  /** R type-7 quantile (linear interpolation between order statistics). */
  def quantile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = p * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  private val TailLevels = Seq(0.999, 0.99, 0.95, 0.9, 0.8, 0.75)

  /** The highest standard percentile that leaves at least ten samples above
    * it, as (percentile, value). A sample of fewer than 40 supports no tail;
    * it reports its median, since its maximum would be a single run. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val p = TailLevels.find(p => xs.length * (1 - p) >= 10 - 1e-9).getOrElse(0.5)
    (p, quantile(xs, p))
  }
}

/** Operations and output checks of one run; every failure is kept with its
  * reason and printed before the result line. */
final class Checks {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  def check(what: String, ok: Boolean, detail: => String = ""): Boolean = {
    attempted += 1
    if (!ok) { failed += 1; failures += s"$what: $detail" }
    ok
  }

  /** Runs one operation; an exception counts as a failed operation. */
  def op[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Exception =>
        failed += 1
        failures += s"$what threw ${e.getClass.getSimpleName}: ${e.getMessage}"
        None
    }
  }
}

/** In-memory spans around the calls into each layer. Disabled, `span` only
  * runs its body. Enabled, it also tags the Spark jobs started inside with
  * the span name as job group, so [[LayerListener]] can attribute task
  * metrics to the layer. */
final class Tracer(val enabled: Boolean, val traceId: String,
    setGroup: Option[String] => Unit) {
  final case class Span(id: Int, parent: Int, name: String, startMs: Double,
      endMs: Double) {
    def seconds: Double = (endMs - startMs) / 1000.0
  }

  private val originNs = System.nanoTime()
  private val originEpochMs = System.currentTimeMillis()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[(Int, String)]
  private var on = enabled

  def nowMs: Double = (System.nanoTime() - originNs) / 1e6
  def epochToMs(epochMs: Long): Double = (epochMs - originEpochMs).toDouble

  def current: Int = stack.headOption.map(_._1).getOrElse(-1)

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = spans.length
      spans += Span(id, current, name, nowMs, Double.NaN)
      stack = (id, name) :: stack
      setGroup(Some(name))
      try body
      finally {
        stack = stack.tail
        setGroup(stack.headOption.map(_._2))
        spans(id) = spans(id).copy(endMs = nowMs)
      }
    }

  /** Runs `body` without recording spans or tagging jobs. */
  def paused[T](body: => T): T = {
    val was = on
    on = false
    try body finally on = was
  }

  /** Records a span measured elsewhere, e.g. a micro-batch. */
  def add(name: String, parent: Int, startMs: Double, endMs: Double): Unit =
    if (on) spans += Span(spans.length, parent, name, startMs, endMs)

  def all: Seq[Span] = spans.toSeq
  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  def write(path: Path): Unit = {
    val rows = spans.map { s =>
      f"""{"trace":"$traceId","id":${s.id},"parent":${s.parent},"name":"${s.name}","start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f}"""
    }
    Files.write(path, rows.mkString("", "\n", "\n").getBytes(UTF_8))
  }
}

/** Task-level totals per Spark job group, i.e. per traced layer. */
final class LayerListener extends SparkListener {
  final class Acc {
    var jobs = 0L
    var tasks = 0L
    var taskMs = 0L
    var schedMs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    var maxTaskMs = 0L
    val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  }

  private val groups = mutable.Map.empty[String, Acc]
  private val stageGroup = mutable.Map.empty[Int, String]

  private def acc(g: String): Acc = groups.getOrElseUpdate(g, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    acc(g).jobs += 1
    e.stageIds.foreach(stageGroup(_) = g)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = acc(stageGroup.getOrElse(e.stageId, ""))
    val info = e.taskInfo
    val m = e.taskMetrics
    val dur = info.finishTime - info.launchTime
    a.tasks += 1
    a.maxTaskMs = math.max(a.maxTaskMs, dur)
    a.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += dur
    if (m != null) {
      a.taskMs += m.executorRunTime
      // the Spark UI's scheduler delay: wall time of the task not spent
      // deserializing, running or serializing its result
      a.schedMs += math.max(0L, dur - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime)
      a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def group(g: String): Acc = synchronized(groups.getOrElse(g, new Acc))
  def allGroups: Map[String, Acc] = synchronized(groups.toMap)

  /** max/mean task time of the group's heaviest stage (1.0 = no skew). */
  def skew(g: String): Double = synchronized {
    groups.get(g).flatMap { a =>
      a.stageTaskMs.values.filter(_.nonEmpty).maxByOption(_.sum)
    }.map { ts =>
      val mean = ts.sum.toDouble / ts.length
      if (mean > 0) ts.max / mean else 1.0
    }.getOrElse(0.0)
  }
}

/** Every micro-batch progress of every query. `recentProgress` keeps only
  * the last 100, too few for a catch-up run, so progress is collected here. */
final class ProgressListener extends StreamingQueryListener {
  private val events = new ConcurrentLinkedQueue[StreamingQueryProgress]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    events.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  /** Progress of one query run, in batch order. */
  def of(runId: java.util.UUID): Seq[StreamingQueryProgress] =
    events.asScala.filter(_.runId == runId).toSeq.sortBy(_.batchId)
}

/** One micro-batch as the benchmark uses it. */
final case class Batch(id: Long, startEpochMs: Long, rows: Long,
    durations: Map[String, Long], stateRows: Long, stateBytes: Long,
    stateUpdated: Long, stateCommitMs: Long, observed: Map[String, Long]) {
  def triggerMs: Long = durations.getOrElse("triggerExecution", 0L)
  def endEpochMs: Long = startEpochMs + triggerMs
}

object Batch {
  def from(p: StreamingQueryProgress): Batch = {
    val st = p.stateOperators.toSeq
    val observed = p.observedMetrics.asScala.toMap.flatMap { case (k, row) =>
      if (row == null || row.length == 0 || row.isNullAt(0)) None
      else Some(k -> row.getLong(0))
    }
    Batch(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli,
      p.numInputRows,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      st.map(_.numRowsTotal).sum, st.map(_.memoryUsedBytes).sum,
      st.map(_.numRowsUpdated).sum, st.map(_.commitTimeMs).sum, observed)
  }
}

/** GC time, and the live heap at one fixed point of a run: right after its
  * first measured unit. Young collections leave whatever old garbage is not
  * yet collected, so their after-GC occupancy varies from run to run; a full
  * collection forced at the same point of every run leaves only what the
  * program still holds. Later units are not sampled: what Spark retains
  * grows with the number of units a run fits, which varies with the host's
  * speed. */
final class JvmStats {
  private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private var live = 0L
  private var gcMs0 = 0L

  private def gcTotalMs: Long = beans.map(_.getCollectionTime).filter(_ > 0).sum

  /** Starts a measured window. */
  def reset(): Unit = { live = 0L; gcMs0 = gcTotalMs }

  def gcSeconds: Double = (gcTotalMs - gcMs0) / 1000.0

  /** At the first call of the window, forces a full collection and records
    * the live heap it leaves. The second collection also takes what Spark's
    * context cleaner released after the first (blocks of broadcasts and
    * shuffles gone unreachable). */
  def sample(): Unit = if (live == 0L) {
    System.gc()
    Thread.sleep(200)
    System.gc()
    live = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }

  /** The live heap sampled in the window, in MiB. */
  def liveHeapMb: Double = live / (1024.0 * 1024.0)
}

/** Named metric values of one run, in print order. */
final class Metrics {
  val values = mutable.LinkedHashMap.empty[String, (Double, String)]
  def update(name: String, valueAndUnit: (Double, String)): Unit =
    values(name) = valueAndUnit
  def get(name: String): Option[Double] = values.get(name).map(_._1)
}
