package perfbench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import java.nio.file.attribute.FileTime

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.gen.Generator
import graft.measures.Measures
import graft.sources.Sources

/** Seeded inputs and the benchmark's own reference computation of the
  * expected alerts. */
object Inputs {
  val Window = 30
  val Shortfall = 0.01
  val Series = 7
  /** Generator chains; fixed so a seed always yields the same samples. */
  val GenPartitions = 4
  /** Malformed lines mixed into every samples CSV, after the R header. */
  val MalformedLines = 20

  /** `n` samples of the six assets (gen.Generator ≙ psd.R), in chain order. */
  def samples(spark: SparkSession, n: Int, seed: Long): Array[Array[Double]] =
    Generator.sample(spark, n, GenPartitions, seed).collect()
      .map(r => Array.tabulate(6)(r.getDouble))

  /** The seven series values of one sample, the portfolio last, with the
    * same operation order as `Sources.toSeries`, so the doubles are equal. */
  def seriesOf(a: Array[Double]): Array[Double] = {
    var overall = a(0) * Sources.Weights(0)
    var i = 1
    while (i < 6) { overall = overall + a(i) * Sources.Weights(i); i += 1 }
    Array(a(0), a(1), a(2), a(3), a(4), a(5), overall)
  }

  private val Garbage = Seq(
    "not,a,number,at,all,here", // six fields, none numeric
    "0.01,0.02,0.03",           // wrong arity
    "0.01,0.02,0.03,0.04,0.05,0.06,0.07",
    "0.01,0.02,x,0.04,0.05,0.06",
    "")

  /** R `write.csv`-style samples file: quoted header, one line per sample,
    * and [[MalformedLines]] bad lines at seeded positions. Doubles are
    * written in Java's round-trip form, so parsing recovers them exactly. */
  def writeSamplesCsv(path: Path, samples: Array[Array[Double]],
      seed: Long): Unit = {
    val rnd = new java.util.Random(seed ^ 0x5eedL)
    val badAt = mutable.Map.empty[Int, Int]
    while (badAt.size < MalformedLines)
      badAt(rnd.nextInt(samples.length)) = rnd.nextInt(Garbage.length)
    val w = writer(path)
    try {
      w.write("\"V1\",\"V2\",\"V3\",\"V4\",\"V5\",\"V6\"\n")
      var i = 0
      while (i < samples.length) {
        badAt.get(i).foreach(g => w.write(Garbage(g) + "\n"))
        w.write(samples(i).mkString(",") + "\n")
        i += 1
      }
    } finally w.close()
  }

  def writer(path: Path): BufferedWriter =
    new BufferedWriter(new OutputStreamWriter(Files.newOutputStream(path), UTF_8),
      1 << 16)

  /** Publishes staged files strictly in order: each gets a modification
    * time above the previous one (the file source orders by it) and then
    * appears in `dir` by one atomic rename, never half written. */
  final class Publisher(dir: Path) {
    private var lastMtime = 0L
    def publish(staged: Path): Unit = {
      val mtime = math.max(System.currentTimeMillis(), lastMtime + 1)
      Files.setLastModifiedTime(staged, FileTime.fromMillis(mtime))
      lastMtime = mtime
      Files.move(staged, dir.resolve(staged.getFileName),
        StandardCopyOption.ATOMIC_MOVE)
    }
  }

  /** Fails loudly unless the files in `dir`, taken in modification-time
    * order as the file source takes them, are in name (= seq) order. */
  def assertPublishedInOrder(dir: Path): Unit = {
    val files = Files.list(dir).toArray.map(_.asInstanceOf[Path])
      .filter(_.getFileName.toString.endsWith(".csv"))
    val byMtime = files.sortBy(f => Files.getLastModifiedTime(f).toMillis)
    val byName = files.sortBy(_.getFileName.toString)
    require(byMtime.map(_.getFileName.toString).toSeq ==
      byName.map(_.getFileName.toString).toSeq &&
      byMtime.map(f => Files.getLastModifiedTime(f).toMillis).distinct.length ==
        files.length,
      s"staged files in $dir are not in strict seq order by modification time")
  }

  /** `stat,assetNo,thr` lines, for the benchmark's own tests. */
  def writeThresholds(path: Path, thr: Map[(String, Long), Double]): Unit = {
    val w = writer(path)
    try thr.toSeq.sorted.foreach { case ((s, k), t) => w.write(s"$s,$k,$t\n") }
    finally w.close()
  }

  // ---- reference computation ------------------------------------------

  /** The six measures of one ascending window, in `Measures.names` order,
    * with the operation order of the Catalyst expressions in
    * `graft.measures.Measures` (left folds over the sorted array). */
  def measures(sorted: Array[Double]): Array[Double] = {
    val n = sorted.length
    var sum = 0.0
    var i = 0
    while (i < n) { sum += sorted(i); i += 1 }
    val mean = sum / n
    val k = n / 10
    var tail = 0.0
    i = 0
    while (i < k) { tail += sorted(i); i += 1 }
    var abs = 0.0
    var g = 0.0
    i = 0
    while (i < n) {
      abs += math.abs(mean - sorted(i))
      g += (2 * (i + 1) - (n + 1)).toDouble * sorted(i)
      i += 1
    }
    Array(mean, (sorted(n / 2 - 1) + sorted(n / 2)) / 2.0, sorted(n / 10),
      tail / k, mean - abs / (2.0 * n), mean - g / (n.toDouble * n))
  }

  def alert(m: Double, thr: Double): Boolean =
    m < thr && (thr - m) / (1.0 + thr) >= Shortfall

  /** Windows and alerts per (stat, key) over keyed series, each in seq order. */
  final case class Expected(windows: Long, alerts: Map[(String, Long), Long])

  /** Expected alerts when series `key` is checked against `thr(stat, key)`. */
  def expected(series: Iterator[(Long, Array[Double])],
      thr: (String, Long) => Double): Expected = {
    val counts = mutable.Map.empty[(String, Long), Long].withDefaultValue(0L)
    var windows = 0L
    val win = new Array[Double](Window)
    series.foreach { case (key, xs) =>
      val thrs = Measures.names.map(s => thr(s, key)).toArray
      var end = Window - 1
      while (end < xs.length) {
        System.arraycopy(xs, end - Window + 1, win, 0, Window)
        java.util.Arrays.sort(win)
        val ms = measures(win)
        var s = 0
        while (s < ms.length) {
          if (alert(ms(s), thrs(s))) counts((Measures.names(s), key)) += 1
          s += 1
        }
        windows += 1
        end += 1
      }
    }
    Expected(windows, counts.toMap)
  }

  /** The paper's seven series as key → values (key = assetNo). */
  def paperSeries(samples: Array[Array[Double]]): Iterator[(Long, Array[Double])] = {
    val series = samples.map(seriesOf)
    Iterator.range(0, Series).map(k => k.toLong -> series.map(_(k)))
  }

  // ---- reference alert rates --------------------------------------------

  /** Per-asset (mean over assets 0-5) and portfolio alert rates per measure
    * recorded by the reference run (postProcessing/countings.txt over
    * 999,971 windows; the same figures as graft.ReferenceParity). */
  val ReferenceAssetRate: Map[String, Double] = Map(
    Measures.Mean -> 0.1720, Measures.Median -> 0.2856, Measures.Q10 -> 0.0768,
    Measures.TailMean -> 0.0019, Measures.Sm1 -> 0.1729, Measures.Sm2 -> 0.0000)
  val ReferencePortfolioRate: Map[String, Double] = Map(
    Measures.Mean -> 0.0112, Measures.Median -> 0.0348, Measures.Q10 -> 0.0423,
    Measures.TailMean -> 0.0696, Measures.Sm1 -> 0.0134, Measures.Sm2 -> 0.0000)
  /** Absolute tolerance on each gated rate. */
  val RateTolerance = 0.05

  /** (asset rate, portfolio rate) per measure from alert counts per (stat, assetNo). */
  def rates(counts: Map[(String, Long), Long], windowsPerSeries: Long)
      : Map[String, (Double, Double)] =
    Measures.names.map { s =>
      val asset = (0L until 6L).map(k => counts.getOrElse((s, k), 0L)).sum
      s -> (asset.toDouble / (6 * windowsPerSeries),
        counts.getOrElse((s, 6L), 0L).toDouble / windowsPerSeries)
    }.toMap
}
