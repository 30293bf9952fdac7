package graft.measures

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The six window statistics of the reference engine, as pure Catalyst
  * column expressions over a SORTED window array (`sort_array(collect_list)`)
  * — no UDFs, fully codegen-friendly, shared byte-for-byte between the batch
  * and the threshold paths.
  *
  * Reference semantics (lapankrz/PSD-Project,
  * streamProcessing/psd/src/main/java/psd/StreamingJob.java):
  *  - mean:     StreamingJob.java:202-210
  *  - median:   (sorted[n/2-1] + sorted[n/2]) / 2 — StreamingJob.java:189
  *  - q10:      sorted[n/10] zero-based = 4th smallest of 30 —
  *              StreamingJob.java:190 (SURVEY §2.5 Q3: window-side order
  *              statistic, NOT R type-7 interpolation)
  *  - tailMean: mean of the n/10 smallest — StreamingJob.java:191-196
  *  - sm1:      mean − Σ|mean − x| / (2n) — StreamingJob.java:212-221
  *  - sm2:      mean − ΣⱼΣₖ|xⱼ − xₖ| / (2n²) — StreamingJob.java:223-234
  *              (denominator 2n² including j=k zero terms, SURVEY §2.5 Q5),
  *              computed here with the sorted-array identity
  *                ΣⱼΣₖ|xⱼ−xₖ| = 2·Σᵢ (2i − n − 1)·sᵢ   (i 1-based, s sorted)
  *              at O(n) over the sorted array instead of O(n²).
  *
  * All six derive from ONE sorted array per window, so a full 6-measure
  * evaluation costs a single O(n log n) sort per window — this is what makes
  * the plan scale: per-key windows shard by key, and each window's work is
  * bounded by its frame, never by the table.
  *
  * These are building blocks: `AlertPipeline.withMeasures` is the one place
  * that assembles them into the batch measure table (the streaming operator
  * evaluates the same formulas through `MeasuresRef.allFast`).
  */
object Measures {
  val Mean = "mean"
  val Median = "median"
  val Q10 = "10th quantile"
  val TailMean = "mean of 10% smallest"
  val Sm1 = "security measure 1"
  val Sm2 = "security measure 2"
  /** Fixed measure order of the reference (psd.R:28-68 / stats.csv rows). */
  val names: Seq[String] = Seq(Mean, Median, Q10, TailMean, Sm1, Sm2)

  /** Arithmetic mean, folded left-to-right over the sorted array (the DuckDB
    * oracle folds the same order → matching sums to the ulp). */
  def mean(xs: Column, n: Int): Column =
    aggregate(xs, lit(0.0), (acc, x) => acc + x) / n

  def median(xs: Column, n: Int): Column =
    (element_at(xs, n / 2) + element_at(xs, n / 2 + 1)) / 2.0

  def q10(xs: Column, n: Int): Column = element_at(xs, n / 10 + 1)

  def tailMean(xs: Column, n: Int): Column = {
    val k = n / 10
    aggregate(slice(xs, 1, k), lit(0.0), (acc, x) => acc + x) / k
  }

  /** sm1 with the window mean supplied as a (pre-materialized) column —
    * inlining `mean(xs)` into the per-element lambda would re-evaluate the
    * whole fold for every element (O(n²) per window), so the only caller,
    * `AlertPipeline.withMeasures`, projects the mean first. */
  def sm1From(m: Column, xs: Column, n: Int): Column =
    m - aggregate(transform(xs, x => abs(m - x)), lit(0.0), (a, x) => a + x) /
      (2.0 * n)

  /** Gini-mean-difference risk measure; `gsum = Σᵢ(2i−n−1)sᵢ` equals half the
    * full ordered-pair sum, so the reference's `pairSum/(2n²)` is `gsum/n²`.
    * Takes the window mean as a column for the same reason as [[sm1From]]. */
  def sm2From(m: Column, xs: Column, n: Int): Column = {
    val gsum = aggregate(
      transform(xs, (x, i) => (lit(2) * (i + lit(1)) - lit(n + 1)).cast("double") * x),
      lit(0.0), (a, x) => a + x)
    m - gsum / (n.toDouble * n)
  }

  /** Reference alert predicate (StreamingJob.java:369-386): alert iff the
    * window measure `m` falls below threshold `thr` by at least a 1% relative
    * shortfall: `m < thr && (thr − m)/(1 + thr) ≥ shortfall`. */
  def alertPredicate(m: Column, thr: Column, shortfall: Double = 0.01): Column =
    m < thr && (thr - m) / (lit(1.0) + thr) >= shortfall
}
