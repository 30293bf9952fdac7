package graft.measures

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.pipeline.AlertPipeline

class MeasuresSpec extends AnyFunSuite with SparkTestBase {

  private val N = 30

  /** Evaluate all six engine measures through the batch assembler
    * (`AlertPipeline.withMeasures`) over a frame holding one window. */
  private def engineAll(xs: Array[Double]): Seq[(String, Double)] = {
    import spark.implicits._
    val window = Seq((0L, xs.sorted.toSeq)).toDF("key", "xs")
    val row = AlertPipeline.withMeasures(window, Seq(col("key")), N).head()
    Measures.names.zipWithIndex.map { case (n, i) => n -> row.getDouble(i + 1) }
  }

  test("hand-computed fixture: 30 ascending integers") {
    // xs = 1..30: mean 15.5, median (15+16)/2, q10 = 4th smallest = 4,
    // tail = (1+2+3)/3 = 2
    val xs = (1 to 30).map(_.toDouble).toArray
    val got = engineAll(xs).toMap
    assert(got(Measures.Mean) === 15.5)
    assert(got(Measures.Median) === 15.5)
    assert(got(Measures.Q10) === 4.0)
    assert(got(Measures.TailMean) === 2.0)
    // sm1 = mean - sum|mean-x|/(2n); sum|15.5-x| over 1..30 = 2*(0.5+..+14.5)=225
    assert(math.abs(got(Measures.Sm1) - (15.5 - 225.0 / 60.0)) < 1e-12)
    // sm2 vs literal O(n^2) reference formula
    assert(math.abs(got(Measures.Sm2) - MeasuresRef.sm2(xs)) < 1e-9)
  }

  test("property: engine expressions equal the plain-Scala reference on random windows") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 25) {
      val scale = if (trial % 2 == 0) 0.1 else 100.0
      val xs = Array.fill(N)((rnd.nextDouble() * 2 - 1) * scale)
      val exp = MeasuresRef.all(xs).toMap
      val got = engineAll(xs).toMap
      for (name <- Measures.names) {
        assert(math.abs(got(name) - exp(name)) < 1e-9,
          s"trial $trial measure $name: got ${got(name)} expected ${exp(name)}")
      }
    }
  }

  test("measure invariants: q10 <= median, tailMean <= q10's neighborhood, sm <= mean") {
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 10) {
      val xs = Array.fill(N)(rnd.nextDouble() * 10 - 5)
      val m = MeasuresRef.all(xs).toMap
      assert(m(Measures.Q10) <= m(Measures.Median))
      assert(m(Measures.TailMean) <= m(Measures.Q10))
      assert(m(Measures.Sm1) <= m(Measures.Mean))
      assert(m(Measures.Sm2) <= m(Measures.Mean))
    }
  }

  test("alert predicate boundaries (SURVEY §2.5 Q6)") {
    // m == thr: no alert (strict <)
    assert(!MeasuresRef.alert(0.05, 0.05))
    // shortfall exactly 0.01: alert (>= inclusive)
    val thr = 0.05
    val mExact = thr - 0.01 * (1 + thr)
    assert(MeasuresRef.alert(mExact, thr))
    // just under the shortfall: no alert
    assert(!MeasuresRef.alert(mExact + 1e-9, thr))
  }

  test("engine alert predicate column matches scala predicate") {
    import spark.implicits._
    val cases = Seq((0.05, 0.05), (0.0395, 0.05), (0.0396, 0.05), (-0.02, 0.01))
    val df = cases.toDF("m", "thr")
      .select(col("m"), col("thr"),
        Measures.alertPredicate(col("m"), col("thr")).as("alert"))
    df.collect().foreach { r =>
      assert(r.getBoolean(2) === MeasuresRef.alert(r.getDouble(0), r.getDouble(1)))
    }
  }
}
