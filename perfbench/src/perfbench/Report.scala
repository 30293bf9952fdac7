package perfbench

import graft.measures.Measures

/** Closed loop: runs `once` at least `min` times, and again while
  * another run of the last one's length still fits in `seconds`. */
object Loop {
  def closed(seconds: Double, min: Int = 1)(once: () => Unit): Int = {
    val start = System.nanoTime()
    var runs = 0
    var last = 0.0
    def elapsed = (System.nanoTime() - start) / 1e9
    while (runs < min || elapsed + last <= seconds) {
      val t0 = System.nanoTime()
      once()
      last = (System.nanoTime() - t0) / 1e9
      runs += 1
    }
    runs
  }

  /** A warm-up, a smaller run of the same code that keeps JIT compilation
    * and first-use class loading out of the measured runs (without it a
    * single measured run spread by 14% from one process to the next), then
    * for `seconds`: untraced, at least two runs for the end-to-end metrics,
    * so that a slow stretch of the host does not halve a run's samples and
    * shift the tail percentile it supports; traced, at least two
    * untraced/traced pairs in alternating order, so that the JVM's remaining
    * warm-up does not fall on one side of the tracing-overhead comparison.
    * Failed runs are left out. */
  def measured[T](tracing: Boolean, seconds: Double, warmUp: () => Unit)(
      plain: () => Option[T], traced: () => Option[T]): (Seq[T], Seq[T]) = {
    val u = scala.collection.mutable.ArrayBuffer.empty[T]
    val t = scala.collection.mutable.ArrayBuffer.empty[T]
    warmUp()
    if (!tracing) closed(seconds, min = 2)(() => u ++= plain())
    else {
      var odd = false
      closed(seconds, min = 2) { () =>
        if (odd) { t ++= traced(); u ++= plain() }
        else { u ++= plain(); t ++= traced() }
        odd = !odd
      }
    }
    (u.toSeq, t.toSeq)
  }
}

/** Metric derivations shared by the workloads. */
object Report {
  /** `<prefix>_p50_ms` and `<prefix>_tail_ms`; the tail's percentile and the
    * sample count are printed, since the result line carries values only. */
  def percentiles(e2e: Metrics, prefix: String, ms: Seq[Double]): Unit = {
    val (p, tail) = Stats.tail(ms)
    e2e(s"${prefix}_p50_ms") = (Stats.median(ms), "ms")
    e2e(s"${prefix}_tail_ms") = (tail, "ms")
    println(f"[perfbench] ${prefix}_tail_ms is p${p * 100}%.1f of ${ms.length} samples" +
      (if (ms.length <= 20) ms.map(v => f"$v%.0f").mkString(": ", " ", "") else ""))
  }

  /** Checks the five gated measures' per-asset and portfolio alert rates
    * against the reference run, and reports the SM2 rates ungated. */
  def rates(env: Env, layer: Metrics, counts: Map[(String, Long), Long],
      windowsPerSeries: Long): Unit = {
    val got = Inputs.rates(counts, windowsPerSeries)
    Measures.names.filter(_ != Measures.Sm2).foreach { s =>
      val (a, p) = got(s)
      val (ra, rp) = (Inputs.ReferenceAssetRate(s), Inputs.ReferencePortfolioRate(s))
      env.checks.check(s"$s alert rates near the reference",
        math.abs(a - ra) <= Inputs.RateTolerance &&
          math.abs(p - rp) <= Inputs.RateTolerance,
        f"asset $a%.4f (ref $ra%.4f) portfolio $p%.4f (ref $rp%.4f)")
    }
    val (sa, sp) = got(Measures.Sm2)
    layer("alerts.sm2_asset_rate") = (sa, "1")
    layer("alerts.sm2_portfolio_rate") = (sp, "1")
    println(Measures.names.map { s =>
      f"$s=${got(s)._1}%.4f/${got(s)._2}%.4f"
    }.mkString("[perfbench] alert rates asset/portfolio: ", " ", ""))
  }

  /** Self-time sum against the untraced wall, and the traced run's cost. */
  def traceSummary(layer: Metrics, selfSum: Double, untracedWall: Double,
      tracedWall: Double): Unit = {
    layer("trace.self_sum_ratio") = (selfSum / untracedWall, "ratio")
    layer("trace.overhead_pct") = ((tracedWall / untracedWall - 1) * 100, "%")
  }

  /** Scheduler totals per traced iteration over the given job groups. */
  def sparkTotals(layer: Metrics, l: LayerListener, iters: Double,
      groups: String => Boolean): Unit = {
    val accs = l.allGroups.collect { case (g, a) if groups(g) => a }
    layer("spark.jobs") = (accs.map(_.jobs).sum / iters, "count")
    layer("spark.tasks") = (accs.map(_.tasks).sum / iters, "count")
    layer("spark.task_s") = (accs.map(_.taskMs).sum / 1000.0 / iters, "s")
    layer("spark.sched_delay_s") = (accs.map(_.schedMs).sum / 1000.0 / iters, "s")
  }

  /** Per-micro-batch layer metrics from query progress. */
  def streaming(layer: Metrics, batches: Seq[Batch], fires: Long): Unit = {
    val data = batches.filter(_.rows > 0)
    def med(f: Batch => Double) =
      if (data.isEmpty) 0.0 else Stats.median(data.map(f))
    def d(b: Batch, k: String) = b.durations.getOrElse(k, 0L).toDouble
    val rows = data.map(_.rows).sum
    layer("streaming.batches") = (data.length.toDouble, "count")
    layer("streaming.rows_in") = (rows.toDouble, "count")
    layer("streaming.fires") = (fires.toDouble, "count")
    layer("streaming.fire_ratio") = (if (rows > 0) fires.toDouble / rows else 0.0, "ratio")
    layer("streaming.add_batch_ms") = (med(d(_, "addBatch")), "ms")
    layer("streaming.plan_ms") = (med(d(_, "queryPlanning")), "ms")
    layer("streaming.offsets_ms") =
      (med(b => d(b, "latestOffset") + d(b, "getBatch") + d(b, "walCommit")), "ms")
    layer("streaming.commit_ms") = (med(d(_, "commitOffsets")), "ms")
    layer("streaming.state_rows") =
      ((if (data.isEmpty) 0L else data.map(_.stateRows).max).toDouble, "count")
    layer("streaming.state_mb") =
      ((if (data.isEmpty) 0L else data.map(_.stateBytes).max) / 1e6, "MB")
    layer("streaming.state_updated_rows") = (med(_.stateUpdated.toDouble), "count")
    layer("streaming.state_commit_ms") = (med(_.stateCommitMs.toDouble), "ms")
  }
}
