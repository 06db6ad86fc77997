package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins BOTH directions of every Bench spike-guard path (r13 verdict
  * #4): the ml04 iter-median guard (r12 verdict #3) demonstrably
  * suppressed a spurious retry in the r13 driver bench, but only the
  * suppression direction had live evidence — a real per-iteration
  * regression tripping, the telemetry-missing fallback (r13 ADVICE
  * #1), the telemetry keying, and the :cold memo-pin exemption (r13
  * verdict #3) are all asserted here instead of waiting for a live
  * event. r15 additions: the decision returns the EFFECTIVE pin it
  * used (r14 ADVICE #4), ml06 joins the iter-median keying (r14
  * verdict #3), and `pinsActive = false` — the off-calibration-dir
  * audit mode — disables every pin-based retry (r14 verdict #2).
  * [[Bench.spikeDecision]] is pure, so these are plain unit cases. */
class BenchGuardSpec extends AnyFunSuite {
  private val ml04 = "ml04_lda_em_train"
  private val ml04Pins = Map(ml04 -> 29.0, s"$ml04:iter_median" -> 0.618)

  test("ml04 wall spread does not trip while the iteration median is healthy") {
    // the r13 driver artifact's exact shape: 82.4 s wall (2.8x the wall
    // pin) from 4 GC-stall outlier iterations around a 1.21x median
    assert(Bench.spikeDecision(ml04, 82.4, 1, ml04Pins,
      Some(Seq.fill(46)(0.748) ++ Seq(22.9, 7.5, 5.8, 2.7))).isEmpty)
  }

  test("a real 1.5x per-iteration regression still trips, reporting the iter pin") {
    // the effective pin in the trip is the ITER pin, not the wall pin
    // (r14 ADVICE #4: the retry log printed the wrong reference)
    assert(Bench.spikeDecision(ml04, 50.0, 1, ml04Pins,
      Some(Seq.fill(50)(1.2))) == Some(0.618))
  }

  test("missing iteration telemetry falls back to the wall pin, not immunity") {
    // r13 ADVICE #1: a broken reflective accessor returning None must
    // not silently disable ALL spike protection for ml04
    assert(Bench.spikeDecision(ml04, 82.4, 1, ml04Pins, None) == Some(29.0))
    assert(Bench.spikeDecision(ml04, 30.0, 1, ml04Pins, None).isEmpty)
  }

  test("an iter_median pin on an unkeyed query never reads iteration telemetry") {
    // r13 ADVICE #1: the telemetry is keyed (Bench.iterPriced) — a
    // future query pinned on iter_times must not be judged against
    // telemetry that isn't its own; the wall pin applies instead
    val pins = Map("other_q" -> 1.0, "other_q:iter_median" -> 0.5)
    assert(Bench.spikeDecision("other_q", 10.0, 1, pins,
      Some(Seq.fill(50)(0.5))) == Some(1.0))
  }

  test("ml06 is keyed for the iter-median guard like ml04 (r14 verdict #3)") {
    val ml06 = "ml06_lda_online_train"
    assert(Bench.iterPriced(ml06) && Bench.iterPriced(ml04))
    val pins = Map(ml06 -> 6.0, s"$ml06:iter_median" -> 0.10)
    // the r14 driver shape: 60.9 s wall on a healthy per-iteration
    // median (a few stalled iterations) — suppressed
    assert(Bench.spikeDecision(ml06, 60.9, 1, pins,
      Some(Seq.fill(46)(0.11) ++ Seq(20.0, 15.0, 10.0, 9.0))).isEmpty)
    // a real per-iteration regression trips on the iter pin
    assert(Bench.spikeDecision(ml06, 12.0, 1, pins,
      Some(Seq.fill(50)(0.2))) == Some(0.10))
    // telemetry missing -> wall-pin fallback
    assert(Bench.spikeDecision(ml06, 12.0, 1, pins, None) == Some(6.0))
  }

  test(":cold pin exempts a memoized query's first run only") {
    // r13 verdict #3: dd16/ss15/mm07 pin memo-warm minima, so a fresh
    // JVM's cold first sample tripped the guard by construction
    val pins = Map("dd16_incremental_band_index" -> 0.45,
      "dd16_incremental_band_index:cold" -> 3.0)
    // the observed cold first run: under the cold pin, no retry
    assert(Bench.spikeDecision("dd16_incremental_band_index", 2.9, 1, pins, None).isEmpty)
    // the same time on a WARM sample (runs 2) is a real regression
    assert(Bench.spikeDecision("dd16_incremental_band_index", 2.9, 2, pins, None) == Some(0.45))
    // a genuinely spiked cold run still trips past the cold pin — and
    // the effective pin reported is the COLD pin (r14 ADVICE #4: the
    // log used to print the warm pin, or 0.00 with only a :cold key)
    assert(Bench.spikeDecision("dd16_incremental_band_index", 5.0, 1, pins, None) == Some(3.0))
    // a query with ONLY a :cold pin reports that pin, not 0.0
    val coldOnly = Map("q_memo:cold" -> 2.0)
    assert(Bench.spikeDecision("q_memo", 9.0, 1, coldOnly, None) == Some(2.0))
  }

  test("without a :cold pin the universal wall rule is unchanged") {
    val pins = Map("q01_pricing_summary" -> 1.0)
    assert(Bench.spikeDecision("q01_pricing_summary", 1.7, 1, pins, None).isDefined)
    assert(Bench.spikeDecision("q01_pricing_summary", 1.4, 1, pins, None).isEmpty)
    // unpinned queries never trip (universal pinning is the generator's
    // declared-coverage gate's job, not the runtime's)
    assert(Bench.spikeDecision("unpinned", 99.0, 1, Map.empty, None).isEmpty)
  }

  test("iter-telemetry queries are PRICED into the headline at median-iter x n (r16 verdict #1a)") {
    // the r16 driver shape: 518 s wall, median iter 0.99 s over 50
    // iterations with 4 contention stalls — the headline contribution
    // must collapse to ~median x n + non-iter overhead, not 518
    val iters = Seq.fill(46)(0.99) ++ Seq(32.0, 44.0, 163.0, 155.0)
    val p = Bench.pricedValue(ml04, 450.0, Some(iters))
    val expectedPriced = 0.99 * 50 + (450.0 - iters.sum)
    assert(math.abs(p - expectedPriced) < 1e-9 && p < 100.0)
    // clean pass: Σiters ≈ wall, median x n + overhead ≥ wall → capped
    // at the measured best, the headline is unchanged (pricing removes
    // contention, never claims unmeasured speed)
    val clean = Seq.fill(50)(0.62)
    assert(math.abs(Bench.pricedValue(ml04, 34.0, Some(clean)) - 34.0) < 1e-9)
    // missing/empty telemetry → wall passes through
    assert(Bench.pricedValue(ml04, 518.0, None) == 518.0)
    assert(Bench.pricedValue(ml04, 518.0, Some(Seq.empty)) == 518.0)
    // unkeyed queries are never priced, even with telemetry present
    assert(Bench.pricedValue("q01_pricing_summary", 518.0, Some(iters)) == 518.0)
  }

  test("contended flag trips on a broad over-pin census, not a localized regression (r16 verdict #1c)") {
    // the r14/r16 driver shape: 91/179 over pin → contended
    assert(Bench.contendedFlag(91, 179, pinsActive = true))
    // a real regression localizes: 6 queries over pin in a 179-surface
    // pass is a code signal, not box noise
    assert(!Bench.contendedFlag(6, 179, pinsActive = true))
    // both legs required: 10 absolute AND 10% of surface
    assert(!Bench.contendedFlag(12, 179, pinsActive = true))  // <10%
    assert(!Bench.contendedFlag(5, 20, pinsActive = true))    // <10 abs
    assert(Bench.contendedFlag(18, 179, pinsActive = true))
    // off-calibration-dir audits have no pins → never contended
    assert(!Bench.contendedFlag(91, 179, pinsActive = false))
  }

  test("one-time build stages are priced out of a cold-only minimum (r17 verdict #2)") {
    val q39 = "q39_bucketed_join"
    val stages = Some(Seq("build_bucketed_orders" -> 2.5,
      "build_bucketed_lineitem" -> 6.3))
    // both build queries are keyed; ml03's per-invocation stats passes
    // are deliberately NOT (they run every time — nothing one-time to
    // remove)
    assert(Bench.buildPriced(q39) &&
      Bench.buildPriced("q70_zorder_clustering") &&
      !Bench.buildPriced("ml03_lda_model_stats"))
    // the r17 contended-pass shape: a single cold 9.1 s sample carrying
    // a 8.8 s build vs a 0.33 s query pin — priced at the remainder
    assert(math.abs(Bench.buildPricedValue(q39, 9.1, 9.1, stages) - 0.3) < 1e-9)
    // clean pass: a warm run holds the minimum (best < first) → the
    // build is already excluded, pricing must not touch it
    assert(Bench.buildPricedValue(q39, 9.1, 0.33, stages) == 0.33)
    // floor at 0: stages can't price a sample negative
    assert(Bench.buildPricedValue(q39, 5.0, 5.0,
      Some(Seq("a" -> 9.0))) == 0.0)
    // missing/empty telemetry → wall passes through
    assert(Bench.buildPricedValue(q39, 9.1, 9.1, None) == 9.1)
    assert(Bench.buildPricedValue(q39, 9.1, 9.1, Some(Seq.empty)) == 9.1)
    // unkeyed queries are never priced, even with telemetry present
    assert(Bench.buildPricedValue("q01_pricing_summary", 9.1, 9.1, stages) == 9.1)
  }

  test("salvage gate runs only on an observed-quiet box (r17 verdict #1)") {
    // zero steal over the ~1 s probe → the attempt may run
    assert(Bench.salvageGate(0L))
    // ANY positive steal → skip (a sample taken under visible steal
    // cannot confirm a pin; it burns the bounded budget blind)
    assert(!Bench.salvageGate(1L))
    assert(!Bench.salvageGate(250L))
    // /proc/stat unavailable (delta sentinel -1) → run: absence of the
    // counter is not evidence of contention
    assert(Bench.salvageGate(-1L))
  }

  test("salvage order is cheapest-pin-first with a deterministic tiebreak") {
    val cands = Seq("ml04_lda_em_train" -> 29.0, "q22_x" -> 0.11,
      "dd05_y" -> 0.11, "st14_z" -> 3.7)
    assert(Bench.salvagePlan(cands).map(_._1) ==
      Seq("dd05_y", "q22_x", "st14_z", "ml04_lda_em_train"))
    assert(Bench.salvagePlan(Seq.empty).isEmpty)
  }

  test("pinsActive=false disables every pin-based retry (off-dir audits)") {
    // r14 verdict #2: the >=10x audits compared first runs against
    // sf0.1-calibrated pins — structurally futile retries (~138 s per
    // sf1 pass) and a permanently true budget_exhausted stamp. When the
    // bench dir is not the pin file's _pin_dir, no pin may trip:
    // neither the wall rule ...
    val pins = Map("q01_pricing_summary" -> 1.0)
    assert(Bench.spikeDecision("q01_pricing_summary", 99.0, 1, pins, None,
      pinsActive = false).isEmpty)
    // ... nor the iter-median rule
    assert(Bench.spikeDecision(ml04, 999.0, 1, ml04Pins,
      Some(Seq.fill(50)(9.9)), pinsActive = false).isEmpty)
    // and pinsActive=true (the default) keeps both live
    assert(Bench.spikeDecision("q01_pricing_summary", 99.0, 1, pins, None).isDefined)
  }

  test("a failed run never becomes a query's best, however fast it failed") {
    val p = obs.QueryProfile(Nil, Nil)
    val best = Bench.Sample(5.0, p)
    // a run that throws early is fast for the wrong reason: folding its
    // elapsed time would publish a 0.1 s minimum for a 5 s query
    assert(Bench.foldBest(best, None) eq best)
    // a slower success leaves best; a tie keeps the earlier run
    assert(Bench.foldBest(best, Some(Bench.Sample(6.0, p))) eq best)
    assert(Bench.foldBest(best, Some(Bench.Sample(5.0, p))) eq best)
    // a faster success replaces it
    val faster = Bench.Sample(4.0, p)
    assert(Bench.foldBest(best, Some(faster)) eq faster)
  }

  test("SPARK_GRAFT_BENCH_REPS must be a positive integer") {
    val knob = "SPARK_GRAFT_BENCH_REPS"
    def reps(v: String) = GraftSession.positiveInt(knob, 3, Map(knob -> v))
    assert(GraftSession.positiveInt(knob, 3, Map.empty) == 3)
    assert(reps(" 2 ") == 2)
    for (bad <- Seq("0", "-1", "x")) {
      val e = intercept[IllegalArgumentException](reps(bad))
      assert(e.getMessage.contains(knob) && e.getMessage.contains(s"'$bad'"), e.getMessage)
    }
  }

  test("the iteration series reads EM's recorded times or the online fit's job walls") {
    val em = obs.QueryProfile(Seq("em_iteration" -> 0.5, "em_iteration" -> 0.4), Nil)
    assert(Bench.iterTimes(em) == Some(Seq(0.5, 0.4)))
    val online = obs.QueryProfile(Seq("online_fit" -> 3.0),
      Seq("online_fit" -> 0.02, "other" -> 9.0, "online_fit" -> 0.03))
    assert(Bench.iterTimes(online) == Some(Seq(0.02, 0.03)))
    // an online fit on the driver records its iterations like EM
    val onDriver = obs.QueryProfile(
      Seq("online_iteration" -> 0.004, "other" -> 9.0, "online_iteration" -> 0.002), Nil)
    assert(Bench.iterTimes(onDriver) == Some(Seq(0.004, 0.002)))
    // no series: the spike decision falls back to the wall pin
    assert(Bench.iterTimes(obs.QueryProfile(Seq("corpus_count" -> 1.0), Nil)).isEmpty)
  }
}
