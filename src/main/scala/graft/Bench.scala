package graft
import graft.obs.QueryProfile
import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal
object Bench {
  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** One successful timed run: its wall and the profile captured
    * around it. */
  private[graft] final case class Sample(secs: Double, profile: QueryProfile)

  /** The best sample after one more run. A failed run (None) never
    * becomes best, however fast it failed; a tie keeps the earlier run. */
  private[graft] def foldBest(best: Sample, run: Option[Sample]): Sample =
    run.filter(_.secs < best.secs).getOrElse(best)

  /** Queries judged and priced on their iteration series: only a query
    * named here may have its `<name>:iter_median` pin judged on
    * iteration times (r13 ADVICE #1 — BenchGuardSpec pins that a
    * foreign query's :iter_median pin never reads another query's
    * telemetry). ml06 joined in r15 (r14 verdict #3: online LDA had no
    * decomposing telemetry). */
  private[graft] val iterPriced = Set("ml04_lda_em_train", "ml06_lda_online_train")

  /** A run's iteration series: ml04's recorded EM iteration times, or
    * ml06's online iteration times (recorded by a driver-side fit under
    * `LdaPipeline.DriverFitCap`, the walls of the online-fit jobs above
    * it); None when the run has none. */
  private[graft] def iterTimes(p: QueryProfile): Option[Seq[Double]] =
    Some(p.walls(operators.MlQueries.EmIteration) ++ p.walls(ml.LdaPipeline.OnlineIteration) ++
      p.jobWalls(ml.LdaPipeline.OnlineFit)).filter(_.nonEmpty)

  /** The per-query spike decision, extracted pure so BenchGuardSpec can
    * pin BOTH directions of every guard instead of waiting for a live
    * regression (r13 verdict #4). Returns the EFFECTIVE pin the query
    * tripped against (r14 ADVICE #4: the retry log printed the raw wall
    * pin even when the decision used a :cold or :iter_median pin), or
    * None when no retry is due.
    *
    * - `pinsActive = false` disables every pin-based decision (r14
    *   verdict #2): pins are calibrated at the dir stamped in
    *   BENCH_EXPECT.json's `_pin_dir`, and judging a ≥10× audit's first
    *   runs against sf0.1 pins burned ~138 s of structurally futile
    *   heavy retries per sf1 pass while stamping budget_exhausted=true.
    * - A `<name>:iter_median` pin judges the query on the MEDIAN of its
    *   most recent fit's iteration times instead of wall time — wall
    *   spread can't trigger spurious heavy retries, a real 1.5×
    *   per-iteration regression still trips (floor 0.02 s,
    *   per-iteration scale). Only [[iterPriced]] queries are judged
    *   this way, and when the series is absent (the run recorded
    *   none) the decision FALLS BACK to the wall pin instead of
    *   silently granting blanket immunity (r13 ADVICE #1).
    * - A `<name>:cold` pin exempts the first run of a memoized query
    *   (r13 verdict #3): dd16/ss15/mm07 pin their memo-warm minima, so
    *   every fresh JVM's first sample exceeded 1.5× pin BY CONSTRUCTION
    *   and burned heavy retries. While only the cold sample exists
    *   (runsSoFar == 1) the effective pin is max(wall, cold); from the
    *   second run on, the warm wall pin applies unchanged. */
  private[graft] def spikeDecision(
      name: String, bestSoFar: Double, runsSoFar: Int,
      expected: Map[String, Double],
      iterTimes: Option[Seq[Double]],
      pinsActive: Boolean = true): Option[Double] = {
    if (!pinsActive) return None
    val iterPin = expected.get(name + ":iter_median")
    val iterMed =
      if (iterPriced(name)) iterTimes.map(median) else None
    (iterPin, iterMed) match {
      case (Some(expMed), Some(m)) =>
        if (m > 1.5 * expMed && m - expMed > 0.02) Some(expMed) else None
      case _ =>
        val wall = expected.get(name)
        val pin: Option[Double] =
          if (runsSoFar == 1)
            List(wall, expected.get(name + ":cold")).flatten match {
              case Nil => None
              case ps  => Some(ps.max)
            }
          else wall
        pin.filter(exp => bestSoFar > 1.5 * exp && bestSoFar - exp > 0.5)
    }
  }

  /** De-noised headline contribution of one query (r16 verdict #1a):
    * the spike guard already JUDGES iter-telemetry queries on the
    * median of their per-iteration times, but the headline `value`
    * still summed ml04's raw wall — r16's artifact carried a 518 s
    * ml04 sample whose own telemetry showed a healthy 0.99 s/iter
    * median (4 of 50 iterations stalled at 32/44/163/155 s under box
    * contention). Price the iteration portion at median × n and keep
    * the non-iteration overhead (setup, inference, report) as
    * max(0, best − Σiters). Pricing can only REMOVE contention: the
    * result is capped at the measured best, so a clean run's headline
    * is unchanged and a priced value never claims speed that wasn't
    * measured. Only [[iterPriced]] queries are priced. */
  private[graft] def pricedValue(name: String, best: Double,
      iterTimes: Option[Seq[Double]]): Double =
    if (!iterPriced(name)) best
    else iterTimes.filter(_.nonEmpty).fold(best) { ts =>
      math.min(best, median(ts) * ts.size + math.max(0.0, best - ts.sum))
    }

  /** Queries with a one-time build priced out of a cold-only minimum
    * (r17 verdict #2): q39 (bucketed CTAS × 2) and q70 (z-order layout
    * write) build a layout inside their first timed run, each stage a
    * phase of that run's profile. ml03's stats phases stay out — they
    * run on every cold invocation, they are not one-time builds. */
  private[graft] val buildPriced = Set("q39_bucketed_join", "q70_zorder_clustering")

  /** Price a one-time build stage out of a cold-only sample (r17
    * verdict #2 — pricedValue's discipline extended to build stages):
    * when a build query's minimum across runs is STILL its cold,
    * build-inclusive first run (single sample under a drained repeat
    * budget, or warm repeats all contended), the headline would carry
    * the build; its steady-state cost is the remainder of the cold wall
    * after the first run's phases. Pricing can only REMOVE the
    * build: the result is capped at the measured best (a warm-min clean
    * pass is unchanged because best < first already excludes the build)
    * and floored at 0. Substitutions are published in `priced`. */
  private[graft] def buildPricedValue(name: String, first: Double,
      best: Double, stages: Option[Seq[(String, Double)]]): Double =
    if (!buildPriced(name) || best < first) best
    else stages.filter(_.nonEmpty).fold(best) { ts =>
      math.min(best, math.max(0.0, best - ts.map(_._2).sum))
    }

  /** Salvage gate (r17 verdict #1): a salvage attempt may run only when
    * the immediately-preceding ~1 s probe observed zero hypervisor
    * steal — measuring under visible steal cannot confirm a pin and
    * burns the bounded salvage budget blind (exactly how the in-loop
    * retries spent theirs on the r14/r16/r17 contended passes). A
    * negative delta means /proc/stat is unavailable: run — absence of
    * the counter is not evidence of contention. */
  private[graft] def salvageGate(stealDelta: Long): Boolean = stealDelta <= 0L

  /** Salvage order (r17 verdict #1): cheapest effective pin first — the
    * bounded budget then confirms the most pins per second spent, and
    * the heavy trainings (whose pins are iter-median-guarded anyway)
    * cannot starve fifty sub-second confirmations. Name tiebreak keeps
    * the order deterministic. */
  private[graft] def salvagePlan(
      candidates: Seq[(String, Double)]): Seq[(String, Double)] =
    candidates.sortBy { case (n, pin) => (pin, n) }

  /** Pass-level contention verdict (r16 verdict #1c): when a large
    * slice of the surface exceeds 1.5× its pin in ONE pass, the cause
    * is the box, not the code (r14: 91 and r16: 91 of 179 queries over
    * pin across families the round's diff never touched). The flag
    * makes that adjudication machine-readable in the artifact instead
    * of requiring cross-round forensics. Threshold: ≥10 queries AND
    * ≥10% of the selected surface — a real regression localizes to a
    * family (single-digit query counts), contention does not. Pins
    * disabled (off-calibration-dir audit) ⇒ never contended. */
  private[graft] def contendedFlag(overPin: Int, nSelected: Int,
      pinsActive: Boolean): Boolean =
    pinsActive && overPin >= 10 && overPin * 10 >= nSelected

  /** 1-minute loadavg, or -1 when /proc is unavailable. */
  private def loadavg(): Double =
    try new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg")),
      java.nio.charset.StandardCharsets.UTF_8).split("\\s+")(0).toDouble
    catch { case NonFatal(_) => -1.0 }

  /** Cumulative steal jiffies from /proc/stat's aggregate cpu line
    * (field 8), or -1 when absent. Steal is the direct signature of a
    * contended virtualized box: guest-runnable time the hypervisor
    * gave to someone else. */
  private def stealJiffies(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("cpu "))
        .map(_.trim.split("\\s+")).filter(_.length > 8).map(_(8).toLong)
        .getOrElse(-1L)
      finally src.close()
    } catch { case NonFatal(_) => -1L }

  /** Run one query's action for Bench or Verify. An ordinary failure is
    * printed as `[tag] name verb: message` and returns false, so the
    * caller records it and moves on; a fatal JVM error (OOM, stack
    * overflow) propagates, since timing on in a damaged JVM would only
    * record garbage. */
  private[graft] def guarded(tag: String, name: String, verb: String)(
      action: => Unit): Boolean =
    try { action; true }
    catch { case NonFatal(e) =>
      System.err.println(s"[$tag] $name $verb: ${e.getMessage}")
      false
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = GraftSession.positiveInt("SPARK_GRAFT_BENCH_REPS", 3)
    val spark = GraftSession.local(GraftSession.cpus)
    spark.sparkContext.setLogLevel("WARN")
    // untimed warmup: JIT + codegen + parquet reader init otherwise land
    // entirely on whichever query runs first (measured ~4 s on dd01)
    try {
      spark.range(100000).selectExpr("sum(id)").collect()
      spark.read.parquet(s"$sfDir/region.parquet").count()
    } catch { case NonFatal(_) => () }
    var failures = List.empty[String]
    // deterministic name order: shared builds (shingle index, jaccard
    // pairs, LDA/KMeans fits) are then attributed to the FIRST query of
    // their family (dd02, ml01, ss04) instead of whichever query a
    // hash-map iteration happens to visit first
    // optional comma-separated name-prefix filter for local iteration
    // (unset → full surface; the driver never sets it)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSeq)
    // exclusion filter (r12 verdict #2): closing.sh's >=10x audits run
    // the streaming family in its OWN JVM (EXCLUDE=st for the main pass,
    // ONLY=st for the st pass, merged by tools/merge_bench.py) — the
    // latency-bound micro-batch queries otherwise absorb ~150 queries
    // of accumulated suite-JVM state (+1.5-7.6 s/query at sf1, code
    // unchanged; adjudicated solo in NOTES r12)
    val excl = sys.env.get("SPARK_GRAFT_EXCLUDE").map(_.split(",").toSeq)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1).filter { case (n, _) =>
      only.forall(_.exists(n.startsWith)) &&
        excl.forall(!_.exists(n.startsWith))
    }
    // st-family JVM warmup (r14 verdict #6): st20 probes the standing
    // IVFPQ index — state ss15 builds, times, and memoizes when the full
    // surface runs in one JVM (ss sorts before st). In closing.sh's
    // ONLY=st split the streaming family gets its own JVM and st20's
    // first timed run would otherwise rebuild that standing state
    // (~10 s of epoch k-means fits at sf1), misattributing index-build
    // cost to streaming admission. Materialize it untimed here — ONLY
    // when ss15 is genuinely absent from this JVM's surface, so the
    // cost is never dropped from a full-surface artifact.
    if (selected.exists(_._1.startsWith("st20")) &&
        !selected.exists(_._1.startsWith("ss15"))) {
      System.err.println("[bench] pre-materializing the standing IVFPQ " +
        "index (ss15 absent from this JVM's surface; its build cost is " +
        "timed with the ss family)")
      try {
        operators.Similarity.regDot(spark)
        operators.Similarity.standingIvfpqIndex(spark, sfDir).count()
      } catch { case NonFatal(e) =>
        System.err.println(s"[bench] index warmup failed: ${e.getMessage}")
      }
    }
    // Load-robustness: the shared box can land a 100-row projection at
    // 20 s (r2/r3 driver artifacts ran ~1.5× the clean protocol). Each
    // query's reported number is the MIN over up to `reps` runs — min is
    // the right location statistic for load noise, which is strictly
    // additive. Repeats are bounded two ways so suite wall-time stays
    // ~O(one pass): only queries whose first run is under
    // `repeatThreshold` repeat (the heavy fits/trainings run once), and
    // repeats stop globally once `repeatBudget` seconds of extra work
    // have been spent. Per-query entries carry the de-noised minima the
    // plan audit should read; the headline "value" is their sum (see the
    // note at the JSON assembly below), with the raw first-run sum — the
    // cost of one cold pass, shared cached builds attributed to the
    // first query of their family — kept alongside as `first_run_sum`.
    // one timed run: its wall, and a sample only when it succeeded
    def once(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): (Double, Option[Sample]) = {
      val ((secs, ok), profile) = QueryProfile.capture(spark) {
        val t0 = System.nanoTime()
        // noop write materializes every output row (projections, sorts,
        // UDFs) without side effects; a bare count() would let Catalyst
        // prune all projection work and time only the scan
        val ok = guarded("bench", name, "FAILED") {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        }
        ((System.nanoTime() - t0) / 1e9, ok)
      }
      if (!ok && !failures.contains(name)) failures ::= name
      (secs, Option.when(ok)(Sample(secs, profile)))
    }
    // Heavy-fit protection (r4 verdict): queries at/over repeatThreshold
    // run once by design, which left the single heavy training exposed to
    // a load spike (r4 driver artifact: ml04 at 198 s vs 38.5 s clean,
    // while every cheap query in the same run was at or below clean).
    // BENCH_EXPECT.json (committed, hand-maintained — BENCH_LOCAL.json
    // can't serve as the reference because the driver's own runs
    // overwrite it with possibly-spiked values) pins the clean value for
    // each heavy query; when a heavy first run exceeds 1.5× its pinned
    // value it gets ONE retry and reports the min, under a separate
    // budget so heavy retries never starve the cheap-query repeat pool.
    def parsePins(txt: String): (Map[String, Double], String) = {
      val pins = "\"([^\"]+)\"\\s*:\\s*([0-9.eE+-]+)".r.findAllMatchIn(txt)
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
      // the dir the pins were calibrated at (stamped by
      // gen_bench_expect.py; older pin files default to the driver's
      // sf0.1)
      val dir = "\"_pin_dir\"\\s*:\\s*\"([^\"]+)\"".r.findFirstMatchIn(txt)
        .map(_.group(1)).getOrElse("/root/testdata/sf0.1")
      (pins, dir)
    }
    // an unreadable or malformed pin file leaves no pins
    val (expected: Map[String, Double], pinDir: String) =
      try parsePins(new String(
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("BENCH_EXPECT.json")),
        java.nio.charset.StandardCharsets.UTF_8))
      catch { case NonFatal(_) => parsePins("") }
    // scale-aware guard (r14 verdict #2): pin-based spike retries apply
    // only at the pins' own calibration dir — at a ≥10× audit scale
    // every heavy first run exceeds its sf0.1 pin BY CONSTRUCTION, and
    // the retries burned there (~138 s per sf1 pass, measured r14) can
    // never beat the pin; the audit's job is the scale curve, not the
    // pin. Paths are normalized so a trailing slash or symlink can't
    // silently flip the comparison.
    def normPath(p: String): String =
      try java.nio.file.Paths.get(p).toRealPath().toString
      catch { case NonFatal(_) => java.nio.file.Paths.get(p).normalize().toString }
    val sfDirNorm = normPath(sfDir)
    val pinsActive = sfDirNorm == normPath(pinDir)
    if (!pinsActive)
      System.err.println(
        s"[bench] pins calibrated at $pinDir but SPARK_GRAFT_SF_DIR is " +
        s"$sfDirNorm - pin-based spike retries disabled for this run")
    // Budgets scale with the SELECTED surface (r11 verdict item #2): the
    // fixed 240/300 s were sized for ~130 queries; at 170 even an IDLE
    // box drains the repeat pool mid-alphabet and the whole ta/tf tail
    // degrades to single cold runs (the r12 opening close measured
    // exactly that, as did three driver artifacts under load). The
    // per-query allowances preserve the original ~130-query calibration
    // (240/130 ≈ 1.85 s, 300/130 ≈ 2.3 s); the floors keep filtered
    // family runs from starving their own heavies.
    val heavyBudget = math.max(300.0, 2.3 * selected.size) // sec: cap on heavy-retry time
    var heavySpent = 0.0
    // 20 s sits between the worst load-spike inflation observed on a
    // sub-second query (q22 at 19.9 s in the r2 driver artifact, ta12 at
    // 14.2 s in an r4 local run — both ~2 s clean) and the genuinely
    // heavy fits (ml04 ≈ 27–37 s), so spiked queries get their retry and
    // the trainings still run once.
    val repeatThreshold = 20.0 // sec: heavier queries run once
    val repeatBudget = math.max(240.0, 1.85 * selected.size) // sec: global cap on extra-run time
    var repeatSpent = 0.0
    // mutable per-query record: the salvage pass below may fold better
    // runs into a query after the main loop. Each decision reads the
    // profile of the run it judges: pricing the best run's, build
    // pricing the first run's, the spike decision the latest run's.
    final class QRes(
        val name: String, val fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
        val first: Sample, val loadBefore: Double) {
      var best, latest = first
      var runs = 1
      var salvageRuns = 0
      var loadAfter, stealSec = 0.0
      var salvageSkippedSteal, salvageImproved = false
      // runs the query once more, folds the run in and returns its wall
      def rerun(): Double = {
        val (t, s) = once(name, fn)
        runs += 1
        best = foldBest(best, s)
        s.foreach(latest = _)
        t
      }
      def overPin: Option[Double] =
        spikeDecision(name, best.secs, runs, expected, iterTimes(latest.profile), pinsActive)
    }
    // a query whose first run fails has no sample: it is reported only
    // under `failures`, and not repeated
    val results = selected.flatMap { case (name, fn) =>
      // per-query environment telemetry (r16 verdict #1b): loadavg and
      // steal time bracketing ALL of this query's runs, so a contended
      // sample is machine-adjudicable from the artifact alone instead
      // of needing same-day clean-pass forensics
      val loadBefore = loadavg()
      val stealBefore = stealJiffies()
      once(name, fn)._2.map { first =>
        val r = new QRes(name, fn, first, loadBefore)
        while (r.runs < reps && first.secs < repeatThreshold && repeatSpent < repeatBudget)
          repeatSpent += r.rerun()
        // universal spike retry (see BENCH_EXPECT.json note above): EVERY
        // query now carries a pinned clean minimum, so any best-so-far
        // exceeding 1.5x its pin earns up to two budgeted retries.
        // Triggers on BEST-so-far, not first run, so it covers both
        // heavy queries that never repeat (first >= repeatThreshold) and
        // late-alphabet queries whose repeats were starved by the global
        // repeatBudget (r6: st14 stood at a single 10.75 s sample vs
        // 3.7 s clean; r7: unpinned dd05 recorded a single 33.7 s sample
        // vs 0.02 s clean — universal pinning closes that class of miss).
        // absolute floor of 0.5 s alongside the 1.5x ratio: a 0.1 s query
        // reading 0.2 s is scheduler noise, and retrying it would drain
        // heavyBudget before the genuinely spiked heavies get their turn.
        // The full decision (iter-median guard for ml04, :cold pins for
        // memoized queries) lives in spikeDecision above — pure, and
        // pinned both directions by BenchGuardSpec.
        var spikeRetries = 0
        var trip = r.overPin
        while (trip.isDefined && heavySpent < heavyBudget && spikeRetries < 2) {
          // log the EFFECTIVE pin the decision used (r14 ADVICE #4: a
          // :cold-decided retry used to print the warm wall pin — or
          // 0.00 s when only a :cold pin existed)
          System.err.println(
            f"[bench] $name best run ${r.best.secs}%.1f s over 1.5x its effective pin (${trip.get}%.2f s) - retrying (${spikeRetries + 1}/2)")
          heavySpent += r.rerun()
          spikeRetries += 1
          trip = r.overPin
        }
        r.loadAfter = loadavg()
        val stealAfter = stealJiffies()
        r.stealSec =
          if (stealBefore < 0 || stealAfter < 0) -1.0
          else (stealAfter - stealBefore) / 100.0 // USER_HZ=100 jiffies/s
        r
      }
    }
    // ---- steal-aware salvage pass (r17 verdict #1) ----------------
    // Self-flagging (contended=true + per-query load/steal) adjudicates
    // a contended pass but cannot CONFIRM pins: three of four recent
    // driver passes left 60-90 queries pin-unconfirmed with the perf
    // evidence resting on builder-run clean passes, because the in-loop
    // retries spend their budget blind to steal. After the main loop,
    // re-run the still-over-pin queries cheapest-pin-first under a
    // bounded budget, gating every attempt on a ~1 s steal probe —
    // attempts only run on a momentarily-quiet box, where a good sample
    // is actually obtainable. Probe sleeps count against the budget so
    // a permanently-stolen box bounds the whole pass at salvageBudget.
    val salvageBudget = math.max(120.0, 1.0 * selected.size) // sec
    var salvageSpent = 0.0
    val salvageCands = salvagePlan(
      results.filter(r => !failures.contains(r.name))
        .flatMap(r => r.overPin.map(r.name -> _)))
    val byName = results.map(r => r.name -> r).toMap
    if (salvageCands.nonEmpty)
      System.err.println(
        f"[bench] salvage pass: ${salvageCands.size} queries over pin " +
        f"after the main loop - re-running cheapest-pin-first under a " +
        f"$salvageBudget%.0f s steal-gated budget")
    salvageCands.foreach { case (name, pin) =>
      val r = byName(name)
      var halted = false
      while (!halted && r.overPin.isDefined && r.salvageRuns < 2 &&
          salvageSpent < salvageBudget) {
        // ~1 s steal probe before every attempt; up to 3 probes, then
        // skip this query (the box is visibly stolen right now — spend
        // the remaining budget on later candidates instead)
        var probes = 0
        var clear = false
        while (!clear && probes < 3 && salvageSpent < salvageBudget) {
          val s0 = stealJiffies()
          Thread.sleep(1000)
          val delta = if (s0 < 0) -1L else stealJiffies() - s0
          salvageSpent += 1.0
          probes += 1
          clear = salvageGate(delta)
        }
        if (!clear) {
          r.salvageSkippedSteal = true
          halted = true
        } else {
          val before = r.best
          salvageSpent += r.rerun()
          r.salvageRuns += 1
          if (r.best ne before) r.salvageImproved = true
        }
      }
    }
    val qs = results.map(r => s"\"" + r.name + "\":" + r.best.secs)
      .mkString("{", ",", "}")
    // per-query FIRST runs (r7 verdict item #1): a memoized query's cold
    // cost (dd05's fixpoint, ml01's fit, q39's bucketed-table build) is
    // visible only in its first run; publishing the full map makes cold
    // cost vs memo-hit auditable instead of only the aggregate
    // first_run_sum.
    val firstRuns = results.map(r => s"\"" + r.name + "\":" + r.first.secs)
      .mkString("{", ",", "}")
    // per-query RUN COUNTS + budget flag (r10 verdict item #4): when the
    // repeat budget drains mid-suite, the remaining queries' "de-noised"
    // values are single cold runs — the r10 driver artifact's entire
    // ta/tf/st tail was exactly that, and the 132 s headline silently
    // mixed warm minima with cold singles. runs==1 entries (below the
    // repeat threshold) and budget_exhausted=true make that state
    // explicit in the artifact instead of needing first_runs forensics.
    val runCounts = results.map(r => s"\"" + r.name + "\":" + r.runs)
      .mkString("{", ",", "}")
    val budgetExhausted = repeatSpent >= repeatBudget || heavySpent >= heavyBudget
    // headline = the DE-NOISED sum (per-query minima): with per-query
    // spike protection in place, a sum of first runs would still let one
    // load spike distort the round's single headline number (r4: 353.8 s
    // driver artifact vs 217 s first-run sum vs ~147 s de-noised, all on
    // the same tree). first-run sum stays in the line for transparency.
    // Iter-telemetry queries (ml04/ml06) enter the headline PRICED at
    // median-iter × n + non-iteration overhead (r16 verdict #1a) —
    // capped at the measured best, so only contention is removed; their
    // raw minima stay in `queries` and the priced values are published
    // in `priced` so the substitution is auditable.
    val pricedEntries = results.flatMap { r =>
      // iter-telemetry pricing uses the BEST run's own telemetry (r17
      // ADVICE #3 — not the most recent run's); build-stage pricing
      // (r17 verdict #2) removes a one-time layout build from a
      // cold-only minimum
      val p = math.min(
        pricedValue(r.name, r.best.secs, iterTimes(r.best.profile)),
        buildPricedValue(r.name, r.first.secs, r.best.secs,
          Some(r.first.profile.phases)))
      // 10 ms materiality floor: float noise on a clean pass (Σiters a
      // hair under wall) must not publish a spurious substitution
      if (r.best.secs - p > 0.01) Some(r.name -> p) else None
    }.toMap
    val total = results.map(r => pricedEntries.getOrElse(r.name, r.best.secs)).sum
    val totalWall = results.map(_.best.secs).sum
    val totalFirst = results.map(_.first.secs).sum
    // cold-inclusive headline (r18 verdict #7): the de-noised `value`
    // excludes memoized standing builds (their warm minima enter the
    // sum; the cold build cost is visible only in first_runs), and the
    // raw first_run_sum carries JIT/codegen noise on EVERY query — so
    // the warm-memo vs cold-build gap needed forensics. cold_value makes
    // it first-class: the priced headline with each MEMOIZED query (the
    // ones whose clean protocol pins a separate `<name>:cold` value —
    // exactly the set whose first run includes a standing build) priced
    // at its cold first run instead of its warm minimum. No pins file →
    // no :cold keys → cold_value == value.
    val totalCold = results.map(r =>
      if (expected.contains(r.name + ":cold")) r.first.secs
      else pricedEntries.getOrElse(r.name, r.best.secs)).sum
    // final over-pin census (r16 verdict #1c): re-run the spike decision
    // on each query's FINAL state (best after retries AND salvage,
    // actual run count, its own iteration telemetry) — exactly the
    // guard's last word
    val overPin = results.count(_.overPin.isDefined)
    val contended = contendedFlag(overPin, results.size, pinsActive)
    if (contended)
      System.err.println(
        s"[bench] WARNING: $overPin/${results.size} queries ended over " +
        "1.5x their pins after retries AND the salvage pass — flagging " +
        "this pass contended (box-level interference; per-query " +
        "loadavg/steal and the salvage record are in the artifact)")
    if (budgetExhausted)
      System.err.println(
        f"[bench] WARNING: retry budget exhausted (repeat $repeatSpent%.1f/" +
        f"$repeatBudget%.0f s, heavy $heavySpent%.1f/$heavyBudget%.0f s) — " +
        "late queries may be single cold runs; see \"runs\" in the artifact")
    val fails = failures.map("\"" + _ + "\"").mkString("[", ",", "]")
    // iteration telemetry (ml04 EM; ml06 online — r14 verdict #3): the
    // iteration series of each priced query's latest run, so a slow
    // driver-environment sample decomposes into iterations × per-iter
    // cost instead of needing forensics.
    // Locale.ROOT formatting: f"$t%.3f" uses the JVM default locale and
    // would emit "0,123" under comma-decimal locales, corrupting the JSON
    def num(t: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(t))
    val iterEntries = results.filter(r => iterPriced(r.name)).flatMap { r =>
      iterTimes(r.latest.profile).map(ts =>
        "\"" + r.name + "\":[" + ts.map(num).mkString(",") + "]")
    }
    val iterJson =
      if (iterEntries.isEmpty) ""
      else iterEntries.mkString("\"iter_times\":{", ",", "},")
    // stage telemetry: the first run's phase walls, so a slow first run
    // self-adjudicates — ml03's stats passes (r13 verdict #2) and the
    // q39/q70 layout builds (r14 verdict #4)
    val stageEntries = results
      .filter(r => buildPriced(r.name) || r.name == "ml03_lda_model_stats")
      .filter(_.first.profile.phases.nonEmpty).map { r =>
        "\"" + r.name + "\":{" + r.first.profile.phases.map { case (k, v) =>
          "\"" + k + "\":" + num(v)
        }.mkString(",") + "}"
      }
    val stageJson =
      if (stageEntries.isEmpty) ""
      else stageEntries.mkString("\"stage_times\":{", ",", "},")
    // priced substitutions (empty when no telemetry query was priced
    // below its wall minimum — i.e. on a clean pass where Σiters ≈ wall)
    val pricedJson =
      if (pricedEntries.isEmpty) ""
      else pricedEntries.toSeq.sortBy(_._1)
        .map { case (k, v) => "\"" + k + "\":" + num(v) }
        .mkString("\"priced\":{", ",", "},")
    // per-query [loadavg_before, loadavg_after, steal_seconds] — the
    // environment evidence for adjudicating any over-pin sample
    val loadJson = results.map { r =>
      "\"" + r.name + "\":[" + num(r.loadBefore) + "," + num(r.loadAfter) +
        "," + num(r.stealSec) + "]"
    }.mkString("\"load\":{", ",", "},")
    // salvage record (r17 verdict #1): per-candidate
    // [salvage_runs, skipped_steal, improved] plus the budget spent, so
    // the artifact shows WHICH pins the salvage pass confirmed, which
    // attempts the steal gate refused, and what the pass cost
    val salvageJson =
      if (salvageCands.isEmpty) ""
      else {
        val entries = salvageCands.map { case (name, _) =>
          val r = byName(name)
          "\"" + name + "\":[" + r.salvageRuns + "," +
            (if (r.salvageSkippedSteal) 1 else 0) + "," +
            (if (r.salvageImproved) 1 else 0) + "]"
        }
        entries.mkString("\"salvage\":{", ",", "},") +
          "\"salvage_spent\":" + num(salvageSpent) + ","
      }
    // builds, hits and evictions per memo slot, read once after the
    // timed passes
    val memoJson = Memo.counts.map { case (slot, c) =>
      s""""$slot":{"builds":${c.builds},"hits":${c.hits},"evictions":${c.evictions}}"""
    }.mkString("\"memo\":{", ",", "},")
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","value_wall":$totalWall,"first_run_sum":$totalFirst,"cold_value":$totalCold,"budget_exhausted":$budgetExhausted,"pins_active":$pinsActive,"contended":$contended,"over_pin":$overPin,"queries":$qs,"first_runs":$firstRuns,"runs":$runCounts,$pricedJson$loadJson$salvageJson$iterJson$stageJson$memoJson"sf":"$sfDir","nproc":${Runtime.getRuntime.availableProcessors},"failures":$fails,"protocol":"queries=min of up to $reps runs (repeats only when first<${repeatThreshold}s, global extra budget ${repeatBudget}s; ANY query retries up to twice when best>1.5x its BENCH_EXPECT.json pin — a :cold pin exempts a memoized query's first run, ml04/ml06 are judged on median iter time, and pin retries are disabled entirely when the sf dir is not the pins' _pin_dir (pins_active=false) — budget ${heavyBudget}s); after the main loop a steal-gated salvage pass re-runs still-over-pin queries cheapest-pin-first (up to 2 runs each, every attempt preceded by a ~1s zero-steal probe, budget ${salvageBudget}s incl. probe sleeps; per-candidate [runs,skipped_steal,improved] in salvage); value=de-noised sum of per-query minima with iter-telemetry queries priced at median-iter x n + non-iter overhead using the BEST run's telemetry, and q39/q70 priced at cold wall minus their one-time build stages when the minimum is still the cold run (all pricing capped at measured best; substitutions in priced), value_wall=same sum unpriced, cold_value=the priced sum with every query carrying a <name>:cold pin (the memoized standing builds) priced at its cold FIRST run instead of its warm minimum — the cold-inclusive headline, first_run_sum=sum of first runs, first_runs=per-query first (cold) runs, runs=per-query run counts (1 = single cold sample), load=per-query [loadavg_before,loadavg_after,steal_sec], over_pin=queries ending >1.5x pin after retries+salvage, contended=true when over_pin>=10 and >=10% of surface (box-level interference), budget_exhausted=true when a retry budget drained mid-suite"}"""
    // Stop Spark BEFORE printing so no executor/shutdown logging can
    // interleave with (or follow) the metric line; also persist a copy —
    // the round-1 driver failed to tail-parse stdout (sbt appends
    // "[success] ..." after our line).
    spark.stop()
    // never let a filtered iteration run OR an off-scale audit run (sf1
    // etc.) overwrite the checked-in full-surface artifact
    // (BENCH_LOCAL.json is the claims record at the driver's sf0.1).
    // sfDirNorm (computed with the pin-dir check above) is normalized so
    // a trailing slash or symlink in SPARK_GRAFT_SF_DIR doesn't silently
    // skip the artifact update.
    if (only.isEmpty && excl.isEmpty && sfDirNorm == "/root/testdata/sf0.1")
      try java.nio.file.Files.write(
        java.nio.file.Paths.get("BENCH_LOCAL.json"),
        line.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      catch { case NonFatal(_) => () }
    println(s"BENCH_JSON: $line")
    println(line)
    // The driver keeps only a bounded TAIL of stdout; the full line above
    // (152 per-query entries) overflows it and r6's artifact recorded
    // "parsed": null. Print a compact, complete record LAST so the tail
    // always ends with parseable JSON; the per-query map lives in the
    // full line and the committed BENCH_LOCAL.json.
    val salvImproved = results.count(_.salvageImproved)
    val compact =
      s"""{"metric":"total","value":$total,"unit":"sec","value_wall":$totalWall,"first_run_sum":$totalFirst,"cold_value":$totalCold,"budget_exhausted":$budgetExhausted,"pins_active":$pinsActive,"contended":$contended,"over_pin":$overPin,"salvage_attempted":${salvageCands.size},"salvage_improved":$salvImproved,"sf":"$sfDir","failures":$fails,"n_queries":${results.size},"detail":"per-query map in BENCH_LOCAL.json"}"""
    println(s"BENCH_JSON_COMPACT: $compact")
  }
}
