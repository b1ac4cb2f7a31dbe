package graft

/** The bench measurement-trust rules, factored out of [[Bench]] so they
  * are unit-testable (BenchTrustSpec) — the r10 verdict's ask: the canary
  * gate shipped a 5.4x-inflated d49 median as `trusted:true` because
  * every distrust signal was relative to evidence gathered INSIDE the
  * same (degraded) window. Three independent rules now apply, each
  * catching a failure shape the others can't:
  *
  *  1. [[canariesOk]] — the bracketing-canary rule (round 5): the host
  *     around a query's segment must be within `tol`x of the best canary
  *     seen anywhere in the run. Catches minutes-long degraded windows.
  *  2. [[medianConverged]] — the median-vs-own-floor rule (round 6): a
  *     median more than `tol`x above the query's own best rep is not a
  *     converged measurement. Catches sub-segment bursts that inflate
  *     one or two reps (r5's d05: reps [2.26, 25.07]).
  *  3. [[repSpreadOk]] — the rep max/min spread rule (round 11): reps
  *     spanning more than `tol`x end to end mean the box changed speed
  *     MID-QUERY, so no single summary of them is certifiable — even
  *     when the median happens to sit near the min (rule 2 passes).
  *
  * None of the three can catch a query whose EVERY rep ran in the same
  * degraded burst while the surrounding canaries read healthy — uniform
  * inflation is invisible to within-run evidence (r10's d49: reps
  * [6.78, 10.57], healthy retry canaries). That shape is caught by
  * [[priorOutliers]]: the committed previous full-suite run is an
  * out-of-run reference floor; queries landing >`tol`x above it get
  * re-run (min adopted) and, if persistent, surfaced in the artifact's
  * `prior_regressed` so a reader adjudicates (SCALE.md "h06 rep-spread
  * adjudicated" / "h10 skew": plan diff vs task skew vs box noise)
  * instead of reading box noise as a regression. `prior_regressed` does
  * NOT flip `trusted` — a real code regression would legitimately
  * exceed the prior and the artifact must still be publishable; trust
  * certifies the ENVIRONMENT, the prior field flags the DELTA.
  */
object BenchTrust {

  /** Rule 1: both canaries bracketing the query's segment within `tol`x
    * of the best canary observed anywhere in the run. */
  def canariesOk(before: Double, after: Double, bestCanary: Double,
                 tol: Double): Boolean =
    math.max(before, after) <= tol * bestCanary

  /** Rule 2: the adopted median within `tol`x of the query's own best
    * rep (+ `slack` seconds so the ~0.5 s compile/dispatch floor of
    * sub-second queries doesn't flag pure noise). Vacuously true with
    * no successful reps — failure is reported separately. */
  def medianConverged(median: Double, good: Seq[Double], tol: Double,
                      slack: Double): Boolean =
    good.isEmpty || median <= tol * good.min + slack

  /** Rule 3 (round 11): end-to-end rep spread within `tol`x (+ `slack`).
    * Distrusts measurements whose reps disagree with EACH OTHER by more
    * than the canary tolerance, regardless of where the median falls. */
  def repSpreadOk(good: Seq[Double], tol: Double, slack: Double): Boolean =
    good.isEmpty || good.max <= tol * good.min + slack

  /** All within-run rules combined — [[Bench]]'s per-query health
    * predicate (re-run while unhealthy, `trusted:false` if persistent). */
  def healthy(median: Double, good: Seq[Double], canaryBefore: Double,
              canaryAfter: Double, bestCanary: Double, tol: Double,
              slack: Double): Boolean =
    canariesOk(canaryBefore, canaryAfter, bestCanary, tol) &&
      medianConverged(median, good, tol, slack) &&
      repSpreadOk(good, tol, slack)

  /** Out-of-run rule: queries whose current median exceeds `tol`x the
    * prior run's median (name -> current/prior ratio). Only queries
    * present in both runs with positive medians compare — renamed or
    * failed queries can't produce phantom ratios. */
  def priorOutliers(current: Map[String, Double], prior: Map[String, Double],
                    tol: Double): Map[String, Double] =
    current.flatMap { case (name, cur) =>
      prior.get(name).collect {
        case p if p > 0 && cur > 0 && cur > tol * p => name -> cur / p
      }
    }

  /** The floor gate: may this run overwrite BENCH_LOCAL.json — the NEXT
    * run's prior-reference floor? Only a full-suite (`!filtered`) run
    * certified by the environment rules (`trusted`) with every query
    * actually measured (`allMeasured` — a crashed query's -1 median is
    * vacuously healthy and invisible to [[priorOutliers]], and would
    * permanently disable the prior rule for it), AT THE COMMITTED
    * FLOOR'S SCALE FACTOR (`sfMatchesPrior` — round 12: a trusted
    * full-suite run at a DIFFERENT SF skips the prior compare entirely,
    * so prior_regressed is vacuously empty and the run would silently
    * replace the floor with numbers at another scale; a scale-study run
    * must never take the slot), no residual prior regression, AND a
    * total no worse than the committed floor's (`totalNotWorse` —
    * round 15: MONOTONICITY. The r14 driver window ran every one of
    * 100 queries 1.23x-median slower on an untouched-code diff, yet
    * passed every per-query gate — no single ratio reached the 2x
    * priorTol — and legally rebased the 60.94 s floor to 81.5 s,
    * silently re-widening the prior_regressed gate by 34%. The floor's
    * job is to record the box's DEMONSTRATED capability, so only a run
    * at least as fast as the floor may replace it; a slower trusted
    * run is evidence of a window or a regression, and either way
    * belongs in the degraded file until adjudicated). `acceptPrior` is
    * the operator's explicit override for all three residuals (an
    * intentional slowdown, an intentional re-base at a new SF).
    * Everything else routes to BENCH_LOCAL_DEGRADED.json: evidence
    * kept, floor intact. */
  def floorSafe(filtered: Boolean, trusted: Boolean, allMeasured: Boolean,
                priorRegressedEmpty: Boolean, acceptPrior: Boolean,
                sfMatchesPrior: Boolean = true,
                totalNotWorse: Boolean = true): Boolean =
    !filtered && trusted && allMeasured &&
      ((priorRegressedEmpty && sfMatchesPrior && totalNotWorse) || acceptPrior)

  /** The monotone-floor comparison, over the INTERSECTION of query
    * names (round 16 — review finding): comparing raw run totals broke
    * the moment the registry grew — a floor committed before N new
    * queries existed makes every future healthy full-suite run total
    * above it, failing the gate forever absent an explicit re-base;
    * and conversely, REMOVING a registry query would let a run rebase
    * the floor lower with no box speedup at all. Summing only the
    * shared names compares like with like: new queries ride along
    * without blocking (they gain prior protection the first time a
    * floor-safe run records them), removed ones stop counting on both
    * sides. Permissive (true) when the intersection is empty — a
    * missing/corrupt/renamed-world prior must let a clean run repair
    * the floor, exactly like [[parseTotal]]'s None did. Negative
    * medians (crashed queries) are excluded on either side: a crash
    * sentinel must not subtract from a total. */
  def totalNotWorse(current: Map[String, Double],
                    prior: Map[String, Double]): Boolean = {
    val shared = current.keySet.intersect(prior.keySet)
      .filter(n => current(n) >= 0 && prior(n) >= 0).toSeq
    shared.isEmpty ||
      shared.map(current).sum <= shared.map(prior).sum
  }

  /** The prior run's `"value"` (total seconds) — the committed floor's
    * total for the monotonicity rule. None on a missing/corrupt prior
    * (a fresh floor can then be established by any floor-safe run). */
  def parseTotal(json: String): Option[Double] =
    "\"value\"\\s*:\\s*(-?[0-9]+(?:\\.[0-9]+)?(?:[eE][+-]?[0-9]+)?)".r
      .findFirstMatchIn(json).flatMap { m =>
        try Some(m.group(1).toDouble)
        catch { case _: NumberFormatException => None }
      }

  /** The prior run's `"sf"` field — [[priorOutliers]] is only meaningful
    * against a prior at the SAME scale factor (a dev run at a smaller SF
    * left behind in BENCH_LOCAL.json must not flag the whole suite). */
  def parseSf(json: String): Option[String] =
    "\"sf\"\\s*:\\s*\"([^\"]*)\"".r.findFirstMatchIn(json).map(_.group(1))

  /** Parse the `"queries":{"name":sec,...}` map out of a prior
    * BENCH_LOCAL.json line without a JSON dependency (the file is this
    * program's own single-line output). Returns empty on any shape
    * mismatch — a missing/corrupt prior simply disables the rule. */
  def parseQueriesMap(json: String): Map[String, Double] = {
    val sub = "\"queries\"\\s*:\\s*\\{([^}]*)\\}".r
      .findFirstMatchIn(json).map(_.group(1)).getOrElse("")
    // full scientific-notation grammar: a truncated class like [0-9.eE+]
    // would match "4.2E" out of "4.2E-4" and silently DROP the entry on
    // toDouble, disabling the prior rule exactly for sub-millisecond
    // medians
    "\"([^\"]+)\"\\s*:\\s*(-?[0-9]+(?:\\.[0-9]+)?(?:[eE][+-]?[0-9]+)?)".r
      .findAllMatchIn(sub).flatMap { m =>
        try Some(m.group(1) -> m.group(2).toDouble)
        catch { case _: NumberFormatException => None }
      }.toMap
  }
}
