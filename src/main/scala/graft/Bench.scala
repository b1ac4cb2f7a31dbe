package graft

object Bench {

  /** Per-query timing: post-warmup medians plus the raw (successful) reps. */
  private case class QRes(name: String, median: Double, good: Seq[Double], failedReps: Int)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    // dev loop: SPARK_GRAFT_ONLY=d05_x,d06_y restricts the run
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // Per-query warm-up at the SAME SF immediately before the timed run:
    // Janino whole-stage-codegen + JIT + AQE-variant compile dominate
    // cold single-query runs (up to ~2-3s per heavy query; a small-SF
    // warmup never compiles the AQE plan variants of the timed SF).
    // These are one-time costs irrelevant at scale, so the steady-state
    // number is the honest one; the price is ~2x bench wall. Interleaved
    // per query, not a separate fleet pass — Spark's codegen cache holds
    // ~100 generated classes, so a fleet-wide pass self-evicts. Data
    // caches are CLEARED between warm and timed runs (below) so the
    // timed run re-executes the full pipeline.
    // SPARK_GRAFT_WARM_DIR overrides (empty disables).
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", sfDir)
    def warm(name: String, fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): Unit =
      if (warmDir.nonEmpty)
        try fn(spark, warmDir).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable =>
          System.err.println(s"[bench] warmup $name failed: ${e.getMessage}")
        }
    // Median-of-N timing: single-shot numbers on a contended box moved
    // sub-second queries 2-4x in both directions between rounds (SCALE.md
    // straggler-compounding measurement); the median of 3 post-warmup runs
    // is stable enough to make round-over-round deltas signal. Total is the
    // sum of per-query medians. SPARK_GRAFT_REPS overrides (1 = old mode).
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt.max(1)
    // ENVIRONMENT CANARY: a fixed synthetic pipeline (no table reads, one
    // shuffle, a couple of md5-heavy projections — enough to exercise
    // codegen compile + task dispatch, the two paths that stretch 10-50x
    // in this box's intermittent degraded windows; SCALE.md "bench
    // trustworthiness"). Median of 3, same as the queries.
    var canarySeq = 0
    def canary(): Double = {
      import org.apache.spark.sql.functions._
      val ts = (1 to 3).map { i =>
        canarySeq += 1
        val t0 = System.nanoTime()
        spark.range(2000000).toDF("id")
          .select(col("id"), md5(concat(lit(s"c$canarySeq:$i:"), col("id").cast("string"))).as("h"))
          .groupBy(substring(col("h"), 1, 2).as("b"))
          .agg(count(lit(1)).as("n"), max("h").as("m"))
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }.sorted
      ts(1)
    }

    def timeQuery(name: String, fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): QRes = {
      warm(name, fn)
      val times = (1 to reps).map { _ =>
        // drop any InMemoryRelations the previous run materialized (several
        // operators .cache() internally): at the same SF the timed plan is
        // canonically identical, so CacheManager would silently substitute
        // the cached subtree and the timed number would measure cache
        // hits, not the pipeline. releaseShingleCaches additionally clears
        // the dedup cache REGISTRY (clearCache unpersists the data but
        // would leave stale registry entries accumulating per rep)
        graft.datax.Dedup.releaseShingleCaches()
        spark.sqlContext.clearCache()
        val t0 = System.nanoTime()
        // noop sink materializes every row/column (a bare count() would let
        // Catalyst prune the query down to a metadata scan)
        val ok =
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            false
          }
        // a crashing query must not read as a (fast) pass: sentinel -1
        if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
      }
      val good = times.filter(_ >= 0).sorted
      val median = if (good.isEmpty) -1.0 else good(good.size / 2)
      QRes(name, median, good, times.size - good.size)
    }

    // CANARY GATE (round 5; SCALE.md "bench trustworthiness"): the box has
    // minutes-long degraded windows that stretch compile-heavy queries
    // 10-50x (measured: ~50% kernel time, Janino KeyLock serialization).
    // Start/end canaries alone proved insufficient in r4 — the run STARTED
    // degraded, so the alphabetically-early heavy queries (d06-d17) shipped
    // uncertifiable numbers. Now canaries are interleaved every
    // CANARY_EVERY queries; a query's measurement is HEALTHY iff both
    // canaries bracketing its segment are within CANARY_TOL x of the best
    // canary seen anywhere in the run (relative, not absolute — the best
    // canary is the run's evidence of the healthy-host floor). Queries
    // from unhealthy segments are re-run in later passes (canaries
    // re-measured around them) until healthy or MAX_PASSES is exhausted;
    // a run that cannot certify every query emits trusted:false plus the
    // untrusted query list, so a downstream reader never mistakes
    // degraded-window noise for a regression. A run degraded for its
    // ENTIRE duration is indistinguishable from a healthy one by the
    // relative rule; the full canary trace is emitted so a reader can
    // compare absolute floors across rounds.
    // I/O-AXIS canary (round 15): the synthetic canary above is
    // codegen-compile + dispatch bound — the axes of the box's
    // minutes-long 10-50x windows — but the round-15 adjudication
    // caught a DIFFERENT degradation shape: trusted runs, every
    // synthetic canary at its healthy floor, yet shuffle/scan-bound
    // queries uniformly ~1.2-1.5x elevated. This canary reads a real
    // table at the timed SF (scan + hash-agg + shuffle), so its
    // absolute value is comparable ACROSS runs at the same sfDir —
    // shipped as evidence (start/end pair in the artifact), NOT a
    // trust rule: within-run relative rules provably cannot see
    // uniform elevation (SCALE.md "Bench trust IV"), and this number
    // exists precisely so a reader can classify which axis an
    // elevated-but-trusted run degraded on.
    def ioCanary(): Double = {
      import org.apache.spark.sql.functions._
      val ts = (1 to 3).map { _ =>
        spark.sqlContext.clearCache()
        val t0 = System.nanoTime()
        spark.read.parquet(s"$sfDir/documents.parquet")
          .select(md5(col("text").cast("string")).as("h"))
          .groupBy(substring(col("h"), 1, 2)).agg(count(lit(1)).as("n"))
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }.sorted
      ts(1)
    }
    // PRE-RUN I/O WARMUP (round 16, verdict #3): the box's round-15
    // degradation axis was a START-LOADED I/O window — five-for-five
    // fresh JVMs began with the scan+shuffle canary 2-3x elevated and
    // the elevation DRAINED over the run ([0.457 -> 0.147] in the r15
    // driver run), so the alphabetically-early c-family ate the cold
    // window every run. One throwaway full pass over every table at the
    // timed SF (noop sink — real reads, not metadata counts) before the
    // first canary lets the elevation drain on un-timed work; the
    // io_canary [start, end] pair then measures whether it worked
    // (converged ≈ drained). SPARK_GRAFT_IO_WARMUP=0 disables (the A/B
    // knob); the spent seconds ship in the artifact as io_warmup.
    val ioWarmupOn = !sys.env.get("SPARK_GRAFT_IO_WARMUP").contains("0")
    val ioWarmupSec: Double =
      if (!ioWarmupOn) -1.0
      else {
        val t0 = System.nanoTime()
        val root = new org.apache.hadoop.fs.Path(sfDir)
        val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
        fs.listStatus(root).map(_.getPath)
          .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
          .foreach { p =>
            try spark.read.parquet(p.toString)
              .write.format("noop").mode("overwrite").save()
            catch { case e: Throwable =>
              System.err.println(s"[bench] io warmup ${p.getName} failed: ${e.getMessage}")
            }
          }
        (System.nanoTime() - t0) / 1e9
      }
    val ioCanaryStart = ioCanary()
    val canaryEvery = sys.env.getOrElse("SPARK_GRAFT_CANARY_EVERY", "10").toInt.max(1)
    val canaryTol = sys.env.getOrElse("SPARK_GRAFT_CANARY_TOL", "2.0").toDouble
    val maxPasses = sys.env.getOrElse("SPARK_GRAFT_MAX_PASSES", "3").toInt.max(1)
    val allCanaries = scala.collection.mutable.ArrayBuffer[Double]()
    // name -> (result, canaryBefore, canaryAfter)
    val results = scala.collection.mutable.LinkedHashMap[String, (QRes, Double, Double)]()

    def runSegmented(qs: Seq[(String, (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame)],
                     adopt: (String, (QRes, Double, Double)) => Unit): Unit = {
      if (qs.isEmpty) return
      var cBefore = canary(); allCanaries += cBefore
      qs.grouped(canaryEvery).foreach { seg =>
        val rs = seg.map { case (n, fn) => timeQuery(n, fn) }
        val cAfter = canary(); allCanaries += cAfter
        rs.foreach(r => adopt(r.name, (r, cBefore, cAfter)))
        cBefore = cAfter
      }
    }

    // PER-QUERY TRUST RULES (rounds 6 + 11, factored into BenchTrust for
    // unit-testing): beyond the bracketing canaries, a query's own reps
    // must agree — median within canaryTol x of its best rep (round 6:
    // r5 shipped d05 at a 17.2s median whose reps spanned [2.26, 25.07]
    // under trusted:true) AND max rep within canaryTol x of min (round
    // 11: the box changing speed mid-query is uncertifiable even when
    // the median sits near the min). The absolute slack keeps the ~0.5s
    // compile/dispatch floor of sub-second queries from flagging noise.
    val spreadSlack = sys.env.getOrElse("SPARK_GRAFT_SPREAD_SLACK", "0.5").toDouble

    def healthy(e: (QRes, Double, Double)): Boolean =
      allCanaries.nonEmpty &&
        BenchTrust.healthy(e._1.median, e._1.good, e._2, e._3,
          allCanaries.min, canaryTol, spreadSlack)

    // prefer a healthy measurement; between two of equal health keep the
    // faster (degradation only ever inflates — the lower sample is the
    // closer bound on truth)
    def adoptBetter(n: String, e: (QRes, Double, Double)): Unit = {
      val old = results(n)
      val keep =
        if (healthy(e) && !healthy(old)) e
        else if (healthy(e) == healthy(old) &&
                 e._1.median >= 0 && (old._1.median < 0 || e._1.median < old._1.median)) e
        else old
      results(n) = keep
    }

    runSegmented(queries, (n, e) => results(n) = e)
    var pass = 1
    var suspects = queries.filter { case (n, _) => !healthy(results(n)) }
    while (suspects.nonEmpty && pass < maxPasses) {
      pass += 1
      System.err.println(s"[bench] canary gate: re-running ${suspects.size} queries (pass $pass): " +
        suspects.map(_._1).mkString(","))
      runSegmented(suspects, adoptBetter)
      // a retry pass can discover a LOWER canary floor, retroactively
      // un-certifying earlier segments — recompute over all queries
      suspects = queries.filter { case (n, _) => !healthy(results(n)) }
    }

    // OUT-OF-RUN REFERENCE (round 11): uniform inflation — every rep of a
    // query caught in the same degraded burst while the surrounding
    // canaries read healthy — passes every within-run rule (r10 shipped
    // d49 at 8.58 s, 5.4x over the committed history, trusted:true). The
    // committed previous full-suite BENCH_LOCAL.json is evidence from
    // OUTSIDE this run: queries landing more than priorTol x above it get
    // one re-run pass (adopt-the-faster), and whatever still exceeds the
    // prior ships under "prior_regressed" with its ratio, so a reader
    // adjudicates (code diff; SCALE.md "h10 skew" / "h06 rep-spread
    // adjudicated": plan diff vs task skew vs box noise) instead of mistaking
    // box noise for a regression. It does NOT flip `trusted`: a real code
    // regression legitimately exceeds the prior and the artifact must
    // still be publishable — trust certifies the environment, this field
    // flags the delta. (Filtered/untrusted runs cannot poison the floor:
    // the floorSafe gate below routes them to BENCH_LOCAL_DEGRADED.json;
    // only names present in both runs compare.)
    val priorTol = sys.env.getOrElse("SPARK_GRAFT_PRIOR_TOL", "2.0").toDouble
    val priorRaw =
      try new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("BENCH_LOCAL.json")))
      catch { case _: Throwable => "" }
    // only a prior at the SAME scale factor is a reference floor
    val prior =
      if (BenchTrust.parseSf(priorRaw).contains(sfDir))
        BenchTrust.parseQueriesMap(priorRaw)
      else Map.empty[String, Double]
    def regressedNow(): Map[String, Double] = BenchTrust.priorOutliers(
      results.map { case (n, (r, _, _)) => n -> r.median }.toMap, prior, priorTol)
    val regressed0 = regressedNow()
    if (regressed0.nonEmpty) {
      pass += 1 // this re-measurement pass counts in the shipped "passes"
      System.err.println(s"[bench] prior-run gate: re-running ${regressed0.size} queries " +
        s">${priorTol}x over committed BENCH_LOCAL: " +
        regressed0.keys.toSeq.sorted.mkString(","))
      runSegmented(queries.filter { case (n, _) => regressed0.contains(n) }, adoptBetter)
    }
    val priorRegressed = regressedNow()

    // the prior pass can also lower the canary floor — final recompute
    val untrusted = queries.filter { case (n, _) => !healthy(results(n)) }.map(_._1)

    val ordered = queries.map { case (n, _) => (n, results(n)) }
    val qs = ordered.map { case (k, (r, _, _)) => "\"" + k + "\":" + r.median }
      .mkString("{", ",", "}")
    // per-query [min, max] across the N runs — the spread the medians hide
    val spread = ordered.collect { case (k, (r, _, _)) if r.good.nonEmpty =>
      "\"" + k + "\":[" + r.good.min + "," + r.good.max + "]"
    }.mkString("{", ",", "}")
    // ANY failed rep in the adopted measurement marks the query failed — an
    // intermittent crash must not read as a healthy median from survivors
    val failed = ordered.collect { case (k, (r, _, _)) if r.failedReps > 0 => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = ordered.map(_._2._1.median).filter(_ >= 0).sum
    val trusted = untrusted.isEmpty
    val untrustedJson = untrusted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val canariesJson = allCanaries.map(c => f"$c%.3f").mkString("[", ",", "]")
    val priorJson = priorRegressed.toSeq.sortBy(_._1)
      .map { case (n, ratio) => "\"" + n + "\":" + f"$ratio%.2f" }
      .mkString("{", ",", "}")
    val ioCanaryEnd = ioCanary()
    val json = s"""{"metric":"total","value":$total,"unit":"sec","reps":$reps,"queries":$qs,"spread":$spread,"failed":$failed,"canary":[${allCanaries.head},${allCanaries.last}],"canaries":$canariesJson,"io_canary":[${f"$ioCanaryStart%.3f"},${f"$ioCanaryEnd%.3f"}],"io_warmup":${f"$ioWarmupSec%.2f"},"trusted":$trusted,"untrusted":$untrustedJson,"prior_regressed":$priorJson,"passes":$pass,"sf":"$sfDir"}"""
    println(json)
    // sbt decorates stdout ([info]/[success] lines), which can defeat a
    // line-oriented parse downstream — drop a clean copy next to the
    // build. BENCH_LOCAL.json doubles as the NEXT run's prior-reference
    // floor, so a measurement that would poison the floor must not take
    // the slot: only a FULL-SUITE run that is trusted AND carries no
    // residual prior_regressed overwrites it (one degraded write would
    // otherwise self-disarm the out-of-run rule — a later run inside the
    // same degradation reads ~1x against the inflated floor). Everything
    // else (SPARK_GRAFT_ONLY dev runs, untrusted runs, regressed runs)
    // lands in BENCH_LOCAL_DEGRADED.json — evidence kept, floor intact.
    // After an INTENTIONAL slowdown (code change), rerun with
    // SPARK_GRAFT_ACCEPT_PRIOR=1 to accept the new medians as the floor.
    val acceptPrior = sys.env.get("SPARK_GRAFT_ACCEPT_PRIOR").contains("1")
    val allMeasured = ordered.forall { case (_, (r, _, _)) =>
      r.failedReps == 0 && r.median >= 0 }
    // a run at a different SF than the committed floor (scale studies)
    // must not take the floor slot — its prior compare was vacuous.
    // forall, not contains: an UNPARSEABLE prior (truncated/corrupt
    // file with no "sf" field) must act like a missing one so the next
    // clean run can repair the floor, not wedge every future run into
    // the degraded file until a human intervenes (review finding)
    val sfMatchesPrior = BenchTrust.parseSf(priorRaw).forall(_ == sfDir)
    // MONOTONE floor (round 15; intersection round 16): a trusted run
    // slower than the committed floor must not re-base it — the r14
    // window passed every per-query gate at a uniform ~1.3x and rebased
    // 60.94 -> 81.5 s. The totals compare over the INTERSECTION of
    // query names (BenchTrust.totalNotWorse): raw-total compare broke
    // whenever the registry grew (every future run totals above a floor
    // that predates the new queries) or shrank (a run could rebase the
    // floor lower illegitimately). Permissive when the prior lacks a
    // queries map — a clean run can then establish the floor.
    // SPARK_GRAFT_ACCEPT_PRIOR=1 stays the explicit re-base.
    val totalNotWorse = BenchTrust.totalNotWorse(
      results.map { case (n, (r, _, _)) => n -> r.median }.toMap, prior)
    val floorSafe = BenchTrust.floorSafe(only.nonEmpty, trusted, allMeasured,
      priorRegressed.isEmpty, acceptPrior, sfMatchesPrior, totalNotWorse)
    val outFile = if (floorSafe) "BENCH_LOCAL.json" else "BENCH_LOCAL_DEGRADED.json"
    if (!floorSafe)
      System.err.println(s"[bench] floor-unsafe run (filtered=${only.nonEmpty}, " +
        s"trusted=$trusted, sfMatchesPrior=$sfMatchesPrior, " +
        s"totalNotWorse=$totalNotWorse (shared-name totals vs the " +
        s"committed floor; this run's full total=$total), " +
        s"prior_regressed=[${priorRegressed.keys.toSeq.sorted.mkString(",")}]) " +
        s"-> writing $outFile, BENCH_LOCAL.json untouched")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), json + "\n")
    catch { case _: Throwable => () }
    spark.stop()
  }
}
