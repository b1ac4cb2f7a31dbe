package graft

/** Round-20 measurement probe: DETERMINISTIC per-query cost counters —
  * Spark jobs launched, stages run, shuffle bytes/records written —
  * for a named set of declared queries. Wall-clock on this box swings
  * up to 2x between runs of IDENTICAL code (SCALE.md "bench
  * trustworthiness"), so before/after ratios of sub-5s queries are
  * noise; job/stage/shuffle counts are properties of the PLAN and
  * reproduce exactly, which makes them the honest before/after
  * evidence for pass-count and shuffle-removal optimizations (guide
  * §1.1 first-principles view).
  *
  * Env: SPARK_GRAFT_SF_DIR (default sf0.01), SPARK_GRAFT_CPUS,
  * SPARK_GRAFT_ONLY (comma list; default: the similarity family).
  * Prints one JSON line per query:
  * {"query":name,"jobs":J,"stages":S,"shuffle_write_bytes":B,
  *  "shuffle_records":R,"sec":wall}.
  */
object JobCountProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    val names = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSeq)
      .getOrElse(SparkEntry.queries.keys.toSeq.filter(n =>
        n.startsWith("d09") || n.startsWith("d29") || n.startsWith("d39") ||
        n.startsWith("d25") || n.startsWith("d08")).sorted)

    val jobs = new java.util.concurrent.atomic.AtomicLong
    val stages = new java.util.concurrent.atomic.AtomicLong
    val shufBytes = new java.util.concurrent.atomic.AtomicLong
    val shufRecs = new java.util.concurrent.atomic.AtomicLong
    // SPARK_GRAFT_JOBLOG=1: one [job] line per counted job (stage count
    // + call site + description) — the attribution view used to locate
    // WHICH driver actions a multi-action drive (d52/d55) spends its
    // job budget on; off by default, the JSON line is unchanged.
    val jobLog = sys.env.get("SPARK_GRAFT_JOBLOG").contains("1")
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        if (jobLog) {
          val desc = Option(e.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .getOrElse("").replaceAll("\\s+", " ")
          val site = Option(e.properties)
            .flatMap(p => Option(p.getProperty("callSite.short")))
            .getOrElse("")
          System.err.println(s"[job] id=${e.jobId} stages=${e.stageIds.length} " +
            s"site=[$site] desc=[${desc.take(160)}]")
        }
        ()
      }
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        val m = e.stageInfo.taskMetrics
        if (m != null) {
          shufBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          shufRecs.addAndGet(m.shuffleWriteMetrics.recordsWritten)
        }
        ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    // DETERMINISTIC event scoping (round 21, r20 ADVICE): block until
    // the async listener bus has DELIVERED everything already posted —
    // the former fixed Thread.sleep(800) raced a loaded box in both
    // directions (warm-pass events bleeding into the counted window /
    // counted events missed at print time). listenerBus/waitUntilEmpty
    // are private[spark] (public in bytecode), hence the reflective
    // call — same-version-safe, and a failure falls back to the old
    // sleep rather than silently not draining.
    def drainListenerBus(): Unit =
      try {
        val bus = classOf[org.apache.spark.SparkContext]
          .getMethod("listenerBus").invoke(spark.sparkContext)
        bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
        ()
      } catch { case _: Throwable => Thread.sleep(800) }
    for (name <- names) {
      val fn = SparkEntry.queries(name)
      // one un-counted warm pass (codegen/JIT), then the counted run
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[jobcount] warm $name failed: ${e.getMessage}")
      }
      graft.datax.Dedup.releaseShingleCaches()
      spark.sqlContext.clearCache()
      // drain listener events from the warm pass before zeroing
      drainListenerBus()
      jobs.set(0); stages.set(0); shufBytes.set(0); shufRecs.set(0)
      if (jobLog) System.err.println(s"[job] ---- counted run: $name ----")
      val t0 = System.nanoTime()
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[jobcount] $name failed: ${e.getMessage}")
      }
      val sec = (System.nanoTime() - t0) / 1e9
      drainListenerBus() // counted events must all land before the read
      println(s"""{"query":"$name","jobs":${jobs.get},"stages":${stages.get},""" +
        s""""shuffle_write_bytes":${shufBytes.get},""" +
        s""""shuffle_records":${shufRecs.get},"sec":${f"$sec%.3f"}}""")
    }
    spark.stop()
  }
}
