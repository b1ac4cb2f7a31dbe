package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Everything a workload needs from the driver, and the run's operation
  * counters. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Double, tiny: Boolean,
    dir: String, tracer: Tracer) {
  val attempted = new java.util.concurrent.atomic.AtomicLong
  val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]
}

/** One workload: seeded inputs, a warm-up, a measured loop and its checks.
  * `layer` holds the per-layer metrics the workload itself computes;
  * [[Main]] adds the Spark, codegen and JVM counters. */
trait Workload {
  def ctx: Ctx
  /** Generate the seeded inputs under `dir` (run several times). */
  def generate(dir: String): Unit
  /** Warm the measured paths up on the last generated inputs (run once). */
  def warm(): Unit
  /** The closed loop, for about `ctx.seconds`. */
  def measure(): Unit
  /** Output checks that need the whole run (state files, brute force). */
  def check(): Unit
  /** read_p50_ms and write_items_per_s. */
  def e2e: Map[String, Double]
  def layer: Map[String, Double]
  /** Wall seconds of the measured loop. */
  def wallSeconds: Double
  def fail(what: String): Unit = { ctx.failures.add(what); () }
  def failed: Int = ctx.failures.size
  /** Run an operation and its output check; an exception or a false check
    * counts the operation as failed. */
  def op(what: String)(body: => Boolean): Unit = {
    ctx.attempted.incrementAndGet()
    val ok = try body catch {
      case e: Exception =>
        System.err.println(s"[perfbench] $what failed:"); e.printStackTrace()
        fail(s"$what: $e"); true
    }
    if (!ok) fail(what)
  }
}

object Main {
  val SetupReps = 3

  def session(): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val tiny = opts.getOrElse("scale", "full") == "tiny"
    val dir = new File(opts("dir")).getAbsolutePath
    val spark = session()
    val tracer = new Tracer(spark, trace)
    tracer.install()
    val ctx = Ctx(spark, seed, seconds, tiny, dir, tracer)
    val wl: Workload = workload match {
      case "catalog_sync" => new CatalogSync(ctx)
      case "corpus_ingest" => new CorpusIngest(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val canary0 = if (trace) Canary.ms(spark) else 0.0

    // set-up = generation (median of several) + one warm-up pass
    val genS = (1 to SetupReps).map { i =>
      val t0 = System.nanoTime()
      wl.generate(s"$dir/setup$i")
      if (i > 1) Sys.rmrf(new File(s"$dir/setup${i - 1}"))
      Sys.secondsSince(t0)
    }
    val t0 = System.nanoTime()
    wl.warm()
    val warmS = Sys.secondsSince(t0)
    val gc0 = Sys.gcMs()
    val cg0 = tracer.codegenLog.map(c => (c.compiles, c.compileMs.get, c.fallbacks.get))
    tracer.beginMeasure()
    wl.measure()
    tracer.endMeasure()
    val gc1 = Sys.gcMs()
    val cg1 = tracer.codegenLog.map(c => (c.compiles, c.compileMs.get, c.fallbacks.get))
    try wl.check() catch { case e: Exception => wl.fail(s"check: $e") }
    val rss = Sys.peakRssMb()

    Sys.rmrf(new File(s"$dir/setup$SetupReps"))
    val e2e = wl.e2e ++ Map("setup_s" -> (Stats.median(genS) + warmS), "peak_rss_mb" -> rss)
    val metrics: Seq[(String, Double)] =
      if (!trace) Metrics.EndToEnd.map { case (n, _) => n -> e2e(n) }
      else {
        val canary1 = Canary.ms(spark)
        val layer = mutable.Map[String, Double]() ++ wl.layer ++
          Layers.spark(tracer, wl.wallSeconds) ++
          Map("jvm.gc_ms" -> (gc1 - gc0).toDouble, "env.canary_ms" -> (canary0 + canary1) / 2) ++
          e2e.map { case (k, v) => s"traced.$k" -> v }
        (cg0, cg1) match {
          case (Some((c0, ms0, f0)), Some((c1, ms1, f1))) =>
            layer ++= Map("codegen.compiles" -> (c1 - c0).toDouble,
              "codegen.compile_ms" -> (ms1 - ms0) / 1000.0, "codegen.fallbacks" -> (f1 - f0).toDouble)
          case _ =>
        }
        tracer.dump(s"$dir/trace.jsonl")
        Metrics.PerLayer.map { case (n, _) => n -> layer.getOrElse(n, 0.0) }
      }
    val units = (Metrics.EndToEnd ++ Metrics.PerLayer).toMap
    val failures = scala.jdk.CollectionConverters.IteratorHasAsScala(ctx.failures.iterator()).asScala.toSeq
    failures.take(20).foreach(f => System.err.println(s"[perfbench] FAILED $f"))
    System.err.println(s"[perfbench] generation s ${genS.map(Json.num).mkString(" ")}, warm-up s ${Json.num(warmS)}")
    tracer.codegenLog.foreach { c =>
      c.fallbackReasons.forEach((r, n) => System.err.println(s"[perfbench] codegen fallback x$n: $r"))
    }
    val result = Json.obj(Seq(
      "correct" -> (if (failures.isEmpty) "true" else "false"),
      "attempted" -> ctx.attempted.get.toString,
      "failed" -> failures.size.toString,
      "metrics" -> Json.obj(metrics.map { case (n, v) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(units(n))))
      })))
    println(result)
    spark.stop()
  }
}

/** A fixed synthetic pipeline timed before and after a traced run, to tell
  * a slow machine window from a slow program. */
object Canary {
  def ms(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0, 3000000, 1, 4).selectExpr("sum(id * 7 % 13) as s", "count(distinct id % 1000) as d")
      .collect()
    (System.nanoTime() - t0) / 1e6
  }
}

/** Per-op Spark counters over the measured operations. */
object Layers {
  def spark(t: Tracer, wall: Double): Map[String, Double] = {
    val ops = t.measuredOps
    val n = math.max(1, ops.size).toDouble
    val js = t.jobsOf(ops.map(_.id).toSet)
    val ss = t.stagesOf(js)
    val busy = ss.map(_.runMs).sum / 1000.0
    val all = t.spans.synchronized(t.spans.filter(_.phase == "measure").toList)
    def p50(k: String) = Stats.median(all.flatMap(_.attrs.get(k)))
    Map(
      "spark.jobs_per_op" -> js.size / n,
      "spark.stages_per_op" -> ss.size / n,
      "spark.tasks_per_op" -> ss.map(_.tasks).sum / n,
      "spark.busy_core_s" -> busy,
      "spark.util" -> (if (wall > 0) busy / (wall * 4) else 0.0),
      "spark.shuffle_bytes" -> ss.map(_.shuffleBytes).sum.toDouble,
      "spark.shuffle_records" -> ss.map(_.shuffleRecords).sum.toDouble,
      "spark.spill_bytes" -> ss.map(_.spillBytes).sum.toDouble,
      "spark.input_bytes_per_op" -> ss.map(_.inputBytes).sum / n,
      "spark.output_bytes" -> ss.map(_.outputBytes).sum.toDouble,
      "spark.analysis_ms" -> p50("phase.analysis"),
      "spark.optimization_ms" -> p50("phase.optimization"),
      "spark.planning_ms" -> p50("phase.planning"),
      "call.build_ms" -> p50("build_ms"),
      "call.exec_ms" -> p50("exec_ms"))
  }
}
