package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    new java.io.File(outDir).mkdirs()
    // dev loop: SPARK_GRAFT_ONLY=q1,q2 restricts the dump (driver runs full)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    // Per-query status manifest: a query that CRASHES must leave an
    // explicit error row, not silently vanish from the artifacts (the
    // r8 lesson: two crashed queries simply dropped out of the
    // correctness file and every JSON consumer saw an all-green round).
    val status = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          status(name) = "ok"
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          status(name) = s"error: ${Option(e.getMessage).getOrElse(e.getClass.getName).take(300)}"
        }
      }
    // under SPARK_GRAFT_ONLY, MERGE into an existing oracle map instead
    // of clobbering it: a restricted dev run into a previously-full
    // outDir must not silently shrink the compare coverage of the other
    // queries' dumps sitting alongside
    val oraclePath = Paths.get(s"$outDir/oracle_sql.json")
    val existing: Map[String, String] =
      if (only.isDefined && Files.exists(oraclePath)) {
        val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        val node = mapper.readTree(Files.readString(oraclePath))
        import scala.jdk.CollectionConverters._
        node.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
      } else Map.empty
    // drop entries for queries no longer registered: a renamed/removed
    // query would otherwise leave a stale oracle/status key that trips a
    // false "no result dir" failure on the next restricted run
    val merged = (existing ++ SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) })
      .filter { case (k, _) => SparkEntry.oracleSql.contains(k) }
    val json = merged
      .map { case (k, v) => s"${JsonEscape.quote(k)}: ${JsonEscape.quote(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(oraclePath, json)
    // status manifest (same SPARK_GRAFT_ONLY merge rule as the oracle
    // map); additive — the driver ignores it, oracle_check.py gates on
    // it so a crashed rows-only query cannot silently disappear
    val statusPath = Paths.get(s"$outDir/verify_status.json")
    val existingStatus: Map[String, String] =
      if (only.isDefined && Files.exists(statusPath)) {
        val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        val node = mapper.readTree(Files.readString(statusPath))
        import scala.jdk.CollectionConverters._
        node.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
      } else Map.empty
    val mergedStatus = (existingStatus ++ status)
      .filter { case (k, _) => SparkEntry.queries.contains(k) } // same staleness rule
    Files.writeString(statusPath, mergedStatus.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${JsonEscape.quote(k)}: ${JsonEscape.quote(v)}" }
      .mkString("{", ",", "}"))
    spark.stop()
  }
}

/** JSON string escaping for the oracle dump: backslash, quote, and ALL
  * control chars (<0x20) — a tab or CR in builder-authored SQL would
  * otherwise make the driver's json.load fail and silently zero the
  * round's correctness. Load-bearing for the harness, hence its own
  * spec (JsonEscapeSpec). */
object JsonEscape {
  def quote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
