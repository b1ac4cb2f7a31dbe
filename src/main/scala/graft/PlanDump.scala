package graft

import org.apache.spark.sql.functions._

/** Round-20 deliverable tool: dump `.explain("formatted")` for declared
  * queries (and the similarity-stack INTERNAL pipelines the round
  * optimized, whose declared entries hide behind a lineage-cutting
  * localCheckpoint) to `plans/<tag>/<name>_<suffix>.txt`.
  *
  * Usage: `runMain graft.PlanDump <outDir> <suffix> [name,name,...]`
  * e.g. `runMain graft.PlanDump plans/r20 before` dumps every declared
  * query; the optional third arg restricts the set. Internal pipelines
  * are always dumped (they are the round's evidence).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = if (args.length > 0) args(0) else "plans/r20"
    val suffix = if (args.length > 1) args(1) else "before"
    val only = if (args.length > 2) Some(args(2).split(",").map(_.trim).toSet)
               else None
    val spark = Sessions.local(8)
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/root/testdata/sf0.01"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))

    def dump(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"), plan)
      println(s"[plandump] $name -> $outDir/${name}_$suffix.txt")
    }

    // Declared queries: the returned frame's physical plan. Entries that
    // build a scratch index and return a localCheckpoint show a trivial
    // scan here — their build/probe pipelines are dumped below instead.
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)
         if only.forall(_.contains(name))) {
      try dump(name, fn(spark, dir))
      catch { case e: Throwable =>
        System.err.println(s"[plandump] $name failed: ${e.getMessage}")
      }
    }

    // ---- similarity-stack internals (the round-20 optimization
    // surface): the assign pass, the PQ codes-table build, the residual
    // build, and one Lloyd round — dumped as the frames the write faces
    // execute, so the Exchange/join structure is visible even though
    // the declared entries cut lineage. Skipped when `only` names
    // specific declared queries.
    if (only.isEmpty) {
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      val (centroids, assigned) = graft.datax.Similarity.ivfIndex(emb, 16)
      dump("internal_ivf_assign", assigned)
      val book = graft.datax.Similarity.pqCentroids(emb)
      dump("internal_pq_code_rows",
        graft.datax.Similarity.pqCodeRowsForPlan(emb, centroids, book))
      dump("internal_residual_rows",
        graft.datax.Similarity.residualRows(emb, centroids, "vec_id",
          "embedding"))
      // the REAL per-round frames (round 21, VERDICT evidence-hygiene):
      // the r20 dumps of these two names captured the collected-table
      // stubs — the lloyd/pqCentroidsKMeans drives collect each round —
      // so the per-round plan faces expose the means query a round
      // aggregates BEFORE its K-bounded collect
      dump("internal_kmeans_round",
        graft.datax.Similarity.kmeansRoundForPlan(emb, 16))
      dump("internal_pq_kmeans_book",
        graft.datax.Similarity.pqKmeansRoundForPlan(emb))
      dump("internal_kmeanspar_cost",
        graft.datax.Similarity.kmeansParCostForPlan(emb))
    }
    spark.stop()
  }
}
