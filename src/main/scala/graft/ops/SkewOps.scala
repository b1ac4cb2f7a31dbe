package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation for hot keys (the 100 TB failure mode AQE can't always
  * save: one reducer drowning in a single key's rows).
  *
  * [[saltedAgg]] is two-phase aggregation — groupBy(key, salt) splits a
  * hot key across `buckets` reducers, then groupBy(key) combines the
  * partials. Identical results to the direct aggregation for algebraic
  * aggregates (sum/count/min/max) — verified by the oracle (q: k01) — at
  * the cost of one extra (tiny) shuffle.
  *
  * Salts must be DETERMINISTIC (hash of a row column, never rand()) —
  * retried tasks must land rows in the same bucket or results diverge
  * under failure replay.
  */
object SkewOps {

  /** Deterministic salt in [0, buckets) from `saltBy`. */
  private def salt(saltBy: Column, buckets: Int): Column =
    pmod(xxhash64(saltBy), lit(buckets.toLong)).cast("int")

  /** Two-phase salted sum/count. `aggs` maps output name -> (partial
    * aggregation over raw rows, final aggregation over partials). */
  def saltedAgg(df: DataFrame, keyCols: Seq[String], saltBy: Column,
                buckets: Int,
                aggs: Seq[(String, Column => Column, String => Column)],
                valueCol: String): DataFrame = {
    val partial = df
      .withColumn("_salt", salt(saltBy, buckets))
      .groupBy((keyCols :+ "_salt").map(col): _*)
      .agg(aggs.head._2(col(valueCol)).as("_p_" + aggs.head._1),
        aggs.tail.map(a => a._2(col(valueCol)).as("_p_" + a._1)): _*)
    partial
      .groupBy(keyCols.map(col): _*)
      .agg(aggs.head._3("_p_" + aggs.head._1).as(aggs.head._1),
        aggs.tail.map(a => a._3("_p_" + a._1).as(a._1)): _*)
  }
}
