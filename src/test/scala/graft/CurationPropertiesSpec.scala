package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.datax.Curation

/** Property-based invariants for the curation family (SURVEY.md §5.3),
  * complementing the fixed-example CurationSpec rows: random corpora
  * exercise bin-boundary, tie, and group-size shapes the examples never
  * hit, and each property is checked against an INDEPENDENT Scala model
  * (a literal re-statement of the documented contract, not a replay of
  * the operator's plan). All generators are seeded. */
class CurationPropertiesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  import PropGen.int

  test("packSequences == the sequential next-fit model on random token counts") {
    val s = spark
    import s.implicits._
    val budget = 16; val shards = 4
    // token counts 1..20 straddle the budget: same-bin fits, overflow
    // closes, and the oversized-doc (n > budget) own-bin path all occur
    val docs = (0 until 48).map { i =>
      val n = int(9001L + i, 1, 20)
      (i.toLong, Seq.fill(n)("w").mkString(" "))
    }
    val got = Curation.packSequences(docs.toDF("doc_id", "text"),
        "doc_id", "text", budget = budget, shards = shards)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4)))
      .sortBy(_._1).toSeq
    // model: per shard (id % shards), walk ids ascending with next-fit state
    val want = docs.map { case (id, text) => (id, text.split(" ").length) }
      .groupBy { case (id, _) => (id % shards).toInt }
      .toSeq.flatMap { case (shard, members) =>
        var bin = 0; var fill = 0
        members.sortBy(_._1).map { case (id, n) =>
          if (fill > 0 && fill + n > budget) { bin += 1; fill = 0 }
          val off = fill
          fill += n
          (id, shard, bin, off, n)
        }
      }.sortBy(_._1)
    assert(got == want, "every (shard, bin, offset) must match the " +
      "next-fit model walk exactly")
    // and the packing contract itself: no multi-doc bin exceeds the budget
    got.groupBy(t => (t._2, t._3)).foreach { case ((sh, b), ds) =>
      val total = ds.map(_._5).sum
      assert(total <= budget || ds.length == 1,
        s"bin ($sh, $b) holds $total tokens across ${ds.length} docs")
    }
    // non-vacuity: the generated counts hit the oversized-doc own-bin
    // path AND the multi-doc path (otherwise this seed proves nothing)
    assert(got.exists(_._5 > budget), "no oversized doc generated")
    assert(got.groupBy(t => (t._2, t._3)).exists(_._2.length > 1),
      "no multi-doc bin generated")
  }

  test("domainCap rank order == the model sort on a random corpus with " +
       "ties and NULLs") {
    val s = spark
    import s.implicits._
    val words = Seq("the", "alpha", "of", "beta", "gamma", "123", "x")
    // random word-soup text varies quality. Plants: every 5th doc from 20
    // on repeats doc i-20's text — 20 = 0 (mod 4), so the copy lands in
    // the SAME group and forces an exact quality tie (id tie-break path);
    // every 11th doc has NULL text (NULL quality ranks last); every 7th a
    // NULL group (one window partition of its own)
    val soup = (0 until 66).map { i =>
      (0 until int(9101L + i, 3, 9))
        .map(j => words(int(9200L + 13 * i + j, 0, words.length - 1)))
        .mkString(" ")
    }
    val docs = (0 until 66).map { i =>
      val text = if (i % 11 == 3) null
                 else if (i % 5 == 0 && i >= 20) soup(i - 20)
                 else soup(i)
      (i.toLong, if (i % 7 == 0) null else "src" + (i % 4), text)
    }
    val df = docs.toDF("doc_id", "source", "text")

    val cap = 6
    val plain = Curation.domainCap(df, "doc_id", "source", "text", cap)
      .collect().map(r => (r.getLong(0), Option(r.getString(1)),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)), r.getInt(3), r.getBoolean(4)))
      .sortBy(_._1).toSeq
    assert(plain.length == docs.length, "domainCap ranks every row, nulls included")

    // model the WINDOW from the output's own quality column: per group,
    // (quality desc NULLS LAST, id asc) positions are the ranks
    plain.groupBy(_._2).foreach { case (grp, rows) =>
      val order = rows.sortBy { case (id, _, q, _, _) =>
        (q.map(x => -x).getOrElse(Double.MaxValue), id)
      }
      order.zipWithIndex.foreach { case ((id, _, _, rank, keep), i) =>
        assert(rank == i + 1, s"doc $id in group $grp: rank $rank, model ${i + 1}")
        assert(keep == (rank <= cap))
      }
    }

    // non-vacuity: the corpus really contains within-group exact quality
    // ties, NULL qualities, and a NULL group — the paths under test
    assert(plain.groupBy(r => (r._2, r._3)).exists(g =>
      g._1._2.isDefined && g._2.length > 1), "no within-group quality tie")
    assert(plain.exists(_._3.isEmpty), "no NULL-quality row")
    assert(plain.exists(_._2.isEmpty), "no NULL-group row")
  }

  test("chunkSequences == the stride-window model on random doc lengths") {
    val s = spark
    import s.implicits._
    val window = 7; val stride = 3
    // lengths 1..40 cover: fits-one-window, exact boundary, long tail;
    // distinct tokens make the emitted chunk text verify slicing itself
    val docs = (0 until 32).map { i =>
      val n = int(9301L + i, 1, 40)
      (i.toLong, (0 until n).map(j => s"t$j").mkString(" "))
    }
    val got = Curation.chunkSequences(docs.toDF("doc_id", "text"),
        "doc_id", "text", windowTokens = window, strideTokens = stride)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4)))
      .sortBy(t => (t._1, t._2)).toSeq
    val want = docs.flatMap { case (id, text) =>
      val toks = text.split(" ")
      val n = toks.length
      val kMax = if (n > window) (n - window + stride - 1) / stride else 0
      (0 to kMax).map { k =>
        val start = k * stride
        val slice = toks.slice(start, start + window)
        (id, k, start, slice.length, slice.mkString(" "))
      }
    }.sortBy(t => (t._1, t._2))
    assert(got == want, "chunk ids, starts, sizes, and reassembled text " +
      "must match the stride-window model")
    // the model's own sanity: every token position is covered by some chunk
    want.groupBy(_._1).foreach { case (id, chunks) =>
      val n = docs(id.toInt)._2.split(" ").length
      val covered = chunks.flatMap(c => c._3 until (c._3 + c._4)).toSet
      assert(covered == (0 until n).toSet, s"doc $id: coverage gap")
    }
    // non-vacuity: both the one-window and the multi-chunk-with-partial-
    // tail shapes occur under this seed
    assert(want.groupBy(_._1).exists(_._2.length == 1), "no one-window doc")
    assert(want.exists(c => c._2 > 0 && c._4 < window), "no partial tail")
  }

  test("stratifiedSample == the md5-threshold model (independently computed " +
       "buckets and integer-div thresholds)") {
    val s = spark
    import s.implicits._
    // deliberately uneven groups: 40 / 24 / 16 — caps derive from the min
    val docs = (0 until 80).map { i =>
      val g = if (i < 40) "big" else if (i < 64) "mid" else "small"
      (i.toLong, g)
    }
    val got = Curation.stratifiedSample(docs.toDF("doc_id", "grp"),
        "doc_id", "grp")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2),
        r.getInt(3), r.getBoolean(4)))
      .sortBy(_._1).toSeq
    val md = java.security.MessageDigest.getInstance("MD5")
    def bucket(id: Long): Int = {
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.take(8)
      (java.lang.Long.parseLong(hex, 16) % 10000L).toInt
    }
    val sizes = docs.groupBy(_._2).map { case (g, m) => g -> m.length }
    val capN = sizes.values.min
    val want = docs.map { case (id, g) =>
      val threshold = (10000 * capN) / sizes(g) // integer division, as the op
      val b = bucket(id)
      (id, g, b, threshold, b < threshold)
    }
    assert(got == want,
      "buckets, thresholds, and keep flags must match the md5 model")
    // contract-level: the smallest group keeps everything
    assert(got.filter(_._2 == "small").forall(_._5),
      "threshold 10000 keeps every row of the smallest group")
  }
}
