package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{DotProduct, MinSqDist, NearestCentroid, PqCodes, PqLut}

/** Exactness pins for the native vector expressions that replaced
  * interpreted HOF compositions in the similarity family
  * ([[NearestCentroid]], [[MinSqDist]], [[PqCodes]], [[PqLut]]). Each test runs
  * the NATIVE expression and the EXACT column composition it replaced
  * over the same frame — including the hostile corners (null vector,
  * empty vector, ragged dims, NaN elements, zero vectors, exact ties)
  * — and requires value-identical results row by row (java.lang
  * boxed equality: NaN == NaN, -0.0 != 0.0, null == null), i.e. the
  * same bits the oracle hash-compare would see. */
class VectorExprSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private val vecSchema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("vec", ArrayType(DoubleType, containsNull = true),
      nullable = true)))

  /** Hostile + regular vectors, dim 4 where well-formed. */
  private def hostileFrame(): DataFrame = {
    val rows = Seq[(Long, Seq[java.lang.Double])](
      (1L, Seq(1.0, 0.0, 0.0, 0.0)),
      (2L, Seq(0.0, 1.0, 0.0, 0.0)),
      (3L, Seq(-1.0, -2.0, 3.0, 0.5)),
      (4L, Seq(0.25, 0.25, 0.25, 0.25)),
      (5L, Seq(0.0, 0.0, 0.0, 0.0)),            // zero vector: 0/0 sims = NaN
      (6L, null),                                // null vector
      (7L, Seq.empty[java.lang.Double]),         // empty vector
      (8L, Seq(1.0, 2.0)),                       // ragged short
      (9L, Seq(1.0, 2.0, 3.0, 4.0, 5.0, 6.0)),   // ragged long
      (10L, Seq(Double.NaN, 1.0, 1.0, 1.0)),     // NaN element
      (11L, Seq(1.0, null, 3.0, 4.0)),           // null element
      (12L, Seq(1e300, 1e300, -1e300, 1e300)),   // overflow-prone dots
      (13L, Seq(2.0, 0.0, 0.0, 1e-30))
    ).map { case (id, v) => Row(id, v) }
    spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters
        .SeqHasAsJava(rows).asJava), vecSchema)
  }

  /** [[hostileFrame]] written to and read back from parquet: a frame
    * the optimizer cannot fold into a local relation, so a select over
    * it is planned as a whole-stage-codegen'd scan + project — the
    * CODEGEN path of every expression in it. (A select over
    * [[hostileFrame]] itself is evaluated on the driver by
    * ConvertToLocalRelation through each expression's interpreted
    * `eval`.) */
  private def withParquetHostile(body: DataFrame => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft-vexpr").toString
    try {
      hostileFrame().write.mode("overwrite").parquet(s"$dir/h")
      body(spark.read.parquet(s"$dir/h"))
    } finally {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
      ()
    }
  }

  /** Runs `body` with generated-code compile failures raised instead of
    * silently falling back to interpreted eval. */
  private def noCodegenFallback[T](body: => T): T = {
    val prev = spark.conf.get("spark.sql.codegen.fallback", "true")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try body finally spark.conf.set("spark.sql.codegen.fallback", prev)
  }

  /** Boxed-value identity: NaN == NaN, -0.0 != 0.0, null == null —
    * java.lang equality, NOT Scala's number-unboxing == (which reads
    * NaN != NaN and would miss a -0.0/0.0 drift). */
  private def sameValue(a: Any, b: Any): Boolean = (a, b) match {
    case (null, null) => true
    case (null, _) | (_, null) => false
    case (x: java.lang.Double, y: java.lang.Double) => x.equals(y)
    case (x: scala.collection.Seq[_], y: scala.collection.Seq[_]) =>
      x.length == y.length && x.lazyZip(y).forall(sameValue)
    case _ => a == b
  }

  private def assertSameRows(df: DataFrame, oldCol: Column, newCol: Column): Unit = {
    val got = df.select(col("id"), oldCol.as("o"), newCol.as("n"))
      .collect().sortBy(_.getLong(0))
    got.foreach { r =>
      assert(sameValue(r.get(1), r.get(2)),
        s"id=${r.getLong(0)}: interpreted=${r.get(1)} native=${r.get(2)}")
    }
    assert(got.nonEmpty)
  }

  // ---- NearestCentroid ------------------------------------------------

  /** The r20 interpreted argmax, verbatim (entries (cvec, cid, ix,
    * cnorm), row norm inlined exactly as the committed r20 plan dumps
    * show CollapseProject evaluated it). */
  private def oldNearest(vec: Column,
                         entries: Seq[(Seq[Double], Long, Int, Double)]): Column =
    element_at(array_sort(transform(typedLit(entries), c =>
      struct(
        (DotProduct.dotp(vec, c.getField("_1"))
          / (sqrt(DotProduct.dotp(vec, vec)) * c.getField("_4"))).as("s"),
        (-c.getField("_2")).as("nc"),
        c.getField("_2").as("cid"),
        c.getField("_3").as("ix")))), -1)

  private def entriesOf(cents: Seq[(Long, Seq[Double])])
      : Seq[(Seq[Double], Long, Int, Double)] =
    cents.sortBy(_._1).zipWithIndex.map { case ((cid, v), ix) =>
      var acc = 0.0
      var i = 0
      while (i < v.length) { acc += v(i) * v(i); i += 1 }
      (v, cid, ix, math.sqrt(acc))
    }

  private def nativeNearest(vec: Column, cents: Seq[(Long, Seq[Double])]): Column = {
    val sorted = cents.sortBy(_._1)
    val entries = entriesOf(cents)
    NearestCentroid.slot(vec, sorted.map(_._2), entries.map(_._4))
  }

  test("NearestCentroid == r20 array_sort argmax on hostile inputs (slot)") {
    val cents: Seq[(Long, Seq[Double])] = Seq(
      (7L, Seq(1.0, 0.0, 0.0, 0.0)),
      (3L, Seq(0.0, 1.0, 0.0, 0.0)),
      (12L, Seq(0.0, 1.0, 0.0, 0.0)),   // duplicate VECTOR, distinct cid: exact tie
      (5L, Seq(-0.5, 0.5, -0.5, 0.5)),
      (9L, Seq(0.0, 0.0, 0.0, 0.0)))    // zero centroid: NaN sims
    val df = hostileFrame()
    assertSameRows(df,
      oldNearest(col("vec"), entriesOf(cents)).getField("ix"),
      nativeNearest(col("vec"), cents))
    // and the derived cid (the value every assignment face stores)
    val cidsLit = typedLit(cents.sortBy(_._1).map(_._1))
    assertSameRows(df,
      oldNearest(col("vec"), entriesOf(cents)).getField("cid"),
      element_at(cidsLit, nativeNearest(col("vec"), cents) + 1))
  }

  test("NearestCentroid ties go to the lowest cid; NaN sims count largest") {
    val df = hostileFrame()
    // two identical centroids: winner must be the lower cid, every row
    val cents = Seq((42L, Seq(1.0, 1.0, 1.0, 1.0)), (41L, Seq(1.0, 1.0, 1.0, 1.0)))
    val slots = df.filter(col("vec").isNotNull)
      .select(nativeNearest(col("vec"), cents).as("s")).collect().map(_.getInt(0))
    assert(slots.forall(_ == 0), s"tie must pick slot 0 (cid 41), got ${slots.toSeq}")
    // a NaN-element centroid's sim is NaN for finite rows (NaN norm ->
    // NaN divisor -> NaN quotient); NaN sorts LARGEST so it beats any
    // finite sim — and the composed form agrees (assertSameRows above)
    val cents2 = Seq((1L, Seq(1.0, 0.0, 0.0, 0.0)), (2L, Seq(Double.NaN, 0.0, 0.0, 0.0)))
    val s = df.filter(col("id") === 3L)
      .select(nativeNearest(col("vec"), cents2).as("s")).head().getInt(0)
    assert(s == 1, "NaN sim (NaN-element centroid) must beat a finite sim")
    // a ZERO centroid's sim is SQL NULL (Divide nulls on zero divisor,
    // it does NOT produce NaN) and null sorts SMALLEST: it must LOSE
    // to any non-null sim — even a negative one
    val cents3 = Seq((1L, Seq(0.0, 0.0, 0.0, 0.0)), (2L, Seq(1.0, 0.0, 0.0, 0.0)))
    val s3 = df.filter(col("id") === 3L)
      .select(nativeNearest(col("vec"), cents3).as("s")).head().getInt(0)
    assert(s3 == 1, "null sim (zero centroid) must lose to a finite sim")
  }

  test("NearestCentroid: null vector lands on slot 0 (lowest cid), not null") {
    val cents = Seq((5L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0)))
    val got = hostileFrame().filter(col("id") === 6L)
      .select(nativeNearest(col("vec"), cents).as("s")).head()
    assert(!got.isNullAt(0) && got.getInt(0) == 0)
  }

  // ---- MinSqDist ------------------------------------------------------

  /** The r20 interpreted composition, verbatim. */
  private def oldMinSq(vec: Column, centers: Seq[Seq[Double]]): Column =
    array_min(transform(typedLit(centers), c =>
      aggregate(zip_with(vec, c, (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, x) => acc + x)))

  test("MinSqDist == array_min over ordered sqDist folds on hostile inputs") {
    val centers: Seq[Seq[Double]] = Seq(
      Seq(0.0, 0.0, 0.0, 0.0),
      Seq(1.0, 2.0, 3.0, 4.0),
      Seq(Double.NaN, 0.0, 0.0, 0.0),  // NaN distance: never beats finite
      Seq(1.0, 2.0),                   // ragged center: null distance
      Seq(1e300, -1e300, 1e300, 0.0))  // overflow: +Infinity distance
    assertSameRows(hostileFrame(),
      oldMinSq(col("vec"), centers),
      MinSqDist.minSqDist(col("vec"), centers))
  }

  test("MinSqDist: all-mismatched lengths and zero centers yield null") {
    val df = hostileFrame().filter(col("id") === 1L)
    val r1 = df.select(MinSqDist.minSqDist(col("vec"), Seq(Seq(1.0, 2.0))).as("d")).head()
    assert(r1.isNullAt(0))
    val r2 = df.select(MinSqDist.minSqDist(col("vec"), Seq.empty[Seq[Double]]).as("d")).head()
    assert(r2.isNullAt(0))
  }

  // ---- PqCodes --------------------------------------------------------

  /** The r20 interpreted codesArray, verbatim. */
  private def oldCodes(vec: Column, book: Seq[Seq[Seq[Double]]]): Column = {
    val m = book.length
    val dsub = book.head.head.length
    array((0 until m).map { s =>
      val sl = slice(vec, s * dsub + 1, dsub)
      val dists = array(book(s).map(c =>
        aggregate(zip_with(sl, typedLit(c), (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc, x) => acc + x)): _*)
      array_position(dists, array_min(dists)).cast("int") - 1
    }: _*)
  }

  test("PqCodes == exploded first-min composition on hostile inputs") {
    // m=2 subspaces x ksub=3 centers x dsub=2, with an exact-tie pair
    // (centers 0 and 1 of sub 0 identical -> tie to the LOWEST cid)
    // and a NaN center
    val book: Seq[Seq[Seq[Double]]] = Seq(
      Seq(Seq(1.0, 0.0), Seq(1.0, 0.0), Seq(0.0, 1.0)),
      Seq(Seq(0.0, 0.0), Seq(Double.NaN, 0.0), Seq(5.0, 5.0)))
    assertSameRows(hostileFrame(),
      oldCodes(col("vec"), book),
      PqCodes.codes(col("vec"), book))
  }

  test("PqCodes: null vector encodes to m null codes in a non-null array") {
    val book: Seq[Seq[Seq[Double]]] =
      Seq(Seq(Seq(1.0, 0.0)), Seq(Seq(0.0, 1.0)), Seq(Seq(1.0, 1.0)))
    val r = hostileFrame().filter(col("id") === 6L)
      .select(PqCodes.codes(col("vec"), book).as("c")).head()
    assert(!r.isNullAt(0))
    val arr = r.getSeq[Any](0)
    assert(arr.length == 3 && arr.forall(_ == null))
  }

  test("PqCodes: ragged vector nulls exactly the truncated subspaces") {
    val book: Seq[Seq[Seq[Double]]] =
      Seq(Seq(Seq(1.0, 0.0)), Seq(Seq(0.0, 1.0)), Seq(Seq(1.0, 1.0)))
    // dim 4 vector against m=3 x dsub=2: sub 2 slices past the end
    val r = hostileFrame().filter(col("id") === 1L)
      .select(PqCodes.codes(col("vec"), book).as("c"),
        oldCodes(col("vec"), book).as("o")).head()
    assert(r.getSeq[Any](0) == r.getSeq[Any](1))
    assert(r.getSeq[Any](0).last == null)
  }

  // ---- PqLut -----------------------------------------------------------

  /** The pre-native ADC lookup-table composition, verbatim: per
    * subspace, an array of ordered sqDist folds of the query slice
    * against each literal center. */
  private def oldLut(vec: Column, book: Seq[Seq[Seq[Double]]]): Column = {
    val dsub = book.head.head.length
    array(book.indices.map { s =>
      val sl = slice(vec, s * dsub + 1, dsub)
      array(book(s).map(c =>
        aggregate(zip_with(sl, typedLit(c), (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc, x) => acc + x)): _*)
    }: _*)
  }

  /** m=2 x ksub=3 x dsub=2 with a NaN center, a -0.0 center and an
    * overflow-prone one. */
  private val lutBook: Seq[Seq[Seq[Double]]] = Seq(
    Seq(Seq(1.0, 0.0), Seq(-0.0, -0.0), Seq(Double.NaN, 1.0)),
    Seq(Seq(0.0, 0.0), Seq(1e300, -1e300), Seq(0.5, -0.5)))

  /** Adds -0.0 rows to the hostile set: -0.0 - -0.0 and -0.0 - 0.0
    * must fold to the same bits as the composed form. */
  private def lutFrame(df: DataFrame): DataFrame =
    df.unionByName(df.filter(col("id") === 5L).select(
      lit(14L).as("id"), typedLit(Seq(-0.0, -0.0, -0.0, -0.0)).as("vec")))

  test("PqLut == composed sqDist folds on hostile inputs (interpreted eval path)") {
    val df = lutFrame(hostileFrame())
    val plan = df.select(col("id"), PqLut.lut(col("vec"), lutBook).as("n"))
      .queryExecution.executedPlan
    assert(!plan.toString.contains("graft_pq_lut"),
      s"the local frame must be evaluated while optimizing (interpreted eval):\n$plan")
    assertSameRows(df, oldLut(col("vec"), lutBook), PqLut.lut(col("vec"), lutBook))
  }

  test("PqLut == composed sqDist folds on hostile inputs (codegen path)") {
    noCodegenFallback {
      withParquetHostile { h =>
        val df = lutFrame(h)
        val plan = df.select(col("id"), PqLut.lut(col("vec"), lutBook).as("n"))
          .queryExecution.executedPlan
        assert(plan.collect {
            case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
          }.exists(_.toString.contains("graft_pq_lut")),
          s"graft_pq_lut must run inside WholeStageCodegen:\n$plan")
        assertSameRows(df, oldLut(col("vec"), lutBook), PqLut.lut(col("vec"), lutBook))
      }
    }
  }

  test("PqLut: null vector yields m rows of ksub nulls in a non-null table") {
    val r = hostileFrame().filter(col("id") === 6L)
      .select(PqLut.lut(col("vec"), lutBook).as("t")).head()
    assert(!r.isNullAt(0))
    val t = r.getSeq[scala.collection.Seq[Any]](0)
    assert(t.length == 2 && t.forall(row => row.length == 3 && row.forall(_ == null)))
  }

  test("all four expressions whole-stage-compile — no silent interpreted fallback") {
    // spark.sql.codegen.fallback=false turns a generated-code compile
    // failure into a raise instead of the silent interpreted fallback
    // that would eat the optimization (this caught the round-21 Block
    // margin bug: the code interpolator does NOT strip | margins, and
    // the pipes reached Janino). The input is a parquet scan: over a
    // local frame the select is evaluated on the driver and nothing is
    // compiled at all.
    noCodegenFallback {
      withParquetHostile { h =>
        val cents = Seq((1L, Seq(1.0, 0.0, 0.0, 0.0)), (2L, Seq(0.0, 1.0, 0.0, 0.0)))
        val book: Seq[Seq[Seq[Double]]] =
          Seq(Seq(Seq(1.0, 0.0), Seq(0.0, 1.0)), Seq(Seq(0.5, 0.5)))
        val q = h.filter(col("id") <= 4L)
          .select(
            nativeNearest(col("vec"), cents).as("slot"),
            MinSqDist.minSqDist(col("vec"), cents.map(_._2)).as("d"),
            PqCodes.codes(col("vec"), book).as("codes"),
            PqLut.lut(col("vec"), book).as("lut"))
        val plan = q.queryExecution.executedPlan
        val wsc = plan.collect {
          case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
        }
        assert(wsc.exists(_.toString.contains("graft_nearest_centroid")),
          s"the native expressions must sit inside WholeStageCodegen:\n$plan")
        assert(q.collect().length == 4)
      }
    }
  }

  // ---- interpreted (non-codegen) eval path ----------------------------

  test("interpreted eval paths match the codegen results") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val vec = new GenericArrayData(Array[Any](3.0, 4.0))
    // NearestCentroid.nearestSlot: (0,1) beats (1,0) for (3,4)
    val slot = graft.functions.NearestCentroid.nearestSlot(vec,
      Array(Array(1.0, 0.0), Array(0.0, 1.0)), Array(1.0, 1.0))
    assert(slot == 1)
    // PqCodes.encode: nearest of sub-0 centers to (3,4)
    val codes = PqCodes.encode(vec,
      Array(Array(Array(0.0, 0.0), Array(3.0, 4.0))), 2)
    assert(codes.toSeq == Seq(1))
  }
}
