package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native PQ lookup table: the m x ksub asymmetric-distance table of
  * one (un-quantized) vector against a driver-held codebook tensor
  * (m x ksub x dsub) in ONE expression — entry (s, j) = squared L2
  * between the vector's s-th slice and center j of subspace s. This is
  * the per-query (per probed centroid, on a residual index) table that
  * [[AdcLookup]] then reads m times per candidate, in
  * [[graft.datax.Similarity]]'s `pqTopK` and `ivfPqTopK`.
  *
  * Replaces the interpreted composition `array(per subspace:
  * array(per center: aggregate(zip_with(slice(vec, s*dsub+1, dsub),
  * lit(center), (x, y) => (x-y)*(x-y)), 0.0, (acc, x) => acc + x)))`:
  * m x ksub interpreted folds with the codebook inlined as literals — a
  * plan that grows with the codebook and pays dsub lambda evaluations
  * per entry. The codebook rides as ONE codegen reference object
  * ([[PqCodes]]'s pattern), so plan size is O(1) in m x ksub.
  *
  * BIT-EXACTNESS (the composed fold's semantics, reproduced exactly):
  *  - Per (sub, center): the ascending left fold `acc += (x-y)*(x-y)`
  *    from +0.0 over the slice — identical doubles in identical order
  *    (NaN and -0.0 propagate through the same IEEE operations).
  *  - `slice` truncates at the vector's end and zip_with pads the
  *    shorter side with nulls, which poison the fold: a slice whose
  *    length differs from the center's (ragged vector or codebook), or
  *    a null element inside the slice, yields a NULL entry. A zero-
  *    length slice against a zero-length center folds nothing: 0.0.
  *  - NULL vector -> every entry null; neither the table nor any of
  *    its m rows is ever null (the composed form built `array(...)`s
  *    of null folds).
  */
case class PqLut(child: Expression, book: Seq[Seq[Seq[Double]]])
    extends UnaryExpression {

  require(book.nonEmpty && book.head.nonEmpty && book.head.head.nonEmpty,
    "PqLut needs a non-empty codebook (m >= 1 subspaces, ksub >= 1 " +
      "centers, dsub >= 1 dims)")

  /** The slice width — the composed form's `dsub = book.head.head.length`. */
  @transient private lazy val dsub = book.head.head.length
  @transient private lazy val bookArr: Array[Array[Array[Double]]] =
    book.map(_.map(_.toArray).toArray).toArray

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_pq_lut requires an array<double> argument, got $other")
  }
  override def dataType: DataType =
    ArrayType(ArrayType(DoubleType, containsNull = true), containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_pq_lut"

  override def eval(input: InternalRow): Any =
    PqLut.table(child.eval(input).asInstanceOf[ArrayData], bookArr, dsub)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    val bookRef = ctx.addReferenceObj("pqBook", bookArr, "double[][][]")
    val cls = classOf[PqLut].getName + "$.MODULE$"
    val code =
      code"""
${childGen.code}
org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
  $cls.table(${childGen.isNull} ? null : ${childGen.value}, $bookRef, $dsub);
"""
    ev.copy(code = code, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): PqLut =
    copy(child = newChild)
}

object PqLut {
  /** DataFrame-API entry: the m x ksub table as one
    * `array<array<double>>` Column. `book(s)(j)` = center j
    * (cid-ascending) of subspace s. */
  def lut(vec: Column, book: Seq[Seq[Seq[Double]]]): Column =
    Bridge.column(PqLut(Bridge.expression(vec), book))

  /** The shared table loop — called from BOTH eval paths (generated
    * code references the companion as `PqLut$.MODULE$`, the
    * [[PqCodes]] pattern), so one body cannot drift from its fallback
    * twin. A null `vec` yields m rows of ksub nulls. */
  def table(vec: ArrayData, book: Array[Array[Array[Double]]],
            dsub: Int): ArrayData = {
    val dim = if (vec == null) 0 else vec.numElements()
    val m = book.length
    val out = new Array[Any](m)
    var s = 0
    while (s < m) {
      val start = s * dsub
      // slice length after end-truncation (the slice(...) semantics);
      // an entry is non-null only when the center's length equals it
      val slLen = math.max(0, math.min(dsub, dim - start))
      var sliceHasNull = vec == null
      var i = 0
      while (i < slLen && !sliceHasNull) {
        if (vec.isNullAt(start + i)) sliceHasNull = true
        i += 1
      }
      val centers = book(s)
      val row = new Array[Any](centers.length)
      var j = 0
      while (j < centers.length) {
        val cv = centers(j)
        if (!sliceHasNull && cv.length == slLen) {
          var acc = 0.0
          i = 0
          while (i < slLen) {
            val d = vec.getDouble(start + i) - cv(i)
            acc += d * d
            i += 1
          }
          row(j) = acc
        }
        j += 1
      }
      out(s) = new GenericArrayData(row)
      s += 1
    }
    new GenericArrayData(out)
  }
}
