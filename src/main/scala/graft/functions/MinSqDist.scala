package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native min-squared-L2 of a vector against a driver-held center set:
  * `min over c of sum_i (vec_i - c_i)^2` — the per-point cost term of
  * the kmeans|| seeding rounds ([[graft.datax.Similarity]]'s
  * `ivfSeedsKMeansParallel`) and the per-subspace encode error
  * (`encodeErrorSum`).
  *
  * Replaces the interpreted composition
  * `array_min(transform(centersLit, c => aggregate(zip_with(vec, c,
  * (x,y) => (x-y)*(x-y)), 0.0, +)))`: per row that form pays
  * |centers| * dim interpreted lambda evaluations plus |centers|
  * zipped-array allocations for what is a two-level loop. This
  * expression is the loop, codegen'd, with zero per-row allocation.
  *
  * BIT-EXACTNESS (the composed form's semantics, reproduced exactly):
  *  - Per center, the distance is the ascending-dimension left fold
  *    `acc += (x - y) * (x - y)` — the same doubles in the same order.
  *  - zip_with pads the SHORTER side with nulls and the fold poisons on
  *    null, so a center whose length differs from the vector's yields a
  *    NULL distance; likewise any NULL element inside the vector
  *    (centers come from driver Seqs and cannot hold nulls). NULL
  *    distances are SKIPPED by array_min.
  *  - array_min's ordering: NaN counts GREATER than any non-NaN (a NaN
  *    distance never beats a finite one; all-NaN yields NaN).
  *  - NULL vector, zero centers, or every distance NULL -> NULL.
  */
case class MinSqDist(child: Expression, centers: Seq[Seq[Double]])
    extends UnaryExpression {

  @transient private lazy val cArr: Array[Array[Double]] =
    centers.map(_.toArray).toArray

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_min_sqdist requires an array<double> argument, got $other")
  }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_min_sqdist"

  override def nullSafeEval(a: Any): Any = {
    val vec = a.asInstanceOf[ArrayData]
    val dim = vec.numElements()
    var hasNullElem = false
    var i = 0
    while (i < dim && !hasNullElem) {
      if (vec.isNullAt(i)) hasNullElem = true
      i += 1
    }
    var found = false
    var best = 0.0
    var c = 0
    while (c < cArr.length) {
      val cv = cArr(c)
      if (!hasNullElem && cv.length == dim) {
        var acc = 0.0
        i = 0
        while (i < dim) {
          val d = vec.getDouble(i) - cv(i)
          acc += d * d
          i += 1
        }
        val lt =
          if (!found) true
          else if (java.lang.Double.isNaN(acc)) false
          else java.lang.Double.isNaN(best) || acc < best
        if (lt) { best = acc; found = true }
      }
      c += 1
    }
    if (found) best else null
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val cRef = ctx.addReferenceObj("sqdistCenters", cArr, "double[][]")
      val dim = ctx.freshName("dim")
      val i = ctx.freshName("i")
      val c = ctx.freshName("c")
      val cv = ctx.freshName("cv")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      val best = ctx.freshName("best")
      val found = ctx.freshName("found")
      val hasNull = ctx.freshName("hasNull")
      val lt = ctx.freshName("lt")
      // no line may BEGIN with `|` once this margin is stripped: the
      // whole-stage templates strip margins again, which would eat a
      // leading `||` (the NearestCentroid note)
      s"""
         |int $dim = $v.numElements();
         |boolean $hasNull = false;
         |for (int $i = 0; $i < $dim && !$hasNull; $i++) {
         |  if ($v.isNullAt($i)) $hasNull = true;
         |}
         |boolean $found = false;
         |double $best = 0.0;
         |for (int $c = 0; $c < $cRef.length; $c++) {
         |  double[] $cv = $cRef[$c];
         |  if (!$hasNull && $cv.length == $dim) {
         |    double $acc = 0.0;
         |    for (int $i = 0; $i < $dim; $i++) {
         |      double $d = $v.getDouble($i) - $cv[$i];
         |      $acc += $d * $d;
         |    }
         |    boolean $lt = !$found ||
         |      (!java.lang.Double.isNaN($acc) &&
         |        (java.lang.Double.isNaN($best) || $acc < $best));
         |    if ($lt) { $best = $acc; $found = true; }
         |  }
         |}
         |if ($found) { ${ev.value} = $best; } else { ${ev.isNull} = true; }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): MinSqDist =
    copy(child = newChild)
}

object MinSqDist {
  /** DataFrame-API entry: min squared L2 to any center, as a Column. */
  def minSqDist(vec: Column, centers: Seq[Seq[Double]]): Column =
    Bridge.column(MinSqDist(Bridge.expression(vec), centers))
}
