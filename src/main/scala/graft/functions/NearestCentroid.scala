package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** Native nearest-centroid argmax: the 0-based slot (in the given
  * cid-ascending centroid order) of the centroid with the MAXIMUM
  * cosine to the input vector, exact ties to the LOWEST slot — THE
  * per-row hot path of every IVF/PQ build, append encode, Lloyd round
  * and semanticDedup pass ([[graft.datax.Similarity]]'s assignment).
  *
  * Replaces the round-20 interpreted composition
  * `element_at(array_sort(transform(entriesLit, c => struct(sim, -cid,
  * cid, ix))), -1)`: that form pays K interpreted lambda evaluations,
  * K struct allocations and an O(K log K) SORT per row — where a
  * single O(K) fold-max suffices — and (CollapseProject inlining the
  * row-norm projection back into the lambda) re-folds `norm(vec)` once
  * per centroid. This expression is one codegen'd triple loop: the row
  * norm folds ONCE per row, each centroid costs one dot + one divide,
  * and the whole thing whole-stage-compiles with no per-row allocation.
  *
  * BIT-EXACTNESS (the r20 `bestCentroid` contract, reproduced):
  *  - sim = graft_dot(vec, cvec) / (rowNorm * cnorm), with graft_dot's
  *    exact ascending `acc += x*y` fold over min(len) elements,
  *    rowNorm = sqrt(graft_dot(vec, vec)) (same fold), and `cnorms`
  *    the DRIVER-precomputed per-centroid norms (the caller computes
  *    them with the identical ascending fold — LocalCentroids) — every
  *    divisor and dividend is the same double the interpreted form
  *    produced, so every sim is bit-identical.
  *  - A ZERO divisor (zero vector, empty vector, or zero-norm
  *    centroid) makes the sim SQL NULL — Spark's non-ANSI Divide
  *    nulls on `divisor == 0`, it does NOT produce NaN (pinned by
  *    VectorExprSpec against the composed form) — and a null sim
  *    sorts SMALLEST: it loses to every non-null sim and ties other
  *    nulls (tie -> lowest cid).
  *  - The winner comparison on non-null sims is Spark's total order on
  *    doubles (nanSafeCompareDoubles): NaN counts GREATER than any
  *    non-NaN (NaN sims arise from NaN *elements*, whose folds
  *    propagate NaN into dividend and divisor alike), NaN ties
  *    NaN, and -0.0 ties +0.0; ties go to the earliest slot (lowest
  *    centroid_id — the slots are cid-ascending by contract), exactly
  *    the (sim DESC, cid ASC) window pick.
  *  - NULL vector -> slot 0, NOT null: the interpreted form computed a
  *    null sim for every entry, the sort's null-smallest order tied
  *    them all, and the -cid tiebreak handed the win to the lowest
  *    cid = slot 0. (Unreachable behind validEmbeddings, but the
  *    contract is preserved bit-for-bit.)
  *  - Duplicate cids in the table tie on (sim, -cid) and were ORDER-
  *    UNDEFINED in both prior forms (row_number over equal keys /
  *    array_sort over equal structs); this form picks the lowest slot
  *    deterministically. A quantizer with duplicate cids is broken by
  *    construction upstream (every builder emits distinct cids).
  *
  * Null ELEMENTS inside a non-null vector follow [[DotProduct]]'s
  * domain assumption (embedding vectors are element-non-null;
  * `getDouble` on a null slot reads the zeroed storage) — identical to
  * the interpreted form, which ran the same graft_dot.
  */
case class NearestCentroid(child: Expression,
                           cvecs: Seq[Seq[Double]],
                           cnorms: Seq[Double])
    extends UnaryExpression {

  require(cvecs.nonEmpty, "NearestCentroid needs at least one centroid")
  require(cvecs.length == cnorms.length,
    s"${cvecs.length} centroid vectors vs ${cnorms.length} norms")

  @transient private lazy val k = cvecs.length
  @transient private lazy val cvArr: Array[Array[Double]] =
    cvecs.map(_.toArray).toArray
  @transient private lazy val cnArr: Array[Double] = cnorms.toArray

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_nearest_centroid requires an array<double> argument, got $other")
  }
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_nearest_centroid"

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) 0
    else NearestCentroid.nearestSlot(v.asInstanceOf[ArrayData], cvArr, cnArr)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    val cvRef = ctx.addReferenceObj("centroidVecs", cvArr, "double[][]")
    val cnRef = ctx.addReferenceObj("centroidNorms", cnArr, "double[]")
    val v = ctx.freshName("vec")
    val dim = ctx.freshName("dim")
    val i = ctx.freshName("i")
    val c = ctx.freshName("c")
    val m = ctx.freshName("m")
    val cv = ctx.freshName("cv")
    val acc = ctx.freshName("acc")
    val rn = ctx.freshName("rn")
    val s = ctx.freshName("s")
    val best = ctx.freshName("best")
    val bestS = ctx.freshName("bestS")
    val bestNull = ctx.freshName("bestNull")
    val denom = ctx.freshName("denom")
    val gt = ctx.freshName("gt")
    // no generated line may BEGIN with `|`: ProjectExec and the
    // whole-stage templates stripMargin the embedded code (twice), which
    // eats a leading `||` and leaves Janino a call to `bestNull (...)` —
    // a silent fallback to interpreted eval. Operators stay at line ends.
    val code =
      code"""
${childGen.code}
int $best = 0;
if (!${childGen.isNull}) {
  org.apache.spark.sql.catalyst.util.ArrayData $v = ${childGen.value};
  int $dim = $v.numElements();
  double $rn = 0.0;
  for (int $i = 0; $i < $dim; $i++) {
    double $s = $v.getDouble($i);
    $rn += $s * $s;
  }
  $rn = java.lang.Math.sqrt($rn);
  double $bestS = 0.0;
  boolean $bestNull = true;
  for (int $c = 0; $c < $k; $c++) {
    double $denom = $rn * $cnRef[$c];
    if ($denom == 0.0) continue; // sim is SQL NULL: loses/ties-late
    double[] $cv = $cvRef[$c];
    int $m = java.lang.Math.min($dim, $cv.length);
    double $acc = 0.0;
    for (int $i = 0; $i < $m; $i++) {
      $acc += $v.getDouble($i) * $cv[$i];
    }
    double $s = $acc / $denom;
    boolean $gt = $bestNull ||
      (java.lang.Double.isNaN($s) ?
        !java.lang.Double.isNaN($bestS) :
        (!java.lang.Double.isNaN($bestS) && $s > $bestS));
    if ($gt) { $best = $c; $bestS = $s; $bestNull = false; }
  }
}
int ${ev.value} = $best;
"""
    ev.copy(code = code, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCentroid =
    copy(child = newChild)
}

object NearestCentroid {
  /** DataFrame-API entry: winning 0-based slot as a Column.
    * `cvecs` MUST be centroid_id-ascending (ties go to the lowest slot
    * = lowest cid) and `cnorms(i)` must be the ascending `acc += x*x`
    * fold + sqrt of `cvecs(i)` — [[graft.datax.Similarity]]'s
    * LocalCentroids owns both invariants. */
  def slot(vec: Column, cvecs: Seq[Seq[Double]], cnorms: Seq[Double]): Column =
    Bridge.column(NearestCentroid(Bridge.expression(vec), cvecs, cnorms))

  /** Interpreted twin of the generated loop (fallback eval path). */
  private[graft] def nearestSlot(vec: ArrayData,
                                     cvArr: Array[Array[Double]],
                                     cnArr: Array[Double]): Int = {
    val dim = vec.numElements()
    var rn = 0.0
    var i = 0
    while (i < dim) { val x = vec.getDouble(i); rn += x * x; i += 1 }
    rn = math.sqrt(rn)
    var best = 0
    var bestS = 0.0
    var bestNull = true
    var c = 0
    while (c < cvArr.length) {
      val denom = rn * cnArr(c)
      if (denom != 0.0) { // a zero divisor makes the sim SQL NULL: skip
        val cv = cvArr(c)
        val m = math.min(dim, cv.length)
        var acc = 0.0
        i = 0
        while (i < m) { acc += vec.getDouble(i) * cv(i); i += 1 }
        val s = acc / denom
        val gt = bestNull ||
          (if (java.lang.Double.isNaN(s)) !java.lang.Double.isNaN(bestS)
           else !java.lang.Double.isNaN(bestS) && s > bestS)
        if (gt) { best = c; bestS = s; bestNull = false }
      }
      c += 1
    }
    best
  }
}
