package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** Native asymmetric-distance lookup for the PQ probe: given a
  * candidate's code array (`array<int>`, one code per subspace) and a
  * query's lookup table (`array<array<double>>`, per-subspace distances
  * to every centroid), returns sum over subspaces of `lut[s][code[s]]`.
  *
  * This is THE per-pair hot path of [[graft.datax.Similarity.pqTopK]] /
  * `ivfPqTopK` — the built-in composition
  * `aggregate(zip_with(codes, lut, (c, t) => element_at(t, c + 1)), ...)`
  * pays per-element interpreted lambdas and boxing on every candidate,
  * which measured at MORE CPU than the codegen'd 64-dim dot it (SCALE.md)
  * replaces (the compression won IO but lost compute). Same shape as
  * [[DotProduct]]: a tight codegen'd loop plus a matching interpreted
  * `nullSafeEval`, summing in ascending subspace order — bit-identical
  * to the fold and to the DuckDB oracle's ordered `list_reduce`.
  *
  * Null semantics: NULL if either argument is NULL (BinaryExpression
  * default); codes and table rows are assumed element-non-null, the
  * encode path's output domain. Codes are 0-based indexes into the
  * matching subspace's table, and BOTH eval paths bounds-check them
  * (round 16): on UnsafeArrayData — the codegen hot path — an
  * out-of-range `getDouble` reads arbitrary buffer memory and returns
  * GARBAGE distances instead of failing, so a code table encoded
  * against a different/larger-ksub codebook would silently yield wrong
  * top-k. The check is one branch per subspace next to a random memory
  * read (noise), and the raise names the drift class (codebook/codes
  * mismatch) so the fix is in the message. */
case class AdcLookup(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(IntegerType, _), ArrayType(ArrayType(DoubleType, _), _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_adc requires (array<int>, array<array<double>>), got $l and $r")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_adc"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val codes = a.asInstanceOf[ArrayData]
    val lut = b.asInstanceOf[ArrayData]
    val n = codes.numElements()
    if (n != lut.numElements())
      throw AdcLookup.subspaceMismatch(n, lut.numElements())
    var acc = 0.0
    var s = 0
    while (s < n) {
      val row = lut.getArray(s)
      val code = codes.getInt(s)
      if (code < 0 || code >= row.numElements())
        throw AdcLookup.outOfRange(code, s, row.numElements())
      acc += row.getDouble(code)
      s += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val acc = ctx.freshName("acc")
      val row = ctx.freshName("row")
      val code = ctx.freshName("code")
      // the companion module instance, not a static forwarder — the
      // forwarder's presence depends on scalac details; MODULE$ doesn't
      val cls = classOf[AdcLookup].getName + "$.MODULE$"
      s"""
         |int $n = $x.numElements();
         |if ($n != $y.numElements()) {
         |  throw $cls.subspaceMismatch($n, $y.numElements());
         |}
         |double $acc = 0.0;
         |for (int $s = 0; $s < $n; $s++) {
         |  org.apache.spark.sql.catalyst.util.ArrayData $row = $y.getArray($s);
         |  int $code = $x.getInt($s);
         |  if ($code < 0 || $code >= $row.numElements()) {
         |    throw $cls.outOfRange($code, $s, $row.numElements());
         |  }
         |  $acc += $row.getDouble($code);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): AdcLookup =
    copy(left = newLeft, right = newRight)
}

object AdcLookup {
  /** DataFrame-API entry: `adc(codes, lut)` as a Column. */
  def adc(codes: Column, lut: Column): Column =
    Bridge.column(AdcLookup(Bridge.expression(codes), Bridge.expression(lut)))

  /** The named out-of-range raise both eval paths share — called from
    * generated code too, so it must stay a plain public method on the
    * companion (referenced as `AdcLookup$.MODULE$`). */
  def outOfRange(code: Int, sub: Int, ksub: Int): RuntimeException =
    new IllegalArgumentException(
      s"[graft-adc] code $code out of range [0, $ksub) in subspace $sub: " +
        "the code table was encoded against a DIFFERENT codebook than the " +
        "lookup table was built from (ksub/codebook drift). Re-encode the " +
        "codes with this codebook (pqEncode), or probe with the index's " +
        "own stored codebook (ivfPqTopK reads both from one directory).")

  /** The m-drift twin of [[outOfRange]] (round 16 review finding): a
    * min-of-the-two fold would silently TRUNCATE a codes/LUT subspace
    * mismatch — every per-code index in range, no raise, wrong
    * distances — the exact drift class the bounds check exists for. */
  def subspaceMismatch(mCodes: Int, mLut: Int): RuntimeException =
    new IllegalArgumentException(
      s"[graft-adc] $mCodes code subspaces vs $mLut lookup-table " +
        "subspaces: the code table and the lookup table come from " +
        "codebooks with different m (subspace-count drift). Re-encode " +
        "with this codebook, or probe with the index's own stored one.")
}
