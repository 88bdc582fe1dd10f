package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}

/** Native order-16 Hilbert index (xy2d) — the tier-(b) codegen
  * replacement for [[graft.operators.Substrate.withHilbertColumns]]'
  * 16-round projection chain. The chain was correct but pathological
  * to EXECUTE: each round re-reads the previous round's (x, y)
  * several times through `when` trees, so evaluation walks ~100
  * expression nodes per row through 16 chained projections; this
  * expression runs the identical rotate-reflect-accumulate loop as
  * one tight branch-free-ish Java loop called from generated code
  * (measured on `layout_skip_workload` at sf0.1: the Hilbert layout
  * pass drops from the dominant cost to noise — see BENCHNOTES.md).
  *
  * Bit-compatibility contract: [[HilbertIndex.xy2d]] replays the
  * EXACT per-round arithmetic of the column chain — quadrant digit
  * (3·rx) xor ry scaled by s², full-width complement (2¹⁶−1)−x for
  * the reflection (identical below-s bits, see the chain's scaladoc),
  * swap on ry = 0 — pinned by HilbertIndexSpec's exhaustive sweep
  * against the chain, so the DuckDB oracle replica
  * ([[graft.operators.Substrate.hilbertOracleCtes]]) is unchanged. */
case class HilbertIndex(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (LongType, LongType) => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.DataTypeMismatch(
        errorSubClass = "UNEXPECTED_INPUT_TYPE",
        messageParameters = Map(
          "paramIndex" -> "1", "requiredType" -> "bigint",
          "inputSql" -> left.sql, "inputType" -> left.dataType.sql))
    }

  override def dataType: DataType = LongType
  override def prettyName: String = "hilbert16"

  override protected def nullSafeEval(x: Any, y: Any): Any =
    HilbertIndex.xy2d(x.asInstanceOf[Long], y.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (x, y) => s"graft.plans.HilbertIndex.xy2d($x, $y)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HilbertIndex =
    copy(left = newLeft, right = newRight)
}

object HilbertIndex {

  final val Order = 16
  final val N: Long = 1L << Order

  /** The order-16 Hilbert curve position of (x, y) — the same
    * rotate-reflect-accumulate rounds as the column chain, as one
    * loop. Called from generated code.
    *
    * Domain: the order-16 curve addresses a 2¹⁶×2¹⁶ grid. Inputs are
    * MASKED to the low 16 bits (mirrored in the column chain and the
    * DuckDB oracle h0 CTE, so all three stay bit-identical at any
    * key range). Beyond 65535 the masked value wraps — locality
    * degrades gracefully into 65536-wide tiles instead of silently
    * producing a non-curve ordering; a deployment whose keys exceed
    * the domain should bucket/quantize keys into [0, 2¹⁶) first
    * (see zoneMapsBench's scaladoc). */
  def xy2d(x0: Long, y0: Long): Long = {
    var x = x0 & (N - 1)
    var y = y0 & (N - 1)
    var d = 0L
    var s = N >> 1
    while (s > 0) {
      val rx = if ((x & s) > 0) 1L else 0L
      val ry = if ((y & s) > 0) 1L else 0L
      d += s * s * ((3L * rx) ^ ry)
      // frame rewrite for the next round: reflect on (ry=0, rx=1)
      // using the full-width complement, swap on ry=0
      val xf = if (ry == 0 && rx == 1) N - 1 - x else x
      val yf = if (ry == 0 && rx == 1) N - 1 - y else y
      if (ry == 0) { x = yf; y = xf }
      else { x = xf; y = yf }
      s >>= 1
    }
    d
  }

  /** Register `hilbert16` in the session's function registry
    * (idempotent; same extension hook as [[Md5Hash48]]). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    val ident = org.apache.spark.sql.catalyst.FunctionIdentifier("hilbert16")
    if (!registry.functionExists(ident)) {
      registry.createOrReplaceTempFunction(
        "hilbert16", exprs => HilbertIndex(exprs(0), exprs(1)), "built-in")
    }
  }
}
