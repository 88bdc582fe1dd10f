package graft.plans

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native cosine-similarity over two double arrays, with whole-stage
  * codegen: a tight primitive loop instead of the interpreted
  * `zip_with`+`aggregate` higher-order-function chain (HOF lambdas are
  * evaluated per element outside codegen). Accumulation is in index
  * order, so results are bit-identical to the fold formulation and to
  * the DuckDB oracle.
  *
  * Mismatched lengths use the shorter prefix for the dot product and
  * each array's own full norm; null elements make the result null.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  // callers cast inputs to array<double>; anything else fails analysis
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true // containsNull irrelevant
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.DataTypeMismatch(
      errorSubClass = "UNEXPECTED_INPUT_TYPE",
      messageParameters = Map(
        "paramIndex" -> "1", "requiredType" -> "array<double>",
        "inputSql" -> left.sql, "inputType" -> left.dataType.sql))
  }
  override def dataType: DataType = DoubleType
  // a zero-norm input or a null element yields null even when both
  // inputs are non-nullable, and doGenCode assigns `isNull` on that path
  override def nullable: Boolean = true
  override def prettyName: String = "cosine_sim"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0
    var nx = 0.0
    var ny = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xi = x.getDouble(i)
      val yi = y.getDouble(i)
      dot += xi * yi
      nx += xi * xi
      ny += yi * yi
      i += 1
    }
    var j = n
    while (j < x.numElements()) {
      if (x.isNullAt(j)) return null
      val v = x.getDouble(j); nx += v * v; j += 1
    }
    j = n
    while (j < y.numElements()) {
      if (y.isNullAt(j)) return null
      val v = y.getDouble(j); ny += v * v; j += 1
    }
    val denom = math.sqrt(nx) * math.sqrt(ny)
    if (denom == 0.0) null else java.lang.Double.valueOf(dot / denom)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      val denom = ctx.freshName("denom")
      val bad = ctx.freshName("hasNullElem")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0; double $nx = 0.0; double $ny = 0.0;
         |boolean $bad = false;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i) || $b.isNullAt($i)) { $bad = true; break; }
         |  double $xi = $a.getDouble($i);
         |  double $yi = $b.getDouble($i);
         |  $dot += $xi * $yi; $nx += $xi * $xi; $ny += $yi * $yi;
         |}
         |for (int $i = $n; !$bad && $i < $a.numElements(); $i++) {
         |  if ($a.isNullAt($i)) { $bad = true; break; }
         |  double $xi = $a.getDouble($i); $nx += $xi * $xi;
         |}
         |for (int $i = $n; !$bad && $i < $b.numElements(); $i++) {
         |  if ($b.isNullAt($i)) { $bad = true; break; }
         |  double $yi = $b.getDouble($i); $ny += $yi * $yi;
         |}
         |double $denom = java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny);
         |if ($bad || $denom == 0.0) { ${ev.isNull} = true; }
         |else { ${ev.value} = $dot / $denom; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity {
  /** Register `cosine_sim` in a session's function registry so it is
    * callable via `call_function` / SQL — the engine's extension hook
    * (SparkSessionExtensions.injectFunction would do the same for a
    * permanent build). Idempotent: re-registering an already-registered
    * session is a no-op, so repeated query builds stay warning-free. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    val ident = org.apache.spark.sql.catalyst.FunctionIdentifier("cosine_sim")
    if (!registry.functionExists(ident)) {
      registry.createOrReplaceTempFunction(
        "cosine_sim", exprs => CosineSimilarity(exprs(0), exprs(1)), "built-in")
    }
  }
}
