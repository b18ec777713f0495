package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Fused dot product over two array<double> columns as a native Catalyst
  * expression with whole-stage codegen — a tight primitive loop instead
  * of the zip_with+aggregate expression tree (which allocates an
  * intermediate array per row). Semantics identical to
  * [[VectorFns.dotD]] (left-to-right summation); this is the perf path
  * SURVEY §2B anticipated for the pairwise-similarity operators, where
  * the dot product runs O(pairs) times.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  // Inputs are engine-controlled array<double> columns (AbstractDataType
  // / ExpectsInputTypes are private[sql] in Spark 4, so no declarative
  // input-type contract here).
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Session-level registration for the engine's native expressions.
  * Idempotent; GraftSession installs these via [[GraftExtensions]] at
  * session build, and operators may call register() defensively when
  * handed a foreign session. */
object GraftFunctions {
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    // registerFunction-only-if-absent: createOrReplaceTempFunction logs a
    // replacement warning per call, so make defensive registration quiet.
    if (!reg.functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier("graft_dot")))
      reg.createOrReplaceTempFunction(
        "graft_dot", exprs => DotProduct(exprs(0), exprs(1)), "built-in")
    if (!reg.functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier("graft_minhash")))
      reg.createOrReplaceTempFunction("graft_minhash", MinHashSig.make, "built-in")
    if (!reg.functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier("graft_rollhash")))
      reg.createOrReplaceTempFunction(
        "graft_rollhash", exprs => RollingHash(exprs(0)), "built-in")
  }

  /** Column-level handle (requires register(spark) in the session). */
  def dot(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  /** 32-wide MinHash signature over a pre-hashed shingle array. */
  def minhash(hashes: Column): Column = call_function("graft_minhash", hashes)

  /** Karp-Rabin rolling hash of a string column. */
  def rollhash(text: Column): Column = call_function("graft_rollhash", text)
}

/** SparkSessionExtensions hook: `builder.withExtensions(new
  * GraftExtensions)` (or spark.sql.extensions=graft.functions.
  * GraftExtensions on a real cluster) makes the engine's native
  * expressions, and the `plans.SmallSortExchange` query-stage
  * preparation rule, available to every session derived from the build,
  * including pure-SQL users — the supported injection point for
  * library-provided Catalyst code. */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
    ext.injectFunction((
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (exprs: Seq[Expression]) => DotProduct(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_minhash"),
      new ExpressionInfo(classOf[MinHashSig].getName, "graft_minhash"),
      MinHashSig.make))
    ext.injectFunction((
      FunctionIdentifier("graft_rollhash"),
      new ExpressionInfo(classOf[RollingHash].getName, "graft_rollhash"),
      (exprs: Seq[Expression]) => RollingHash(exprs(0))))
    ext.injectQueryStagePrepRule(_ => graft.plans.SmallSortExchange)
  }
}
