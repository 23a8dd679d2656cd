package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expression with whole-stage codegen for Σ aᵢ·bᵢ — the
  * "custom Expression (codegen)" item from SURVEY §7's ledger. The HOF
  * formulation (`aggregate(zip_with(...))`) materializes an intermediate
  * array per row; this compiles to a bare primitive loop over the two
  * ArrayData buffers inside the enclosing WholeStageCodegen stage. The sum
  * runs in identical array order, so results stay bit-equal to both the HOF
  * version and the DuckDB oracle's sequential `list_dot_product`.
  *
  * Null semantics: null array → null (nullSafeEval); elements are assumed
  * non-null (embedding vectors are dense).
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<double>, array<double>), got ($l, $r)")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $x.getDouble($i) * $y.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProduct =
    copy(left = l, right = r)
}

/** Session-level registration for graft's native SQL functions. Called once
  * per SparkSession by every entry point (Verify/Bench/Explain/tests) —
  * never from inside a query builder (no conf/catalog mutation there).
  * Graft's planner strategies and optimizer rules come in through
  * `spark.sql.extensions=graft.plans.GraftExtensions`, set where each
  * session is built.
  */
object GraftFunctions {
  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_dot", exprs => DotProduct(exprs(0), exprs(1)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_l2sq", exprs => L2SqDist(exprs(0), exprs(1)), "built-in")
    // Native aggregate, SQL-callable: the analyzer wraps a bare
    // AggregateFunction from the registry in its AggregateExpression.
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_bottom_k_by_hash", BottomKByHash.fromSql, "built-in")
    // Scalar-UDF surface, SQL-callable (queries use StringDistance.dl
    // directly — registration-free, like VectorOps.dot).
    spark.udf.register("graft_dl",
      (a: String, b: String) => StringDistance.damerauLevenshtein(a, b).toLong)
  }
}
