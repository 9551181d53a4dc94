package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** U1 full-fidelity path: a native Catalyst `Generator` (table function)
  * with the reference UDTF's exact shape — text -> rows of
  * ROW<keyword STRING, kw_len INT> (KwSplit.java:11-21). Shares the
  * CJK-aware tokenizer core with `Text.tokenize` (Latin words + CJK
  * character bigrams; per-row dedup like the reference's HashSet), usable
  * in SQL via LATERAL VIEW after `GraftFunctions.register`.
  */
case class KwSplitGenerator(child: Expression)
    extends UnaryExpression with Generator with CodegenFallback {

  override def elementSchema: StructType = StructType(Seq(
    StructField("keyword", StringType, nullable = false),
    StructField("kw_len", IntegerType, nullable = false)))

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val v = child.eval(input)
    if (v == null) Iterator.empty
    else {
      val seen = scala.collection.mutable.LinkedHashSet[String]()
      Text.tokenize(v.asInstanceOf[UTF8String].toString).foreach(seen += _)
      seen.iterator.map { t =>
        InternalRow(UTF8String.fromString(t), t.length)
      }
    }
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Session-level registration of the graft SQL function surface. */
object GraftFunctions {
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction(
      "kwsplit", exprs => KwSplitGenerator(exprs.head), "internal")
    reg.createOrReplaceTempFunction(
      "vec_dot", exprs => FloatVecDot(exprs.head, exprs(1)), "scala_udf")
    reg.createOrReplaceTempFunction(
      "vec_norm", exprs => FloatVecNorm(exprs.head), "scala_udf")
    reg.createOrReplaceTempFunction(
      "zvalue", exprs => ZValueExpr(exprs.head, exprs(1)), "internal")
  }
}
