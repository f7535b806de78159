package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst Generator (the UDTF extension point, completing the
  * scalar-Expression / typed-Aggregator / Generator trio): emits one
  * (pos, gram) row per word n-gram of a text column.
  *
  * Catalyst plans any Generator into a `Generate` node that runs INSIDE
  * the parent map stage — rows fan out in the partition that produced
  * them with no exchange, exactly like the built-in posexplode
  * (PlanSpec asserts this). Generators evaluate row-at-a-time
  * (CodegenFallback is the framework contract for Generate), so the body
  * splits once and slices — no per-output-row re-tokenization.
  *
  * The n-gram text matches EngineFns.shingles' positional form (space
  * joined, consecutive), so the DuckDB oracle is the same windowed
  * array_to_string recipe the substring-dedup oracle uses.
  */
case class NGramsGenerator(child: Expression, n: Int)
    extends UnaryExpression with Generator with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType && n >= 1) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"ngrams_gen expects (string, n >= 1), got ${child.dataType.simpleString}, n=$n")

  override def elementSchema: StructType = StructType(Seq(
    StructField("pos", LongType, nullable = false),
    StructField("gram", StringType, nullable = false)))

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val v = child.eval(input)
    if (v == null) Nil
    else {
      val toks = v.asInstanceOf[UTF8String].toString.split(" ", -1)
      if (toks.length < n) Nil
      else (0 to toks.length - n).map { i =>
        InternalRow(i.toLong,
          UTF8String.fromString(toks.slice(i, i + n).mkString(" ")))
      }
    }
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NGramsGenerator {
  /** Register `ngrams_gen_<n>` on `spark` (idempotent; a query calls it
    * on a `GraftSession.child`) and return a generator Column for the
    * given text column; `select(ngrams(...))` plans a Generate node. */
  def apply(spark: SparkSession, text: Column, n: Int): Column = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      s"ngrams_gen_$n", exprs => NGramsGenerator(exprs(0), n), "built-in")
    call_function(s"ngrams_gen_$n", text)
  }
}
