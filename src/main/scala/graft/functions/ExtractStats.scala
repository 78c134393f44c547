package graft.functions

import org.apache.spark.sql.{Column, GraftShims}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.pipeline.TurnExtractor

/** The extraction kernel's metrics as a native Catalyst expression
  * returning ONLY primitives: the serde-free path for count/metric jobs.
  *
  * [[graft.pipeline.ExtractPipeline.extractNarrow]] pays an object-serde
  * boundary per turn: decode `TurnLite` (two String copies), encode
  * `ExtractedTurn` (nested Seq[Doc]/Seq[Span] structs + the extracted
  * text re-encoded to UTF8). For jobs that only need counts/lengths —
  * the benchmark's throughput job, data-quality scans, manifest metrics
  * — that serde is the dominant non-kernel cost (measured ~30% at 32
  * threads, BENCH/BASELINE.md r02). This expression runs inside
  * whole-stage codegen and hands Catalyst five primitives, never a
  * nested struct or a string.
  *
  * The struct is a projection of [[TurnExtractor.extract]]: n_docs is
  * documents.size, n_paras/n_bytes are the ExtractedTurn fields, n_chars
  * is extractedText.length and ok is error == null, so it equals the
  * typed path by construction (ExtractStatsSpec pins the projection).
  * The one rule of its own is the byte gate, taken on the UTF8String
  * before the String copy.
  */
case class ExtractStats(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"extract_stats requires STRING, got ${child.dataType.sql}")

  override def dataType: DataType = ExtractStats.schema
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    ExtractStats.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ExtractStats.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): ExtractStats =
    copy(child = newChild)
}

object ExtractStats {

  val schema: StructType = StructType(Seq(
    StructField("n_docs", IntegerType, nullable = false),
    StructField("n_paras", IntegerType, nullable = false),
    StructField("n_chars", IntegerType, nullable = false),
    StructField("n_bytes", LongType, nullable = false),
    StructField("ok", BooleanType, nullable = false)))

  /** Static so generated code calls it directly (no ctx references). */
  def compute(u: UTF8String): InternalRow = {
    // byte gate BEFORE the UTF8String -> String copy: numBytes is the
    // exact UTF-8 length for free, so an oversized row never allocates
    // its char[] (extract's own gate reports the same byte count)
    if (u.numBytes > TurnExtractor.maxTurnBytes) {
      return new GenericInternalRow(Array[Any](0, 0, 0, u.numBytes.toLong,
        false))
    }
    val e = TurnExtractor.extract(null, 0, u.toString)
    new GenericInternalRow(Array[Any](e.documents.size, e.nParas,
      e.extractedText.length, e.nBytes, e.error == null))
  }

  /** Column surface. */
  def extractStats(c: Column): Column =
    GraftShims.column(ExtractStats(GraftShims.expression(c)))

  /** SQL surface: `SELECT extract_stats(text).*`. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "extract_stats", exprs => ExtractStats(exprs.head), "scala_udf")
}
