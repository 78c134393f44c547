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

/** The extraction kernel as a native Catalyst expression returning ONLY
  * primitive metrics — the serde-free fast path for count/metric jobs.
  *
  * [[graft.pipeline.ExtractPipeline.extractNarrow]] pays an object-serde
  * boundary per turn: decode `TurnLite` (two String copies), encode
  * `ExtractedTurn` (nested Seq[Doc]/Seq[Span] structs + the extracted
  * text re-encoded to UTF8). For jobs that only need counts/lengths —
  * the benchmark's throughput job, data-quality scans, manifest metrics
  * — that serde is the dominant non-kernel cost (measured ~30% at 32
  * threads, BENCH/BASELINE.md r02). This expression runs the SAME kernel
  * (tokenize -> segment -> metric fold) inside whole-stage codegen and
  * materializes no output strings at all: the extracted text's char/byte
  * lengths are folded directly off the segment builders' cached segment
  * strings, and the join separator ("\n", 1 char / 1 byte) is counted
  * arithmetically instead of concatenated (Segmenter.extractedText
  * semantics, verified by ExtractStatsSpec parity tests).
  *
  * Semantics parity contract with [[TurnExtractor.extract]]:
  * n_paras/n_bytes equal the ExtractedTurn fields, n_chars equals
  * extractedText.length, n_docs equals documents.size, and ok is
  * error == null (including the maxTurnBytes gate).
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
    // UTF8String -> String is the one unavoidable copy: the kernel is
    // char-based (the reference's semantics are java.lang.String's)
    // byte gate BEFORE the UTF8String -> String copy: numBytes is the
    // exact UTF-8 length for free, and gating first means a pathological
    // 100 MB row never allocates its char[] at all (TurnExtractor parity:
    // its byteGate computes the same UTF-8 byte count from the String
    // side, so both paths gate on identical values and report bytes)
    if (u.numBytes > TurnExtractor.maxTurnBytes) {
      return new GenericInternalRow(Array[Any](0, 0, 0, u.numBytes.toLong,
        false))
    }
    val text = u.toString
    try {
      val md = TurnExtractor.segment(text)
      var nParas = 0
      var nSegs = 0
      var chars = 0L
      var bytes = 0L
      var di = 0
      while (di < md.documents.size) {
        val paras = md.documents(di).paragraphs
        nParas += paras.size
        var pi = 0
        while (pi < paras.size) {
          val p = paras(pi)
          if (p.header.length > 0) {
            nSegs += 1
            chars += p.header.length
            bytes += TurnExtractor.utf8Length(p.header.text)
          }
          if (p.body.length > 0) {
            nSegs += 1
            chars += p.body.length
            bytes += TurnExtractor.utf8Length(p.body.text)
          }
          pi += 1
        }
        di += 1
      }
      if (nSegs > 1) { // "\n" joiner: 1 char, 1 byte between segments
        chars += nSegs - 1
        bytes += nSegs - 1
      }
      new GenericInternalRow(Array[Any](
        md.documents.size, nParas, chars.toInt, bytes, true))
    } catch {
      case _: Exception =>
        new GenericInternalRow(Array[Any](0, 0, 0, 0L, false))
    }
  }

  /** Column surface. */
  def extractStats(c: Column): Column =
    GraftShims.column(ExtractStats(GraftShims.expression(c)))

  /** SQL surface: `SELECT extract_stats(text).*`. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "extract_stats", exprs => ExtractStats(exprs.head), "scala_udf")
}
