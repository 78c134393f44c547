package graft.functions

import org.apache.spark.sql.{Column, GraftShims}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native distinct word k-shingles of a NORMALIZED (lowercased,
  * whitespace-collapsed, trimmed) string, with whole-stage codegen.
  *
  * Byte-identical to the HOF form it replaces —
  * `array_distinct(filter(transform(split(norm, " "), windows), notNull))`
  * — which matters because the shingle STRINGS feed md5 keys that the
  * DuckDB oracles recompute (decontamination, LSH banding): tokens come
  * from the same `UTF8String.split(" ", -1)` Spark's `split` uses,
  * k-windows join with the same single space, and distinctness keeps
  * first occurrences in order like `array_distinct`. Null input -> null
  * array (the HOF's null propagation); fewer than k tokens -> empty.
  *
  * Why native: the HOF form pays |tokens| interpreted closure
  * dispatches each allocating a slice array and an array_join buffer —
  * the dominant per-row term of the q20/q41/q45/q48 shingle family
  * (~160 us/doc measured at sf0.1).
  */
case class WordShingles(child: Expression, k: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType && k > 0)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"word_shingles requires STRING and k > 0, got " +
        s"${child.dataType.sql} / $k")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    WordShingles.compute(input.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.WordShingles.compute($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): WordShingles =
    copy(child = newChild)
}

object WordShingles {

  private val Space = UTF8String.fromString(" ")

  /** Distinct k-windows over the space-split tokens, first-occurrence
    * order. Static so generated code calls it directly.
    */
  def compute(s: UTF8String, k: Int): ArrayData = {
    val tokens = s.split(Space, -1)
    val n = tokens.length
    if (n < k) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[UTF8String]((n - k + 1) * 2)
    var i = 0
    while (i + k <= n) {
      val parts = new Array[UTF8String](2 * k - 1)
      var j = 0
      while (j < k) {
        if (j > 0) parts(2 * j - 1) = Space
        parts(2 * j) = tokens(i + j)
        j += 1
      }
      seen.add(UTF8String.concat(parts: _*))
      i += 1
    }
    new GenericArrayData(seen.toArray.asInstanceOf[Array[Any]])
  }

  /** Column surface over the ALREADY-normalized string. */
  def wordShingles(normalized: Column, k: Int): Column =
    GraftShims.column(WordShingles(GraftShims.expression(normalized), k))
}
