package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.pipeline.TurnExtractor

/** Output checks, all run outside the timed passes. Each returns the
  * problems it found; an empty result means the output is correct.
  */
object Checks {

  private val rowsField = "\"rows\":(\\d+)".r

  /** Every bucket has a committed manifest and their rows add up to the
    * input's turn count.
    */
  def manifests(out: Path, nTurns: Long): Seq[String] = {
    val dir = out.resolve("_manifest")
    val files =
      if (!Files.isDirectory(dir)) Nil
      else {
        val s = Files.list(dir)
        try s.iterator().asScala.map(_.getFileName.toString)
          .filter(n => n.startsWith("bucket-") && n.endsWith(".json")).toList
        finally s.close()
      }
    val buckets = files.map(_.stripPrefix("bucket-").stripSuffix(".json").toInt).toSet
    val rows = files.map { f =>
      rowsField.findFirstMatchIn(Files.readString(dir.resolve(f)))
        .map(_.group(1).toLong).getOrElse(-1L)
    }.sum
    Seq(
      Option.when(buckets != (0 until PerfBench.nBuckets).toSet)(
        s"manifests for ${buckets.size} of ${PerfBench.nBuckets} buckets"),
      Option.when(rows != nTurns)(s"manifest rows $rows != input turns $nTurns")
    ).flatten
  }

  /** The committed table: one row per input turn, rows of each file
    * ordered by (conv_id, turn_idx), and every row's extracted text and
    * counts equal to `TurnExtractor.extract` on its input turn.
    */
  def committed(spark: SparkSession, in: Path, out: Path, nTurns: Long): Seq[String] = {
    import spark.implicits._
    val table = spark.read.parquet(out.toString)
    val rows = table.count()
    val disorder = table
      .select(input_file_name(), col("conv_id"), col("turn_idx"))
      .as[(String, String, Int)]
      .mapPartitions { it =>
        var file = ""
        var conv = ""
        var idx = Int.MinValue
        var bad = 0L
        it.foreach { case (f, c, i) =>
          if (f == file) {
            val cmp = c.compareTo(conv)
            if (cmp < 0 || (cmp == 0 && i <= idx)) bad += 1
          }
          file = f; conv = c; idx = i
        }
        Iterator(bad)
      }
      .collect().sum
    val expected = spark.read.parquet(in.toString)
      .select(col("conv_id"), col("turn_idx"), col("text"))
      .as[(String, Int, String)]
      .map { case (c, i, t) =>
        val e = TurnExtractor.extract(c, i, t)
        (c, i, e.extractedText, e.nParas, e.nBytes)
      }
      .toDF("conv_id", "turn_idx", "e_text", "e_paras", "e_bytes")
    val mismatched = expected
      .join(table, Seq("conv_id", "turn_idx"), "full_outer")
      .filter(!(col("e_text") <=> col("extractedText")) ||
        !(col("e_paras") <=> col("nParas")) || !(col("e_bytes") <=> col("nBytes")))
      .count()
    Seq(
      Option.when(rows != nTurns)(s"committed rows $rows != input turns $nTurns"),
      Option.when(disorder != 0)(s"$disorder rows out of (conv_id, turn_idx) order"),
      Option.when(mismatched != 0)(s"$mismatched rows differ from TurnExtractor.extract")
    ).flatten
  }

  /** (turns, sum of extracted UTF-8 bytes) by the per-turn kernel. */
  def kernelFold(spark: SparkSession, in: Path): (Long, Long) = {
    import spark.implicits._
    spark.read.parquet(in.toString)
      .select(col("conv_id"), col("turn_idx"), col("text"))
      .as[(String, Int, String)]
      .mapPartitions { it =>
        var n = 0L
        var b = 0L
        it.foreach { case (c, i, t) => n += 1; b += TurnExtractor.extract(c, i, t).nBytes }
        Iterator((n, b))
      }
      .collect()
      .foldLeft((0L, 0L)) { case ((n, b), (n1, b1)) => (n + n1, b + b1) }
  }

  def scan(got: (Long, Long), reference: (Long, Long)): Seq[String] =
    Option.when(got != reference)(
      s"(count, bytes) $got != kernel fold $reference").toSeq

  /** A fixed pseudo-random sample of the input's turns. */
  def sample(spark: SparkSession, in: Path, n: Int): IndexedSeq[(String, Int, String)] = {
    import spark.implicits._
    spark.read.parquet(in.toString)
      .select(col("conv_id"), col("turn_idx"), col("text"))
      .orderBy(xxhash64(col("conv_id"), col("turn_idx")), col("conv_id"), col("turn_idx"))
      .limit(n)
      .as[(String, Int, String)]
      .collect().toIndexedSeq
  }
}
