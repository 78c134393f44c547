package graft.pipeline

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

class ExtractPipelineSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  test("driver contract: entry() yields rows with ordered columns") {
    val df = graft.SparkEntry.entry(spark)
    assert(df.columns.toSeq == Seq("conv_id", "turn_idx", "turn_rank",
      "conv_char_offset", "nParas", "nBytes", "extractedText"))
    assert(df.count() > 0)
  }

  test("generator is deterministic and independent of parallelism") {
    import spark.implicits._
    val a = Transcripts.generate(spark, 50).collect().sortBy(t => (t.conv_id, t.turn_idx))
    val b = Transcripts.generate(spark, 50)
      .repartition(7).collect().sortBy(t => (t.conv_id, t.turn_idx))
    assert(a.toSeq == b.toSeq)
    assert(a.nonEmpty)
    // zipf skew exists: conversations have differing lengths
    val lens = a.groupBy(_.conv_id).map(_._2.length).toSeq
    assert(lens.max > lens.min)
  }

  test("extraction output equals kernel output per turn (any parallelism)") {
    val turns = Transcripts.generate(spark, 40).repartition(8)
    val dir = Files.createTempDirectory("graft-extract-in").toString + "/t"
    turns.write.parquet(dir)
    val local = turns.collect().map(TurnExtractor.extract)
    assert(local.nonEmpty)
    // the same turns in memory and as a parquet read (the column-pruned
    // scan `runCheckpointed` and q26 take)
    for ((input, viaSpark) <- Seq(
        "in-memory Dataset[Turn]" -> ExtractPipeline.extractNarrow(turns),
        "parquet read" -> ExtractPipeline.extractNarrow(spark.read.parquet(dir)))) {
      val got = viaSpark.collect().map(e => (e.conv_id, e.turn_idx) -> e).toMap
      assert(got.size == local.length, input)
      for (e <- local) {
        assert(got((e.conv_id, e.turn_idx)) == e,
          s"$input: mismatch at ${e.conv_id}/${e.turn_idx}")
      }
    }
    assert(local.forall(_.error == null))
  }

  test("g23 error row captured, not dropped") {
    import spark.implicits._
    val bad = Turn("c1", 0, "user", "x" * (TurnExtractor.maxTurnBytes + 1),
      null, new java.sql.Timestamp(0))
    val ok = Turn("c1", 1, "user", "hello world", null, new java.sql.Timestamp(0))
    val out = ExtractPipeline.extractNarrow(spark.createDataset(Seq(bad, ok)))
      .collect().sortBy(_.turn_idx)
    assert(out.length == 2)
    assert(out(0).error != null && out(0).documents.isEmpty)
    assert(out(1).error == null && out(1).documents.nonEmpty)
  }

  test("conversation window: stable ordering + running offsets") {
    import spark.implicits._
    val turns = Transcripts.generate(spark, 10)
    val df = ExtractPipeline.withConvOrder(ExtractPipeline.extractNarrow(turns))
    val rows = df.select("conv_id", "turn_idx", "turn_rank", "conv_char_offset")
      .collect()
      .groupBy(_.getString(0))
    for ((_, rs) <- rows) {
      val sorted = rs.sortBy(_.getInt(1))
      assert(sorted.map(_.getInt(2)).toSeq == (1 to sorted.length))
      val offs = sorted.map(_.getLong(3))
      assert(offs.head == 0L)
      assert(offs.toSeq == offs.sorted.toSeq) // non-decreasing
    }
  }

  test("checkpointed run resumes idempotently (kill between batches)") {
    import spark.implicits._
    val turns = Transcripts.generate(spark, 30)
    val clean = Files.createTempDirectory("graft-clean").toString
    val resumed = Files.createTempDirectory("graft-resumed").toString

    ExtractPipeline.runCheckpointed(spark, turns, clean, nBuckets = 4,
      batchBuckets = 4, inputFingerprint = "seed=42/n=30")

    // simulate a kill after the first batch: process only 2 buckets...
    ExtractPipeline.runCheckpointed(spark, turns, resumed, nBuckets = 4,
      batchBuckets = 2, inputFingerprint = "seed=42/n=30")
    // (runCheckpointed completes all batches; emulate partial state by
    // deleting one bucket's manifest + data, then resuming)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val victim = new org.apache.hadoop.fs.Path(s"$resumed/_manifest/bucket-00003.json")
    assert(fs.exists(victim))
    fs.delete(victim, false)
    fs.delete(new org.apache.hadoop.fs.Path(s"$resumed/bucket=3"), true)
    // resume: must rebuild exactly the missing bucket
    ExtractPipeline.runCheckpointed(spark, turns, resumed, nBuckets = 4,
      batchBuckets = 2, inputFingerprint = "seed=42/n=30")

    def snap(dir: String) =
      ExtractPipeline.readCommitted(spark, dir)
        .select("conv_id", "turn_idx", "extractedText", "nParas", "nBytes")
        .collect()
        .map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getInt(3), r.getLong(4)))
        .sortBy(t => (t._1, t._2)).toSeq
    assert(snap(clean) == snap(resumed))
    assert(snap(clean).nonEmpty)
    // manifests carry metrics
    val cat = new HadoopManifestCatalog(clean, spark.sparkContext.hadoopConfiguration)
    assert(cat.committedBuckets() == Set(0, 1, 2, 3))
    // lineage surface: manifest rows sum to the table's row count
    val manifest = ExtractPipeline.readManifest(spark, clean).collect()
    assert(manifest.map(_.getAs[Int]("bucket")).toSet == Set(0, 1, 2, 3))
    assert(manifest.map(_.getAs[Long]("rows")).sum == snap(clean).size)
    // bytes metric = extracted-payload byte sum, collected by the write
    // job's observe() (no per-bucket read-back jobs)
    assert(manifest.map(_.getAs[Long]("bytes")).sum ==
      ExtractPipeline.readCommitted(spark, clean)
        .agg(org.apache.spark.sql.functions.sum("nBytes")).head.getLong(0))
    assert(manifest.forall(_.getAs[String]("inputFingerprint") == "seed=42/n=30"))
  }

  test("re-run over fully committed output is a no-op") {
    import spark.implicits._
    val turns = Transcripts.generate(spark, 10)
    val dir = Files.createTempDirectory("graft-noop").toString
    ExtractPipeline.runCheckpointed(spark, turns, dir, nBuckets = 2)
    val before = ExtractPipeline.readCommitted(spark, dir).count()
    ExtractPipeline.runCheckpointed(spark, turns, dir, nBuckets = 2)
    assert(ExtractPipeline.readCommitted(spark, dir).count() == before)
  }
}
