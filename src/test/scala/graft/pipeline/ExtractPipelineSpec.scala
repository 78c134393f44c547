package graft.pipeline

import graft.SparkTestSession
import graft.SparkTestSession.withTempDir
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import scala.jdk.CollectionConverters._

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
    val local = turns.collect().map(TurnExtractor.extract)
    assert(local.nonEmpty)
    withTempDir("graft-extract-in") { base =>
      val dir = s"$base/t"
      turns.write.parquet(dir)
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

  /** Rows that break (conv_id, turn_idx) order within their own file. */
  private def outOfOrder(dir: String): Long = {
    import spark.implicits._
    spark.read.parquet(dir)
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
  }

  /** bucket -> (rows, bytes), as the manifests record it and as the
    * committed table holds it (a bucket with no rows reads (0, 0)).
    */
  private def manifestVsTable(dir: String, nBuckets: Int)
      : (Map[Int, (Long, Long)], Map[Int, (Long, Long)]) = {
    val recorded = ExtractPipeline.readManifest(spark, dir).collect()
      .map(r => r.getAs[Int]("bucket") ->
        (r.getAs[Long]("rows"), r.getAs[Long]("bytes"))).toMap
    val held = ExtractPipeline.readCommitted(spark, dir)
      .groupBy("bucket").agg(count(lit(1)), sum("nBytes")).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    (recorded, (0 until nBuckets).map(b => b -> held.getOrElse(b, (0L, 0L))).toMap)
  }

  test("checkpointed run resumes idempotently (lost bucket rebuilt)") {
    // round-robin repartition scrambles the generator's (conv_id,
    // turn_idx) order, so file order must come from the write's own sort
    val turns = Transcripts.generate(spark, 30).repartition(8)
    withTempDir("graft-resume") { base =>
      val clean = s"$base/clean"
      val resumed = s"$base/resumed"
      ExtractPipeline.runCheckpointed(spark, turns, clean, nBuckets = 4,
        inputFingerprint = "seed=42/n=30")
      ExtractPipeline.runCheckpointed(spark, turns, resumed, nBuckets = 4,
        inputFingerprint = "seed=42/n=30")
      // emulate a run that lost one bucket: delete its manifest + data,
      // then resume
      val fs = org.apache.hadoop.fs.FileSystem.getLocal(
        spark.sparkContext.hadoopConfiguration)
      val victim = new org.apache.hadoop.fs.Path(s"$resumed/_manifest/bucket-00003.json")
      assert(fs.exists(victim))
      fs.delete(victim, false)
      fs.delete(new org.apache.hadoop.fs.Path(s"$resumed/bucket=3"), true)
      // resume: must rebuild exactly the missing bucket
      ExtractPipeline.runCheckpointed(spark, turns, resumed, nBuckets = 4,
        inputFingerprint = "seed=42/n=30")

      def snap(dir: String) =
        ExtractPipeline.readCommitted(spark, dir)
          .select("conv_id", "turn_idx", "extractedText", "nParas", "nBytes")
          .collect()
          .map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getInt(3), r.getLong(4)))
          .sortBy(t => (t._1, t._2)).toSeq
      assert(snap(clean) == snap(resumed))
      assert(snap(clean).nonEmpty)
      val cat = new HadoopManifestCatalog(clean, spark.sparkContext.hadoopConfiguration)
      assert(cat.committedBuckets() == Set(0, 1, 2, 3))
      for (dir <- Seq(clean, resumed)) {
        // every written file holds its rows in (conv_id, turn_idx) order
        assert(outOfOrder(dir) == 0L, dir)
        // lineage surface: each bucket's manifest rows/bytes equal that
        // bucket's own count / sum(nBytes) in the committed table
        val (recorded, held) = manifestVsTable(dir, 4)
        assert(recorded == held, dir)
      }
      val manifest = ExtractPipeline.readManifest(spark, clean).collect()
      assert(manifest.forall(_.getAs[String]("inputFingerprint") == "seed=42/n=30"))
    }
  }

  test("checkpointed run reads each input row once") {
    import spark.implicits._
    withTempDir("graft-read-once") { base =>
      val in = s"$base/in"
      Transcripts.generate(spark, 30).write.parquet(in)
      val nTurns = spark.read.parquet(in).count()
      val reads = spark.sparkContext.longAccumulator("input-rows-read")
      val turns = spark.read.parquet(in).as[Turn].map { t => reads.add(1); t }
      ExtractPipeline.runCheckpointed(spark, turns, s"$base/out", nBuckets = 16)
      assert(reads.value == nTurns)
    }
  }

  test("re-run over fully committed output is a no-op") {
    val turns = Transcripts.generate(spark, 10)
    withTempDir("graft-noop") { dir =>
      // 64 buckets over 10 conversations: most buckets get no rows
      ExtractPipeline.runCheckpointed(spark, turns, dir, nBuckets = 64)
      val cat = new HadoopManifestCatalog(dir, spark.sparkContext.hadoopConfiguration)
      assert(cat.committedBuckets() == (0 until 64).toSet)
      val (recorded, held) = manifestVsTable(dir, 64)
      val empty = held.collect { case (b, (0L, _)) => b }.toSet
      assert(empty.size >= 54)
      assert(empty.forall(b => recorded(b) == ((0L, 0L))))
      assert(recorded == held)

      // every file under the table (data and manifests), with size + mtime
      def state() = {
        val walk = Files.walk(java.nio.file.Paths.get(dir))
        try walk.iterator().asScala.filter(Files.isRegularFile(_))
          .map(p => (p.toString, Files.size(p), Files.getLastModifiedTime(p)))
          .toSet
        finally walk.close()
      }
      val before = state()
      ExtractPipeline.runCheckpointed(spark, turns, dir, nBuckets = 64)
      assert(state() == before)
    }
  }

  test("manifest re-commit: a POSIX rename replaces the bucket file, a " +
    "contract rename refuses it, and neither loses the record") {
    withTempDir("graft-recommit") { base =>
      // commits bucket 5 twice (rows 10, then 20) through a local FS built
      // from `impl`; returns the dir and whether the second commit threw
      def twice(impl: Class[_]): (String, Boolean) = {
        val conf = new org.apache.hadoop.conf.Configuration(
          spark.sparkContext.hadoopConfiguration)
        conf.set("fs.file.impl", impl.getName)
        conf.setBoolean("fs.file.impl.disable.cache", true)
        val dir = s"$base/${impl.getSimpleName}"
        val cat = new HadoopManifestCatalog(dir, conf)
        cat.commit(ManifestEntry(5, 10L, 100L, "fp", "v"))
        val refused =
          try { cat.commit(ManifestEntry(5, 20L, 200L, "fp", "v")); false }
          catch { case _: java.io.IOException => true }
        (dir, refused)
      }
      def files(dir: String): Seq[String] = {
        val ls = Files.list(java.nio.file.Paths.get(dir, "_manifest"))
        try ls.iterator().asScala.map(_.getFileName.toString)
          .filterNot(_.startsWith(".")).toSeq.sorted // checksum sidecars
        finally ls.close()
      }
      def rows(dir: String): Seq[Long] =
        ExtractPipeline.readManifest(spark, dir).collect()
          .map(_.getAs[Long]("rows")).toSeq

      // Hadoop's LocalFileSystem renames with File.renameTo (POSIX rename)
      val (replaced, refused) =
        twice(classOf[org.apache.hadoop.fs.LocalFileSystem])
      assert(!refused)
      assert(files(replaced) == Seq("bucket-00005.json"))
      assert(rows(replaced) == Seq(20L))
      // HDFS, and the Hive local FS on Spark's classpath, follow the
      // FileSystem contract: no rename onto an existing file
      val (kept, refusedContract) =
        twice(classOf[ExtractPipelineSpec.ContractLocalFileSystem])
      assert(refusedContract)
      assert(files(kept).filter(_.endsWith(".json")) == Seq("bucket-00005.json"))
      assert(rows(kept) == Seq(10L))
    }
  }

  test("manifest JSON escapes quotes and backslashes in the fingerprint") {
    val fp = "a\"b\\c"
    withTempDir("graft-escape") { dir =>
      ExtractPipeline.runCheckpointed(spark, Transcripts.generate(spark, 5),
        dir, nBuckets = 4, inputFingerprint = fp)
      val got = ExtractPipeline.readManifest(spark, dir).collect()
        .map(_.getAs[String]("inputFingerprint")).toSeq
      assert(got == Seq.fill(4)(fp), got)
    }
  }
}

object ExtractPipelineSpec {
  /** A local FS whose rename refuses an existing destination, as the
    * Hadoop FileSystem contract (and HDFS) has it.
    */
  final class ContractLocalFileSystem extends org.apache.hadoop.fs.LocalFileSystem {
    override def rename(src: org.apache.hadoop.fs.Path,
                        dst: org.apache.hadoop.fs.Path): Boolean =
      !isFile(dst) && super.rename(src, dst)
  }
}
