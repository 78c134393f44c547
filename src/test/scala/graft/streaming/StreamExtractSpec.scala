package graft.streaming

import graft.SparkTestSession
import graft.SparkTestSession.withTempDir
import graft.pipeline.Transcripts
import org.apache.spark.sql.execution.datasources.binaryfile.BinaryFileFormat
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

class StreamExtractSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  test("streaming decode: corrupt files become error rows, the stream " +
    "survives and picks up late arrivals") {
    import graft.sources.OoxmlCorpus
    withTempDir("graft-stream-decode") { dir =>
      def put(name: String, bytes: Array[Byte]): Unit =
        Files.write(java.nio.file.Paths.get(s"$dir/$name"), bytes)
      put("doc_00001.docx", OoxmlCorpus.docxBytes(1))
      put("doc_00002.pdf", OoxmlCorpus.corruptPdfBytes(2))
      put("doc_00003.txt", OoxmlCorpus.garbageBytes(3))
      val stream = spark.readStream.format("binaryFile")
        .schema(BinaryFileFormat.schema).load(dir)
      val q = StreamExtract.decodeStream(stream).writeStream
        .format("memory").queryName("decoded").outputMode("append").start()
      try {
        q.processAllAvailable()
        def got(): Seq[(String, String)] = spark.table("decoded").collect()
          .map(r => (r.getString(1), r.getString(2))).toSeq.sorted
        assert(got() ==
          Seq("docx" -> "ok", "pdf" -> "error", "text" -> "ok").sorted)
        // the corrupt file did NOT kill the stream: late files still land
        put("doc_00004.xls", OoxmlCorpus.xlsBytes(4))
        q.processAllAvailable()
        assert(got() == Seq("docx" -> "ok", "pdf" -> "error", "text" -> "ok",
          "xls" -> "ok").sorted)
        // and n_units carries the per-format unit counts
        val units = spark.table("decoded").collect()
          .map(r => (r.getString(1), r.getLong(3))).toMap
        assert(units("docx") > 0 && units("xls") > 0 && units("pdf") == 0)
      } finally q.stop()
    }
  }

  test("q79 brace glob: one parent, plain basenames only") {
    import graft.SparkEntry.braceGlob
    assert(braceGlob(Seq("/tmp/graft_a_v1", "/tmp/b2")) == "/tmp/{graft_a_v1,b2}")
    intercept[IllegalArgumentException](braceGlob(Seq("/tmp/a,b", "/tmp/c")))
    intercept[IllegalArgumentException](braceGlob(Seq("/tmp/a{b", "/tmp/c")))
  }

  test("q79 stream-decode entry: AvailableNow + foreachBatch lands the " +
    "q69 closed form and terminates") {
    // the oracle-surface streaming path (VERDICT r04 #8): run the REAL
    // query entry — five corrupt/clean corpora through a binaryFile
    // readStream into a parquet table — and assert the q69 closed form
    // it is oracled against (10 bad_pdf/bad_cfb/bad_zip errors, 10
    // garbage-ok, 40 clean-docx-ok). awaitTermination inside the entry
    // doubles as the termination assertion: a corrupt file that killed
    // the stream would hang or throw here, not mis-count. The batch
    // query q69 must land the same rows.
    val shm = java.nio.file.Paths.get("/dev/shm")
    val scratch =
      if (Files.isDirectory(shm)) shm
      else java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    def q79Dirs(): Set[String] = {
      val ls = Files.list(scratch)
      try {
        import scala.jdk.CollectionConverters._
        ls.iterator().asScala.map(_.getFileName.toString)
          .filter(_.startsWith("graft_q79_")).toSet
      } finally ls.close()
    }
    val before = q79Dirs()
    def run(q: String) = graft.SparkEntry.queries(q)(spark, "")
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2),
        r.getString(3)))
    val rows = run("q79_stream_decode")
    // the stream's output and checkpoint dirs are gone once the result
    // is collected
    assert((q79Dirs() -- before).isEmpty, q79Dirs() -- before)
    assert(rows.length == 80)
    val byKind = rows.groupBy(_._1)
    assert(byKind("bad_pdf").forall(r => r._3 == "pdf" && r._4 == "error"))
    assert(byKind("bad_cfb").forall(r => r._3 == "cfb" && r._4 == "error"))
    assert(byKind("bad_zip").forall(r => r._3 == "zip" && r._4 == "error"))
    assert(byKind("garbage").forall(r => r._3 == "text" && r._4 == "ok"))
    assert(byKind("clean").forall(r => r._3 == "docx" && r._4 == "ok"))
    assert(byKind("clean").map(_._2).sorted.toSeq == (0 until 40))
    assert(run("q69_decode_status").sorted.toSeq == rows.sorted.toSeq)
  }

  test("streaming decode: oversized files become error rows without a " +
    "content read") {
    import graft.sources.OoxmlCorpus
    withTempDir("graft-stream-oversize") { dir =>
      Files.write(java.nio.file.Paths.get(s"$dir/big.docx"),
        OoxmlCorpus.docxBytes(1))
      Files.write(java.nio.file.Paths.get(s"$dir/small.txt"),
        OoxmlCorpus.garbageBytes(1)) // 214 bytes, under the cap below
      val stream = spark.readStream.format("binaryFile")
        .schema(BinaryFileFormat.schema).load(dir)
      val q = StreamExtract.decodeStream(stream, maxBytes = 300).writeStream
        .format("memory").queryName("decoded_ovr").outputMode("append")
        .start()
      try {
        q.processAllAvailable()
        val rows = spark.table("decoded_ovr").collect().map { r =>
          val name = r.getString(0).substring(r.getString(0).lastIndexOf('/') + 1)
          (name, r.getString(1), r.getString(2))
        }.toSeq.sorted
        assert(rows == Seq(("big.docx", "oversize", "error"),
          ("small.txt", "text", "ok")).sorted, rows)
      } finally q.stop()
    }
  }

  test("streaming extraction equals batch extraction") {
    val turns = Transcripts.generate(spark, 20)
    withTempDir("graft-stream-in") { dir =>
      turns.write.mode("overwrite").parquet(dir)
      val schema = spark.read.parquet(dir).schema
      val stream = spark.readStream.schema(schema).parquet(dir)
      val q = graft.pipeline.ExtractPipeline.extractNarrow(stream)
        .select("conv_id", "turn_idx", "nParas", "nBytes")
        .writeStream.outputMode("append")
        .format("memory").queryName("stream_out").start()
      try q.processAllAvailable() finally q.stop()
    }
    val streamed = spark.table("stream_out")
      .collect().map(r => (r.getString(0), r.getInt(1)) ->
        (r.getInt(2), r.getLong(3))).toMap
    val batch = graft.pipeline.ExtractPipeline.extractNarrow(turns).collect()
    assert(batch.nonEmpty)
    for (e <- batch) {
      assert(streamed((e.conv_id, e.turn_idx)) == ((e.nParas, e.nBytes)))
    }
  }

  test("streaming dedup drops exact duplicates within the watermark") {
    import spark.implicits._
    def ts(min: Int) = new java.sql.Timestamp(1735689600000L + min * 60000L)
    withTempDir("graft-stream-dedup") { dir =>
      Seq(
        graft.pipeline.Turn("c1", 0, "user", "hello world", null, ts(0)),
        graft.pipeline.Turn("c1", 1, "user", "HELLO   world", null, ts(1)),
        graft.pipeline.Turn("c2", 0, "user", "hello world", null, ts(2)),
        graft.pipeline.Turn("c2", 1, "user", "different text", null, ts(3)))
        .toDF().write.mode("overwrite").parquet(dir)
      val schema = spark.read.parquet(dir).schema
      val stream = spark.readStream.schema(schema).parquet(dir)
      val q = StreamExtract.dedupStream(stream)
        .writeStream.outputMode("append")
        .format("memory").queryName("dedup_out").start()
      try q.processAllAvailable() finally q.stop()
    }
    val texts = spark.table("dedup_out")
      .collect().map(_.getAs[String]("text")).sorted
    // "hello world" / "HELLO   world" / "hello world" share one
    // normalized fingerprint: exactly one survivor + the distinct text
    assert(texts.length == 2)
    assert(texts.contains("different text"))
  }

  test("evicting progress: watermark advance removes conversation state") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[graft.pipeline.Turn]
    def ts(min: Int) = new java.sql.Timestamp(1735689600000L + min * 60000L)
    def turn(c: String, i: Int, min: Int) =
      graft.pipeline.Turn(c, i, "user", s"text $c $i", null, ts(min))
    val q = StreamExtract.conversationProgressEvicting(
        mem.toDS(), watermark = "1 minute", gapMs = 60000L)
      .writeStream.outputMode("update")
      .format("memory").queryName("evict_out").start()
    mem.addData(turn("A", 0, 0), turn("A", 1, 1))
    q.processAllAvailable() // A tracked; watermark -> ts(0)
    mem.addData(turn("B", 0, 120))
    q.processAllAvailable() // watermark -> ts(119); A's timeout now past
    mem.addData(turn("B", 1, 121))
    q.processAllAvailable() // timeout fires: A emits final row, evicted
    val stateRows = q.lastProgress.stateOperators.head.numRowsTotal
    q.stop()
    assert(stateRows == 1, s"A must be evicted, B kept; state=$stateRows")
    val byConv = spark.table("evict_out").collect()
      .groupBy(_.getString(0)).map { case (k, v) =>
        k -> v.map(_.getLong(1)).max }
    assert(byConv("A") == 2L) // final row still correct after eviction
    assert(byConv("B") == 2L)
  }

  test("stateful conversation progress accumulates per conv") {
    import spark.implicits._
    withTempDir("graft-stream-state") { dir =>
      Transcripts.generate(spark, 8).write.mode("overwrite").parquet(dir)
      val schema = spark.read.parquet(dir).schema
      val turns = spark.readStream.schema(schema).parquet(dir)
        .as[graft.pipeline.Turn]
      val q = StreamExtract.conversationProgressEvicting(turns)
        .writeStream.outputMode("update")
        .format("memory").queryName("state_out").start()
      try q.processAllAvailable() finally q.stop()
    }
    val got = spark.table("state_out")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val expected = Transcripts.generate(spark, 8).collect()
      .groupBy(_.conv_id).map { case (k, v) => k -> v.length.toLong }
    assert(got == expected)
  }
}
