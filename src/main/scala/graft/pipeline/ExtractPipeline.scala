package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** The distributed extraction pipeline (SURVEY.md §3.4), as
  * `runCheckpointed` runs it, once per batch of uncommitted buckets:
  *
  *   read -> filter(bucket in batch) -> select(conv_id, turn_idx, text) ->
  *   mapPartitions(extract) -> repartition(bucket) ->
  *   sortWithinPartitions(conv_id, turn_idx) -> write per bucket +
  *   manifest commit
  *
  * Scale notes:
  *   - extraction is per-turn stateless, so it runs map-side on the scan
  *     splits, which the source size-balances (`maxPartitionBytes`): the
  *     kernel stage has no shuffle and no key that could skew;
  *   - the one exchange is the write layout, keyed on `bucket`, a hash of
  *     conv_id, so one conversation lands in one bucket file, sorted;
  *   - conversation-level ordering (`withConvOrder`) is a separate, cheap
  *     window stage over narrow columns only;
  *   - resume skips committed buckets, but it is NOT partition pruning:
  *     `bucket` is computed from conv_id, not a column of the input, so
  *     every batch re-scans the whole input and filters it
  *     (`pipeline.input_read_ratio` in perfbench reads batches-per-run).
  *     Reading each input row once per run is ROADMAP item 2.
  */
object ExtractPipeline {

  /** The extraction entry point: project to the 3 columns the kernel
    * reads BEFORE the typed boundary, so parquet scans only conv_id,
    * turn_idx, text (pruning verified via .explain ReadSchema), then run
    * the kernel map-side on the input partitions — no shuffle. Takes any
    * Dataset with those columns: a parquet DataFrame or an in-memory
    * `Dataset[Turn]`.
    */
  def extractNarrow(turns: Dataset[_]): Dataset[ExtractedTurn] = {
    import turns.sparkSession.implicits._
    turns.select(col("conv_id"), col("turn_idx"), col("text"))
      .as[TurnLite]
      .mapPartitions(_.map(TurnExtractor.extract(_: TurnLite)))
  }

  /** Bucket column: stable function of conv_id only, so one conversation
    * always lands in one bucket (ordering + co-location), while buckets
    * stay balanced across thousands of conversations.
    */
  def bucketCol(nBuckets: Int) = pmod(xxhash64(col("conv_id")), lit(nBuckets))

  /** Stable conversation ordering + conversation-relative offsets: the
    * window stage the north rule names.
    *
    * The window runs over a NARROW projection only — (conv_id, turn_idx,
    * extracted length) — so the conv_id exchange ships ~20-byte rows: an
    * 8000-turn zipf-tail conversation lands ~160 KB on its task, never its
    * payload. The payload rejoins on (conv_id, turn_idx) — a two-column
    * hash key that cannot have a hot value. At table scale call this on
    * the written table (readCommitted), where the narrow branch is a
    * column-pruned parquet scan. An UNMATERIALIZED input (an in-flight
    * mapPartitions Dataset — detected by the object boundary in its
    * plan) is materialized once instead of running extraction in both
    * branches (VERDICT r02 #5). Materialization is an eager
    * localCheckpoint, NOT persist: a persisted plan lives in
    * CacheManager for the whole session unless explicitly unpersisted
    * (ContextCleaner does not collect it — ADVICE r03), while
    * checkpoint blocks are dropped once the returned frame is
    * unreachable. Lineage is truncated at the checkpoint (executor loss
    * during the consuming action fails the job; use the written-table
    * path for fault-tolerant production runs — it takes this branch
    * only for in-flight inputs anyway).
    */
  def withConvOrder(extracted: Dataset[ExtractedTurn]): DataFrame = {
    val w = Window.partitionBy("conv_id").orderBy("turn_idx")
    val df0 = extracted.toDF()
    val computed = df0.queryExecution.analyzed.exists {
      case _: org.apache.spark.sql.catalyst.plans.logical.SerializeFromObject =>
        true
      case _ => false
    }
    val df = if (computed) df0.localCheckpoint(true) else df0
    val narrow = df
      .select(col("conv_id"), col("turn_idx"),
        length(col("extractedText")).as("_len"))
      .withColumn("turn_rank", row_number().over(w))
      .withColumn("conv_char_offset",
        coalesce(
          sum(col("_len") + lit(1))
            .over(w.rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .drop("_len")
    df.join(narrow, Seq("conv_id", "turn_idx"))
  }

  /** Checkpointed run: processes only uncommitted buckets, committing a
    * manifest entry per bucket batch. Killing the job between batches and
    * re-running converges to the same table (idempotent resume).
    *
    * @param batchBuckets buckets per write job (an Iceberg snapshot analog)
    */
  def runCheckpointed(
      spark: SparkSession,
      turns: Dataset[Turn],
      outDir: String,
      nBuckets: Int,
      batchBuckets: Int = 8,
      inputFingerprint: String = ""): Unit = {
    import spark.implicits._
    val catalog = new HadoopManifestCatalog(
      outDir, spark.sparkContext.hadoopConfiguration)
    val done = catalog.committedBuckets()
    val todo = (0 until nBuckets).filterNot(done.contains)
    if (todo.isEmpty) return

    val withBucket = turns.withColumn("bucket", bucketCol(nBuckets))

    for (batch <- todo.grouped(batchBuckets)) {
      // row filter, not partition pruning: `bucket` is computed, so each
      // batch re-scans the whole input (ROADMAP item 2)
      val slice = withBucket
        .filter(col("bucket").isin(batch: _*))
        .drop("bucket")
      val extracted = extractNarrow(slice)
        .withColumn("bucket", bucketCol(nBuckets))
        // deterministic layout: one conversation per bucket, sorted
        .repartition(batch.size, col("bucket"))
        .sortWithinPartitions("conv_id", "turn_idx")
      // per-bucket metrics ride the write job itself (observe = task-side
      // accumulators): zero extra jobs vs the old per-bucket read-back
      // loop, which was a driver bottleneck at 10^5+ buckets. `bytes` is
      // the extracted-payload byte count (sum of nBytes) — stable across
      // file compression, which is the lineage-relevant quantity.
      // BEST-EFFORT caveat (ADVICE r02): observe metrics are accumulator
      // semantics — a stage re-execution (fetch-failure retry, speculative
      // task) can double-apply, overstating counts vs what was committed.
      // Validate rows against a footer count when retries were detected.
      val obs = org.apache.spark.sql.Observation(
        s"commit-metrics-${batch.head}")
      val metricExprs = batch.flatMap { b =>
        Seq(
          count(when(col("bucket") === b, 1)).as(s"rows_$b"),
          coalesce(sum(when(col("bucket") === b, col("nBytes"))), lit(0L))
            .as(s"bytes_$b"))
      }
      extracted
        .observe(obs, metricExprs.head, metricExprs.tail: _*)
        .write
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket")
        .parquet(outDir)
      val m = obs.get
      for (b <- batch) {
        catalog.commit(
          ManifestEntry(b,
            m(s"rows_$b").asInstanceOf[Long],
            m(s"bytes_$b").asInstanceOf[Long],
            inputFingerprint, graft.BuildInfo.version))
      }
    }
  }

  /** The lineage/metrics surface: one row per committed bucket manifest
    * (bucket, rows, bytes, inputFingerprint, version).
    */
  def readManifest(spark: SparkSession, outDir: String): DataFrame =
    spark.read
      .schema("bucket INT, rows BIGINT, bytes BIGINT, " +
        "inputFingerprint STRING, version STRING")
      .json(s"$outDir/_manifest/bucket-*.json")

  /** Read back a checkpointed table, restricted to committed buckets. */
  def readCommitted(spark: SparkSession, outDir: String): DataFrame = {
    val catalog = new HadoopManifestCatalog(
      outDir, spark.sparkContext.hadoopConfiguration)
    val done = catalog.committedBuckets().toSeq
    spark.read.parquet(outDir).filter(col("bucket").isin(done: _*))
  }
}
