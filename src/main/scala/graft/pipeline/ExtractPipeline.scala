package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** The distributed extraction pipeline (SURVEY.md §3.4), as
  * `runCheckpointed` runs it, once per run over all uncommitted buckets:
  *
  *   read -> filter(bucket in todo) -> select(conv_id, turn_idx, text) ->
  *   mapPartitions(extract) -> repartition(bucket) ->
  *   sortWithinPartitions(bucket, conv_id, turn_idx) -> write per bucket ->
  *   exact per-bucket aggregate of the written files -> manifest commits
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
  *     a run reads the whole input once and filters it; the metrics
  *     read-back prunes to the run's buckets, which are a real partition
  *     column of the output.
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
    * branches (VERDICT r02 #5), by an eager localCheckpoint (the rule
    * is `graft.operators.Dedup.checkpointBy`'s; the written-table path
    * never takes this branch).
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

  /** Checkpointed run: one write job over every uncommitted bucket, then
    * one manifest commit per bucket, with `rows`/`bytes` from an exact
    * aggregate over the files that job wrote. A bucket that got no rows
    * is committed with `rows = 0, bytes = 0`. Re-running converges to the
    * same table (idempotent resume), at run granularity:
    *   - a run killed before its write job commits keeps nothing from
    *     that run;
    *   - a run killed between the job and the manifest commits redoes
    *     those buckets on resume; dynamic partition overwrite makes the
    *     redo idempotent;
    *   - task-level retries inside the job are Spark's.
    */
  def runCheckpointed(
      spark: SparkSession,
      turns: Dataset[Turn],
      outDir: String,
      nBuckets: Int,
      inputFingerprint: String = ""): Unit = {
    val catalog = new HadoopManifestCatalog(
      outDir, spark.sparkContext.hadoopConfiguration)
    val done = catalog.committedBuckets()
    val todo = (0 until nBuckets).filterNot(done.contains)
    if (todo.isEmpty) return

    val extracted =
      extractNarrow(turns.filter(bucketCol(nBuckets).isin(todo: _*)))
      .withColumn("bucket", bucketCol(nBuckets))
      // deterministic layout: one conversation per bucket, sorted. The
      // partitioned write sorts by `bucket` itself and the optimizer
      // drops an earlier sort that does not lead with it
      .repartition(todo.size, col("bucket"))
      .sortWithinPartitions("bucket", "conv_id", "turn_idx")
    extracted.write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("bucket")
      .parquet(outDir)

    // `bytes` is the extracted-payload byte count (sum of nBytes): stable
    // across file compression, which is the lineage-relevant quantity.
    // The schema is given, so the read-back infers nothing and an empty
    // write reads as no rows.
    val written = spark.read.schema(extracted.schema).parquet(outDir)
      .filter(col("bucket").isin(todo: _*))
      .groupBy("bucket")
      .agg(count(lit(1)), sum("nBytes"))
      .collect()
      .map(r => r.getLong(0).toInt -> (r.getLong(1), r.getLong(2)))
      .toMap
    for (b <- todo) {
      val (rows, bytes) = written.getOrElse(b, (0L, 0L))
      catalog.commit(ManifestEntry(b, rows, bytes, inputFingerprint,
        graft.BuildInfo.version))
    }
  }

  /** The lineage/metrics surface: one row per committed bucket manifest
    * (bucket, rows, bytes, inputFingerprint, version). It is the lineage
    * reader of SURVEY row S10 and §8 row 5, the job-level counterpart of
    * the reference's `{status, version}` endpoint.
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
