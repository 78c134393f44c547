package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

import graft.pipeline.Turn

/** Structured Streaming operators of the extraction engine.
  *
  * The reference is strictly synchronous request/response (SURVEY.md
  * §2.8). Per-turn extraction is stateless, so streaming extraction is
  * `ExtractPipeline.extractNarrow` applied to a `readStream` frame; this
  * object holds only what a stream adds on top: a watermark-evicting
  * per-conversation progress tracker, exact dedup bounded by the
  * watermark, and a binary decode (batch or streaming) whose corrupt
  * files become error rows.
  */
object StreamExtract {

  /** Running progress of one conversation: turns seen, bytes extracted. */
  final case class ConvProgress(conv_id: String, nTurns: Long, nBytes: Long)

  /** Per-conversation progress under `mapGroupsWithState` with state
    * evicted by the event-time watermark (SURVEY §10 row 9): a
    * conversation's state times out `gapMs` of EVENT TIME after its last
    * seen turn, emits its final progress row once, and is REMOVED — total
    * state is bounded by the number of conversations active inside one
    * watermark horizon, independent of stream length.
    */
  def conversationProgressEvicting(turns: Dataset[Turn],
      watermark: String = "10 minutes", gapMs: Long = 60000L)
      (implicit enc1: org.apache.spark.sql.Encoder[ConvProgress])
      : Dataset[ConvProgress] = {
    import turns.sparkSession.implicits._
    turns
      .withWatermark("ts", watermark)
      .groupByKey(_.conv_id)
      .mapGroupsWithState(GroupStateTimeout.EventTimeTimeout) {
        (convId: String, rows: Iterator[Turn], state: GroupState[ConvProgress]) =>
          if (state.hasTimedOut) {
            val last = state.getOption.getOrElse(ConvProgress(convId, 0L, 0L))
            state.remove()
            last
          } else {
            var n = 0L
            var bytes = 0L
            var maxTs = Long.MinValue
            rows.foreach { t =>
              n += 1
              val e = graft.pipeline.TurnExtractor.extract(t)
              bytes += e.nBytes
              if (t.ts != null && t.ts.getTime > maxTs) maxTs = t.ts.getTime
            }
            val prev = state.getOption.getOrElse(ConvProgress(convId, 0L, 0L))
            val next =
              ConvProgress(convId, prev.nTurns + n, prev.nBytes + bytes)
            state.update(next)
            // timeout must sit past the current watermark; late rows can
            // have maxTs below it, so clamp up by one tick
            val wm = state.getCurrentWatermarkMs()
            state.setTimeoutTimestamp(math.max(maxTs + gapMs, wm + 1L))
            next
          }
      }
  }

  /** Streaming exact dedup: drop turns whose normalized-text fingerprint
    * was already seen within the watermark horizon — the streaming analog
    * of [[graft.operators.Dedup.dropExactDups]]. State is BOUNDED by the
    * event-time watermark (dropDuplicatesWithinWatermark evicts expired
    * fingerprints), which is what makes this runnable forever on a
    * transcript firehose; an unbounded dropDuplicates would grow state
    * with corpus size. The dedup key is the 128-bit md5 fingerprint
    * ([[graft.operators.TextStats.fingerprint]]) — no false merges at
    * any stream length, matching the batch surfaces' discipline.
    */
  def dedupStream(turns: DataFrame,
                  watermark: String = "10 minutes"): DataFrame =
    turns
      .withColumn("_fp", graft.operators.TextStats.fingerprint(col("text")))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("_fp")
      .drop("_fp")

  /** Binary decode: [[graft.sources.BinaryDispatch.safeDecode]] over a
    * `binaryFile` frame, batch or streaming — a directory of raw
    * document files becomes per-file decode rows
    * `(path, format, status, n_units)`. It is the one decode-status path:
    * the batch query q69 runs it over `read`, the streaming query q79
    * over `readStream` (a landing zone as an append stream). Stateless
    * per file (no watermark, no state store); a corrupt file yields an
    * error ROW, never a dead job or stream. `n_units` is the format's
    * natural unit count (paragraphs / sheet rows / stakeholders /
    * chars), the cheap signal a landing-zone monitor alerts on.
    *
    * Files over `maxBytes` become error rows WITHOUT their content ever
    * being read: the length predicate is pushed into the binaryFile
    * source, which would otherwise throw on oversized files at the
    * scan (killing the query before safeDecode could contain anything —
    * per-row totality cannot guard a source-level throw). `maxBytes` is
    * clamped to the source's own `spark.sql.sources.binaryFile
    * .maxLength` limit for the same reason: a cap above that limit
    * would re-expose the source-level throw it exists to prevent.
    */
  def decodeStream(files: DataFrame,
                   maxBytes: Long = 512L * 1024 * 1024): DataFrame = {
    val s = files.sparkSession
    import s.implicits._
    import graft.sources.BinaryDispatch._
    val sourceMax = s.conf
      .getOption("spark.sql.sources.binaryFile.maxLength")
      .map(_.toLong).getOrElse(Int.MaxValue.toLong)
    val cap = math.min(maxBytes, sourceMax)
    val decoded = files.filter(col("length") <= cap)
      .select("path", "content").as[(String, Array[Byte])]
      .map { case (path, bytes) =>
        val r = safeDecode(bytes)
        val nUnits: Long = r.decoded match {
          case Some(DecodedDoc(_, md)) =>
            md.documents.map(_.paragraphs.size.toLong).sum
          case Some(DecodedSheets(_, sheets)) =>
            sheets.map(_.rows.size.toLong).sum
          case Some(DecodedPdf(_, stakeholders)) => stakeholders.size.toLong
          case Some(DecodedText(_, text)) => text.length.toLong
          case None => 0L
        }
        (path, r.format, r.status, nUnits)
      }
      .toDF("path", "format", "status", "n_units")
    val oversized = files.filter(col("length") > cap)
      .select(col("path"), lit("oversize").as("format"),
        lit("error").as("status"), lit(0L).as("n_units"))
    decoded.unionByName(oversized)
  }
}
