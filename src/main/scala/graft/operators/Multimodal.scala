package graft.operators

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal columns: image/audio/video as opaque `binary` with typed
  * metadata, processed in partition-sized batches.
  *
  * The Spark-side plumbing (schema, partitioning by modality, batch
  * shape, error capture) is real and tested. Codec status (r04):
  * IMAGE decode is REAL (JDK `javax.imageio` — PNG/JPEG) and
  * AUDIO decode is REAL (a manual RIFF/PCM16 WAV parser — deterministic
  * and library-free); both are oracled end-to-end by q66 over
  * synthesized media whose decoded statistics are closed-form. VIDEO
  * remains a clearly-marked deterministic STUB — the JDK ships no video
  * codec; swapping [[decodeStub]] for javacv changes nothing upstream
  * of the decode call.
  */
object Multimodal {

  /** Asset row: media bytes + typed metadata, the at-rest schema. */
  final case class MediaMeta(
      modality: String,   // "image" | "audio" | "video"
      mimeType: String,
      width: Int,         // -1 when n/a
      height: Int,        // -1 when n/a
      sampleRateHz: Int,  // -1 when n/a
      durationMs: Long)   // -1 when n/a
  final case class MediaAsset(asset_id: Long, bytes: Array[Byte],
                              meta: MediaMeta)

  /** Extracted features per asset (fixed-width, columnar-friendly). */
  final case class MediaFeatures(
      asset_id: Long,
      modality: String,
      nBytes: Long,
      checksum: Long,
      // image: mean "pixel" per channel; audio: band energies; video:
      // per-sampled-frame means — all from the stubbed decode
      features: Array[Float],
      error: String)

  /** STUB codec ??? — deterministic fake decode: hashes fixed-size byte
    * windows into "channel" statistics. Real codecs drop in here; the
    * batch shape, schema and partitioning stay identical.
    */
  def decodeStub(bytes: Array[Byte], meta: MediaMeta): Array[Float] = {
    val channels = meta.modality match {
      case "image" => 3
      case "audio" => 4
      case "video" => 8
      case _ => 1
    }
    val out = new Array[Float](channels)
    if (bytes == null || bytes.isEmpty) return out
    var i = 0
    while (i < bytes.length) {
      out(i % channels) += (bytes(i) & 0xff) / 255.0f
      i += 1
    }
    var c = 0
    while (c < channels) {
      out(c) = out(c) / math.max(1, bytes.length / channels)
      c += 1
    }
    out
  }

  // ---------- REAL codecs (r04): JDK-only ----------

  /** Real image decode (javax.imageio — PNG/JPEG/BMP/GIF): width,
    * height, per-channel means in [0,1]. Throws on undecodable bytes —
    * the caller's error capture turns that into an error row.
    */
  def decodeImage(bytes: Array[Byte]): (Int, Int, Double, Double, Double) = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    require(img != null, "not a decodable image")
    val (w, h) = (img.getWidth, img.getHeight)
    var r, g, b = 0.0
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val p = img.getRGB(x, y)
        r += (p >> 16) & 0xFF; g += (p >> 8) & 0xFF; b += p & 0xFF
        x += 1
      }
      y += 1
    }
    val n = (w.toLong * h).toDouble * 255.0
    (w, h, r / n, g / n, b / n)
  }

  /** Real WAV decode: RIFF chunk walk (unknown chunks skipped) to the
    * `fmt `/`data` pair; PCM16 mono only (the synthesized corpus form —
    * other encodings raise, captured as error rows). Returns
    * (sampleRateHz, nSamples, mean |sample| normalized to [0,1]).
    * Manual parse, not javax.sound: deterministic, streamable, and the
    * 44-byte header math is the whole format.
    */
  def decodeWavPcm16(bytes: Array[Byte]): (Int, Int, Double) = {
    def u32(off: Int): Long =
      (bytes(off) & 0xFFL) | ((bytes(off + 1) & 0xFFL) << 8) |
        ((bytes(off + 2) & 0xFFL) << 16) | ((bytes(off + 3) & 0xFFL) << 24)
    def u16(off: Int): Int =
      (bytes(off) & 0xFF) | ((bytes(off + 1) & 0xFF) << 8)
    require(bytes.length >= 44 &&
      new String(bytes, 0, 4, "US-ASCII") == "RIFF" &&
      new String(bytes, 8, 4, "US-ASCII") == "WAVE", "not a WAV")
    var off = 12
    var rate = -1
    var dataOff = -1
    var dataLen = -1
    while (off + 8 <= bytes.length && (rate < 0 || dataOff < 0)) {
      val id = new String(bytes, off, 4, "US-ASCII")
      // untrusted u32 length: narrowed to Int it can go negative (e.g.
      // 0xFFFFFFF8 advances the cursor by ZERO — a confirmed infinite
      // loop on a 64-byte crafted file) and a hang bypasses the per-row
      // error capture entirely. Validate in Long BEFORE advancing; the
      // throw becomes an ordinary error row upstream.
      val len = u32(off + 4)
      require(len >= 0 && off + 8 + len <= bytes.length,
        s"WAV chunk '$id' length $len out of range")
      if (id == "fmt ") {
        require(u16(off + 8) == 1 && u16(off + 10) == 1 &&
          u16(off + 22) == 16, "only PCM16 mono supported")
        rate = u32(off + 12).toInt
      } else if (id == "data") {
        dataOff = off + 8; dataLen = len.toInt
      }
      off += (8 + len + (len & 1)).toInt
    }
    require(rate > 0 && dataOff >= 0, "missing fmt/data chunk")
    val n = dataLen / 2
    var acc = 0.0
    var i = 0
    while (i < n) {
      val s = (bytes(dataOff + 2 * i) & 0xFF) |
        (bytes(dataOff + 2 * i + 1).toInt << 8)
      acc += math.abs(s.toShort.toInt)
      i += 1
    }
    (rate, n, if (n == 0) 0.0 else acc / n / 32768.0)
  }

  /** Deterministic 8x8 RGB PNG for asset id: pixel (x, y) has channels
    * ((id*17 + x*3 + y*5) % 256, (id*29 + x*7 + y*11) % 256,
    * (id*43 + x*13 + y*17) % 256) — decoded means are closed-form (the
    * q66 oracle computes them in SQL). PNG is lossless, so the decode
    * recovers the exact pixels regardless of encoder byte layout.
    */
  def pngBytes(id: Long): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(8, 8,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 8; x <- 0 until 8) {
      val r = Math.floorMod(id * 17 + x * 3 + y * 5, 256L).toInt
      val g = Math.floorMod(id * 29 + x * 7 + y * 11, 256L).toInt
      val b = Math.floorMod(id * 43 + x * 13 + y * 17, 256L).toInt
      img.setRGB(x, y, (r << 16) | (g << 8) | b)
    }
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  /** Deterministic PCM16 mono WAV for asset id: sample t =
    * ((id*31 + t*7) % 2003) - 1001, nSamples = 800 + (id % 5) * 160,
    * 16 kHz — decoded stats are closed-form for the q66 oracle.
    */
  def wavBytes(id: Long): Array[Byte] = {
    val n = (800 + (id % 5) * 160).toInt
    val rate = 16000
    val data = new Array[Byte](n * 2)
    for (t <- 0 until n) {
      val s = (Math.floorMod(id * 31 + t * 7, 2003L) - 1001L).toShort
      data(2 * t) = (s & 0xFF).toByte
      data(2 * t + 1) = ((s >> 8) & 0xFF).toByte
    }
    val out = new java.io.ByteArrayOutputStream()
    def w32(v: Long): Unit = { out.write((v & 0xFF).toInt)
      out.write(((v >> 8) & 0xFF).toInt); out.write(((v >> 16) & 0xFF).toInt)
      out.write(((v >> 24) & 0xFF).toInt) }
    def w16(v: Int): Unit = { out.write(v & 0xFF); out.write((v >> 8) & 0xFF) }
    out.write("RIFF".getBytes("US-ASCII")); w32(36L + data.length)
    out.write("WAVE".getBytes("US-ASCII"))
    out.write("fmt ".getBytes("US-ASCII")); w32(16L)
    w16(1); w16(1); w32(rate.toLong); w32(rate * 2L); w16(2); w16(16)
    out.write("data".getBytes("US-ASCII")); w32(data.length.toLong)
    out.write(data)
    out.toByteArray
  }

  private def checksum(bytes: Array[Byte]): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) { h ^= bytes(i) & 0xff; h *= 0x100000001b3L; i += 1 }
    h
  }

  /** The distributed transform: repartition by (modality, asset-id hash)
    * — modality keeps codec working sets together (image decoders batch
    * with image decoders) while the id-hash term spreads each modality
    * over all `partitions` tasks (keying on modality alone collapses
    * parallelism to the 3 distinct values). One serde boundary, no
    * driver loop.
    */
  def extractFeatures(assets: Dataset[MediaAsset],
                      partitions: Int): Dataset[MediaFeatures] = {
    import assets.sparkSession.implicits._
    assets
      .repartition(partitions, col("meta.modality"),
        pmod(xxhash64(col("asset_id")), lit(partitions)))
      .mapPartitions(_.map { a =>
        try {
          val feats = decodeStub(a.bytes, a.meta)
          MediaFeatures(a.asset_id, a.meta.modality,
            if (a.bytes == null) 0L else a.bytes.length.toLong,
            if (a.bytes == null) 0L else checksum(a.bytes), feats, null)
        } catch {
          case e: Exception =>
            MediaFeatures(a.asset_id, a.meta.modality, 0L, 0L,
              Array.empty[Float], s"${e.getClass.getSimpleName}: ${e.getMessage}")
        }
      })
  }

  /** Deterministic synthetic asset table (tests/bench; no external data).
    * Byte LENGTH is a closed-form function of id (SQL-reproducible, so
    * the q29 byte-metric aggregation has a DuckDB oracle); byte CONTENT
    * stays seeded-random.
    */
  def generate(spark: SparkSession, n: Long, seed: Long = 42L): Dataset[MediaAsset] = {
    import spark.implicits._
    val modalities = Array("image", "audio", "video")
    spark.range(n).map { id =>
      val rnd = new scala.util.Random(seed ^ (id * 0x9e3779b97f4a7c15L))
      val modality = modalities((id % 3).toInt)
      // floorMod: the product overflows Long past id ~3.47e9, where a
      // sign-following % would yield a negative length (ADVICE r02)
      val len = (256 + Math.floorMod(id * 2654435761L, 1024L)).toInt
      val bytes = new Array[Byte](len)
      rnd.nextBytes(bytes)
      val meta = modality match {
        case "image" => MediaMeta("image", "image/png", 64, 64, -1, -1L)
        case "audio" => MediaMeta("audio", "audio/wav", -1, -1, 16000, 2000L)
        case _ => MediaMeta("video", "video/mp4", 320, 240, -1, 5000L)
      }
      MediaAsset(id, bytes, meta)
    }
  }
}
