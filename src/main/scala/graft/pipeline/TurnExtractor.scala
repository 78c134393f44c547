package graft.pipeline

import graft.core._

/** Pure per-turn extraction: route the turn text to the right tokenizer
  * (HTML strip vs line markup), run the segmentation state machine, and
  * capture failures as an error column. One turn = one independent
  * document; no state crosses rows (SURVEY.md §2.3), which makes this
  * function safe at any parallelism and embarrassingly scalable.
  */
object TurnExtractor {

  /** Per-row input cap in UTF-8 BYTES — the analog of the reference's
    * zip-bomb guard (ZipSecureFile.setMinInflateRatio,
    * DocumentParser.java:72) plus its declared-but-unenforced
    * maxBodyLength (:64): we enforce a hard cap so one pathological row
    * cannot blow task memory at 10^12-turn scale. Measured in bytes (not
    * chars) since r04: a 10M-char CJK turn is ~30 MB of UTF-8 — the
    * memory the cap exists to bound (VERDICT r03 #3). The gate
    * short-circuits on exact char-count bounds (bytes >= chars and
    * bytes <= 3*chars always hold for JVM strings), so the common path
    * never scans the text just to decide the gate.
    */
  val maxTurnBytes: Int = 10 * 1024 * 1024

  /** Byte-gate decision + measured size: (tooLarge, utf8Bytes).
    * utf8Bytes is only computed (one scan) when the char-count bounds
    * cannot decide; -1 means "fits, byte count not measured" so callers
    * skip the scan on the hot path.
    */
  @inline private[graft] def byteGate(text: String): Long = {
    val chars = text.length
    if (chars.toLong * 3 <= maxTurnBytes) -1L       // bytes <= 3*chars: fits
    else {
      val b = utf8Length(text)                      // middle band + too-large
      if (b > maxTurnBytes) b else -1L
    }
  }

  /** UTF-8 byte length without materializing the byte array (the
    * getBytes copy was a top allocation site at 10^6 turns/sec).
    */
  def utf8Length(s: String): Long = {
    var n = 0L
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      n += (if (c < 0x80) 1
            else if (c < 0x800) 2
            else if (Character.isHighSurrogate(c)) { i += 1; 4 }
            else 3)
      i += 1
    }
    n
  }

  /** The kernel's routing, shared by this typed path and the
    * `ExtractStats` expression: HTML strip or line markup, then the
    * segmentation state machine. Byte gate and error handling stay with
    * each caller.
    */
  def segment(text: String): MultiDoc =
    Segmenter.segment(
      if (HtmlExtract.looksLikeHtml(text)) HtmlExtract.tokenize(text)
      else Tokenizer.tokenize(text))

  def extract(turn: Turn): ExtractedTurn =
    extract(turn.conv_id, turn.turn_idx, turn.text)

  def extract(turn: TurnLite): ExtractedTurn =
    extract(turn.conv_id, turn.turn_idx, turn.text)

  def extract(convId: String, turnIdx: Int, rawText: String): ExtractedTurn = {
    val text = if (rawText == null) "" else rawText
    val tooLargeBytes = byteGate(text)
    if (tooLargeBytes >= 0) {
      ExtractedTurn(convId, turnIdx, Nil, "", Nil,
        graft.BuildInfo.version,
        s"input too large: $tooLargeBytes bytes > $maxTurnBytes",
        0, tooLargeBytes)
    } else {
      try {
        val md = segment(text)
        val extracted = Segmenter.extractedText(md)
        var nParas = 0
        var di = 0
        while (di < md.documents.size) {
          nParas += md.documents(di).paragraphs.size
          di += 1
        }
        ExtractedTurn(convId, turnIdx, md.documents, extracted,
          md.spans, md.version, null, nParas, utf8Length(extracted))
      } catch {
        case e: Exception =>
          ExtractedTurn(convId, turnIdx, Nil, "", Nil,
            graft.BuildInfo.version,
            s"${e.getClass.getSimpleName}: ${e.getMessage}",
            0, 0L)
      }
    }
  }
}
