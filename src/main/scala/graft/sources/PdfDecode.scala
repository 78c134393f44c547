package graft.sources

import graft.core.PdfTable.{Glyph, GlyphLine, Page, Rect}
import scala.collection.mutable.ArrayBuffer

/** Real PDF structural decode with JDK-only parts — the decode step the
  * reference delegates to PDFBox (`PdfParser.java:49-56`,
  * `PdfTextPositionStripper.java:55-75`, `LineCatcher.java:100-135`).
  * Produces the [[graft.core.PdfTable.Page]] contract (page text,
  * positioned glyph lines, filled-path rectangles) the geometry kernel
  * (P2-P8) already consumes, from actual PDF bytes:
  *
  *   - object scan: `N G obj ... endobj` bodies located byte-exact (the
  *     file is scanned as Latin-1, offsets == byte offsets); stream
  *     payloads cut by /Length when literal, else by `endstream`;
  *     FlateDecode inflated with `java.util.zip.Inflater`;
  *   - page tree walk: trailer-independent — the /Type /Catalog object
  *     -> /Pages -> /Kids recursion, MediaBox inherited;
  *   - content interpreter: text state (BT/ET, Tf, Td/TD/Tm/T-star,
  *     Tj/TJ and `'`, TL) emitting per-char glyphs at text-matrix
  *     positions, and path state (`re` + the fill operators f, F,
  *     b, B and their even-odd variants -> harvested rects; stroked or
  *     clipped paths dropped — exactly the reference's FILL-path
  *     harvest, `LineCatcher.java:100-135`).
  *
  * The interpreter carries the graphics state a real-world page needs
  * first (r05): hex `<...>` string operands, the current transformation
  * matrix (`cm` concatenation with `q`/`Q` save/restore — glyph and
  * fill-path coordinates are CTM-transformed like PDFBox's
  * `PdfParser.java:212-216` positions), `<<`/`>>` dict tokens,
  * per-glyph advances from simple-font /FirstChar + /Widths tables
  * (inline or ref-to-array, §9.6.2 — the metric PDFBox's text stripper
  * applies), and PDF 1.5 object streams (/Type /ObjStm payloads
  * expanded into the object map, §7.5.7 — the packing every post-2006
  * writer uses, without which a modern file has NO visible page tree).
  *
  * Stream /Filter chains (name or array, §7.4) apply FlateDecode,
  * ASCIIHexDecode and ASCII85Decode in order; unknown filters
  * (/DCTDecode image data etc.) keep their raw bytes — inert here,
  * since only content streams are interpreted as text.
  *
  * Page /Rotate (own or inherited, §7.7.3.4) is normalized into
  * upright display space by pre-composing the rotation into the
  * interpreter's initial CTM — scanned-landscape filings decode with
  * the same geometry as portrait ones (axis-aligned rects stay exact
  * under quarter-turn rotations; the 4-corner bounding box covers the
  * general case).
  *
  * Predictor-coded Flate (/DecodeParms /Predictor, §7.4.4.4) is
  * reversed after inflation — TIFF horizontal differencing and the
  * full PNG row-filter family (the /Predictor 12 coding virtually
  * every real-world XRef stream carries), with /DecodeParms parsed as
  * a single dict or a /Filter-aligned array.
  *
  * /ToUnicode CMaps (§9.10.3) are honored: when a font carries one,
  * string bytes are font codes mapped through the CMap's bfchar/bfrange
  * entries — the embedded-subset custom-encoding convention (the way
  * real-world generators encode Cyrillic), where a raw UTF-8 decode
  * would produce mojibake. Both font classes are covered: simple fonts
  * (single-byte codes) and composite /Type0 /Identity-H fonts (§9.7.4:
  * TWO-byte big-endian CID codes, /DescendantFonts /W + /DW glyph
  * metrics) — the encoding virtually every CJK and most modern-
  * generator PDFs use.
  *
  * Glyph advances implement the full §9.4.4 displacement: font width
  * (/Widths, /W+/DW, or the 0.5 * fontSize fallback) plus Tc char
  * spacing, Tw word spacing (single-byte code 32 only, per §9.3.3) and
  * Tz horizontal scaling — justified, letterspaced and condensed
  * layouts place glyphs where PDFBox does. Tc/Tw/Tz ride the q/Q
  * graphics-state stack and the `"` operator sets Tw/Tc inline.
  *
  * Documented deltas vs PDFBox: fonts without /Widths (or /W) advance
  * by a fixed 0.5 * fontSize per char; non-Identity CID encodings
  * (predefined CMaps like /UniGB-UCS2-H, §9.7.5.2) are not decoded —
  * code bytes follow Identity-H's fixed two-byte convention only.
  * The synthesized q64 corpus ([[PdfSynth]]) cycles thirteen
  * convention variants (plain, Flate, cm-scaled, hex-string, /Widths
  * metrics, ObjStm+XRef-stream, ASCIIHex+Flate filter chain,
  * /Rotate 90 landscape, Predictor-12 Flate, ToUnicode-CMap custom
  * encoding, Identity-H two-byte CIDs, Tc/Tz letterspaced-condensed,
  * kerning-jump TJ rows), so the decode oracle covers each.
  */
object PdfDecode {

  final case class Obj(num: Int, dict: String, stream: Option[Array[Byte]])

  private val objRe = """(?s)(\d+)\s+\d+\s+obj\b""".r
  private val lengthRe = """/Length\s+(\d+)(?!\s+\d+\s+R)""".r

  /** Parse all indirect objects (Latin-1 structure scan; byte-exact).
    *
    * Memory: the whole-file Latin-1 String is COMPACT on JDK 9+
    * (ISO-8859-1 chars all fit the LATIN1 coder, so the String wraps a
    * same-length byte[], not UTF-16) — the scan costs ONE extra copy
    * of the file, i.e. ~2x file size transiently per task alongside
    * the input bytes, bounded by the decode tier's 512 MB per-file
    * cap. Offsets into the String are byte offsets by construction.
    */
  def objects(bytes: Array[Byte]): Map[Int, Obj] = {
    val s = new String(bytes, "ISO-8859-1")
    val out = Map.newBuilder[Int, Obj]
    // the inflation cap is a PER-FILE budget shared by every stream
    // (the OoxmlDecode per-container discipline): 40 sub-cap bombs in
    // one file must not multiply into 40x the cap
    var inflateBudget = maxInflatedBytes
    for (m <- objRe.findAllMatchIn(s)) {
      val num = m.group(1).toInt
      val bodyStart = m.end
      val endObj = s.indexOf("endobj", bodyStart)
      if (endObj > 0) {
        val body = s.substring(bodyStart, endObj)
        val streamAt = body.indexOf("stream")
        if (streamAt >= 0 &&
            // "stream" must be the keyword, not part of /Subtype etc.
            (body.lastIndexOf(">>", streamAt) >= 0)) {
          val dict = body.substring(0, streamAt)
          var dataStart = bodyStart + streamAt + "stream".length
          if (dataStart < s.length && s.charAt(dataStart) == '\r') dataStart += 1
          if (dataStart < s.length && s.charAt(dataStart) == '\n') dataStart += 1
          // guarded parse: a corrupt /Length of ANY digit count (11 or
          // 30) must fall through to the endstream scan, never throw
          val len = lengthRe.findFirstMatchIn(dict)
            .flatMap(_.group(1).toLongOption)
          // trust a declared /Length only when the bytes right after
          // dataStart + len (past one optional EOL) spell "endstream" —
          // this both rejects over-declared lengths (which would
          // swallow the trailing keywords + the next object) and
          // ACCEPTS valid lengths whose binary payload happens to
          // contain the byte sequence "endobj"/"endstream" (where the
          // naive endObj/endstream scans land INSIDE the data)
          def endstreamAt(at: Long): Boolean = {
            if (at < 0 || at > s.length) return false
            var i = at.toInt
            // the spec says one EOL before the keyword, but real files
            // use spaces/blank lines too — skip any whitespace run (a
            // stricter gate would reject a VALID length and push the
            // fallback scan into binary payload territory)
            while (i < s.length && (s.charAt(i) == '\r' ||
                s.charAt(i) == '\n' || s.charAt(i) == ' ' ||
                s.charAt(i) == '\t')) i += 1
            s.startsWith("endstream", i)
          }
          val dataEnd = len match {
            case Some(l) if l >= 0 && endstreamAt(dataStart.toLong + l) =>
              dataStart + l.toInt
            case _ =>
              val e = s.indexOf("endstream", dataStart)
              if (e < 0) dataStart else e
          }
          val raw = java.util.Arrays.copyOfRange(bytes, dataStart, dataEnd)
          // /Filter chain: a name or an array, applied in order
          // (PDF 32000 §7.4). ASCIIHex/ASCII85 strictly shrink, so only
          // Flate stages draw down the per-file inflation budget.
          // Unknown filters (/DCTDecode images etc.) keep their bytes
          // as-is: those streams are never consumed as text downstream,
          // and throwing would kill whole files over inert objects.
          var data = raw
          val filters = filterNames(dict)
          val parms = decodeParms(dict, filters.size)
          for ((f, p) <- filters.zip(parms)) f match {
            case "/FlateDecode" =>
              data = inflate(data, inflateBudget)
              inflateBudget -= data.length
              data = unpredict(data, p)
            case "/ASCIIHexDecode" => data = asciiHexDecode(data)
            case "/ASCII85Decode" => data = ascii85Decode(data)
            case _ =>
          }
          out += num -> Obj(num, dict, Some(data))
        } else {
          out += num -> Obj(num, body, None)
        }
      }
    }
    val direct = out.result()
    val packed = direct.values
      .filter(o => o.dict.contains("/ObjStm") && o.stream.isDefined)
      .flatMap(o => expandObjStm(o))
      .map(o => o.num -> o).toMap
    // direct objects win on collision — the incremental-update rule
    // that the newest (scanned, top-level) definition is live
    packed ++ direct
  }

  /** Expand a PDF 1.5 object stream (/Type /ObjStm, §7.5.7): the
    * decompressed payload opens with /N (num, offset) integer pairs,
    * object bodies start at /First. Compressed objects carry no streams
    * by spec, so each becomes a dict-only [[Obj]]. All offsets are
    * bounds-clamped — a corrupt header truncates the expansion rather
    * than throwing.
    */
  private def expandObjStm(o: Obj): Seq[Obj] = {
    val data = o.stream.get
    val s = new String(data, "ISO-8859-1")
    val n = """/N\s+(\d+)""".r.findFirstMatchIn(o.dict)
      .flatMap(_.group(1).toIntOption).getOrElse(0)
    val first = """/First\s+(\d+)""".r.findFirstMatchIn(o.dict)
      .flatMap(_.group(1).toIntOption).getOrElse(0)
    if (n <= 0 || first <= 0 || first > s.length) return Nil
    val header = """\d+""".r.findAllIn(s.substring(0, first))
      .flatMap(_.toIntOption).toSeq
    val pairs = header.grouped(2)
      .collect { case Seq(num, off) => (num, off) }.take(n).toSeq
    pairs.zipWithIndex.map { case ((num, off), k) =>
      val start = math.min(math.max(first.toLong + off, 0L), s.length).toInt
      val end =
        if (k + 1 < pairs.length)
          math.min(math.max(first.toLong + pairs(k + 1)._2, start), s.length).toInt
        else s.length
      Obj(num, s.substring(start, end), None)
    }
  }

  /** The stream dict's /Filter entry as decode-ordered names: a single
    * name, or an array `[/A /B]` applied left-to-right (§7.4.1).
    */
  private val filterEntryRe = """/Filter\s*(\[[^\]]*\]|/[A-Za-z0-9]+)""".r
  private val filterNameRe = """/[A-Za-z0-9]+""".r
  private[sources] def filterNames(dict: String): Seq[String] =
    filterEntryRe.findFirstMatchIn(dict)
      .map(m => filterNameRe.findAllIn(m.group(1)).toSeq)
      .getOrElse(Nil)

  /** Per-filter /DecodeParms (or its /DP abbreviation, §7.3.8.2): a
    * single dict, or an array of dict|null aligned with the /Filter
    * array. Only the predictor fields are read — (Predictor, Colors,
    * BitsPerComponent, Columns) with their §7.4.4.4 defaults.
    */
  private[sources] final case class PredictorParms(predictor: Int,
      colors: Int, bpc: Int, columns: Int)
  private val noParms = PredictorParms(1, 1, 8, 1)
  private def parseParmsDict(d: String): PredictorParms = {
    def num(key: String, dflt: Int): Int =
      (key + """\s+(\d+)""").r.findFirstMatchIn(d)
        .flatMap(_.group(1).toIntOption).getOrElse(dflt)
    PredictorParms(num("/Predictor", 1), num("/Colors", 1),
      num("/BitsPerComponent", 8), num("/Columns", 1))
  }
  private[sources] def decodeParms(dict: String,
                                   nFilters: Int): Seq[PredictorParms] = {
    val at = "/DecodeParms\\b|/DP\\b".r.findFirstMatchIn(dict).map(_.end)
    if (at.isEmpty) return Seq.fill(nFilters)(noParms)
    var i = at.get
    while (i < dict.length && dict.charAt(i).isWhitespace) i += 1
    // a balanced << >> slice starting at i (nested dicts included)
    def dictAt(j0: Int): (String, Int) = {
      var j = j0 + 2
      var depth = 1
      while (j < dict.length && depth > 0) {
        if (dict.startsWith("<<", j)) { depth += 1; j += 2 }
        else if (dict.startsWith(">>", j)) { depth -= 1; j += 2 }
        else j += 1
      }
      (dict.substring(j0, j), j)
    }
    val out = scala.collection.mutable.ArrayBuffer[PredictorParms]()
    if (dict.startsWith("<<", i)) out += parseParmsDict(dictAt(i)._1)
    else if (i < dict.length && dict.charAt(i) == '[') {
      var j = i + 1
      while (j < dict.length && dict.charAt(j) != ']' &&
          out.size < nFilters) {
        if (dict.startsWith("<<", j)) {
          val (d, j2) = dictAt(j)
          out += parseParmsDict(d)
          j = j2
        } else if (dict.startsWith("null", j)) { out += noParms; j += 4 }
        else j += 1
      }
    }
    out.toSeq.padTo(nFilters, noParms)
  }

  /** Reverse predictor coding (§7.4.4.4): TIFF Predictor 2 horizontal
    * differencing, and the PNG per-row filters (predictor >= 10: one
    * tag byte per row, None/Sub/Up/Average/Paeth — RFC 2083 §6). XRef
    * streams in virtually every real-world PDF 1.5 file are
    * /Predictor 12 coded; a partial final row is processed to its
    * actual length (symmetric with how it was cut).
    */
  private[sources] def unpredict(data: Array[Byte],
                                 p: PredictorParms): Array[Byte] = {
    if (p.predictor <= 1) return data
    val bpp = math.max(1, p.colors * p.bpc / 8)
    val rowBytes = math.max(1,
      (p.columns * p.colors * p.bpc + 7) / 8)
    if (p.predictor == 2) {
      // TIFF: component-wise cumulative sum within each row (8-bit path;
      // sub-byte components are vanishingly rare and pass through)
      if (p.bpc != 8) return data
      val out = data.clone()
      var r = 0
      while (r < out.length) {
        val end = math.min(r + rowBytes, out.length)
        var i = r + bpp
        while (i < end) {
          out(i) = ((out(i) + out(i - bpp)) & 0xFF).toByte
          i += 1
        }
        r += rowBytes
      }
      return out
    }
    // PNG family: rows of (tag + rowBytes)
    val out = new java.io.ByteArrayOutputStream(data.length)
    val prev = new Array[Int](rowBytes) // previous decoded row, 0-init
    val cur = new Array[Int](rowBytes)
    var i = 0
    while (i < data.length) {
      val tag = data(i) & 0xFF
      i += 1
      val len = math.min(rowBytes, data.length - i)
      var c = 0
      while (c < len) {
        val x = data(i + c) & 0xFF
        val a = if (c >= bpp) cur(c - bpp) else 0
        val b = prev(c)
        val cc = if (c >= bpp) prev(c - bpp) else 0
        cur(c) = tag match {
          case 0 => x
          case 1 => (x + a) & 0xFF
          case 2 => (x + b) & 0xFF
          case 3 => (x + (a + b) / 2) & 0xFF
          case 4 =>
            val pp = a + b - cc
            val pa = math.abs(pp - a)
            val pb = math.abs(pp - b)
            val pc = math.abs(pp - cc)
            val pred = if (pa <= pb && pa <= pc) a
                       else if (pb <= pc) b else cc
            (x + pred) & 0xFF
          case _ => x // unknown tag: corrupt row, pass bytes through
        }
        c += 1
      }
      var k = 0
      while (k < len) { out.write(cur(k)); k += 1 }
      System.arraycopy(cur, 0, prev, 0, rowBytes)
      i += len
    }
    out.toByteArray
  }

  /** ASCIIHexDecode (§7.4.2): hex pairs, whitespace ignored, `>` EOD,
    * odd trailing digit padded with 0. Any other char is corruption —
    * throw so safeDecode turns the file into an attributed error row
    * rather than silently emitting garbage bytes.
    */
  private[sources] def asciiHexDecode(raw: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(raw.length / 2 + 1)
    var hi = -1
    var i = 0
    var done = false
    while (i < raw.length && !done) {
      val c = (raw(i) & 0xFF).toChar
      val d = Character.digit(c, 16)
      if (c == '>') done = true
      else if (d >= 0) {
        if (hi < 0) hi = d else { out.write((hi << 4) | d); hi = -1 }
      } else require(c == ' ' || c == '\r' || c == '\n' || c == '\t' ||
        c == '\f' || c == '\u0000',
        s"ASCIIHexDecode: invalid character 0x${c.toInt.toHexString}")
      i += 1
    }
    if (hi >= 0) out.write(hi << 4)
    out.toByteArray
  }

  /** ASCII85Decode (§7.4.3): 5 chars `!`..`u` -> 4 bytes base-85
    * big-endian, `z` -> four zero bytes (group start only), `~>` EOD,
    * trailing group of n chars padded with `u` emitting n-1 bytes.
    */
  private[sources] def ascii85Decode(raw: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(raw.length * 4 / 5 + 4)
    var acc = 0L
    var k = 0
    var i = 0
    // optional Adobe `<~` opener
    if (raw.length >= 2 && raw(0) == '<' && raw(1) == '~') i = 2
    var done = false
    def flush(n: Int): Unit = { // n payload chars -> n-1 bytes
      var a = acc
      var j = k
      while (j < 5) { a = a * 85 + 84; j += 1 } // pad with 'u' (84)
      require(a <= 0xFFFFFFFFL, "ASCII85Decode: group overflows 2^32")
      var shift = 24
      var b = 0
      while (b < n - 1) { out.write(((a >> shift) & 0xFF).toInt); shift -= 8; b += 1 }
    }
    while (i < raw.length && !done) {
      val c = (raw(i) & 0xFF).toChar
      if (c == '~') { if (k > 0) { require(k != 1,
        "ASCII85Decode: lone trailing character"); flush(k) }; done = true }
      else if (c == 'z') { require(k == 0,
        "ASCII85Decode: z inside a group"); out.write(0); out.write(0)
        out.write(0); out.write(0) }
      else if (c >= '!' && c <= 'u') {
        acc = acc * 85 + (c - '!'); k += 1
        if (k == 5) {
          require(acc <= 0xFFFFFFFFL, "ASCII85Decode: group overflows 2^32")
          out.write(((acc >> 24) & 0xFF).toInt); out.write(((acc >> 16) & 0xFF).toInt)
          out.write(((acc >> 8) & 0xFF).toInt); out.write((acc & 0xFF).toInt)
          acc = 0L; k = 0
        }
      } else require(c == ' ' || c == '\r' || c == '\n' || c == '\t' ||
        c == '\f' || c == '\u0000',
        s"ASCII85Decode: invalid character 0x${c.toInt.toHexString}")
      i += 1
    }
    // EOD omitted (truncated file): flush any full prefix the same way
    if (!done && k > 1) flush(k)
    out.toByteArray
  }

  /** Hard cap on total inflated bytes per FILE — one pathological row
    * (a flate bomb, or many sub-cap bombs) cannot blow task memory at
    * corpus scale (same per-container rationale as
    * [[OoxmlDecode.maxInflatedBytes]]; `objects` threads the remaining
    * budget through every stream it inflates).
    */
  val maxInflatedBytes: Long = 256L * 1024 * 1024

  private def inflate(raw: Array[Byte], budget: Long): Array[Byte] = {
    val inf = new java.util.zip.Inflater()
    inf.setInput(raw)
    val out = new java.io.ByteArrayOutputStream(math.max(64, raw.length * 4))
    val buf = new Array[Byte](8192)
    var total = 0L
    var stuck = false
    while (!inf.finished() && !stuck) {
      val n = inf.inflate(buf)
      if (n > 0) {
        total += n
        if (total > budget) {
          inf.end()
          throw new IllegalArgumentException(
            s"streams inflate past the $maxInflatedBytes-byte file budget")
        }
        out.write(buf, 0, n)
      } else stuck = inf.needsInput() || inf.needsDictionary()
    }
    inf.end()
    // a stalled inflater (truncated / bit-rotted FlateDecode stream) is
    // NOT success: returning the partial bytes would surface silently
    // truncated page text with status 'ok'. Throw so safeDecode turns
    // it into an attributed error row instead.
    if (stuck) throw new IllegalArgumentException(
      "truncated or corrupt FlateDecode stream (inflater stalled)")
    out.toByteArray
  }

  private val refRe = """(\d+)\s+\d+\s+R""".r

  private def ref(dict: String, key: String): Option[Int] =
    (key + """\s+(\d+)\s+\d+\s+R""").r.findFirstMatchIn(dict)
      .map(_.group(1).toInt)

  // ---------- font metrics (the /Widths advance PDFBox reads) ----------

  /** Per-glyph advance table from a simple font's /FirstChar + /Widths
    * (PDF 32000 §9.6.2, 1000-unit glyph space). Codes outside the table
    * fall back to the 0.5 * fontSize approximation — the documented
    * behavior for fonts that carry no widths at all.
    */
  final case class FontWidths(firstChar: Int, widths: Array[Float]) {
    def advance(code: Int, size: Float): Float = {
      val idx = code - firstChar
      if (idx >= 0 && idx < widths.length) widths(idx) / 1000f * size
      else 0.5f * size
    }
  }

  /** One page font as the interpreter consumes it: optional /Widths
    * metric table and optional /ToUnicode CMap (code -> unicode text).
    * Either half may be absent — a widths-only font advances by metrics
    * and decodes string bytes as UTF-8; a CMap-only font maps each
    * single-byte code through the CMap and advances by the fallback.
    *
    * `twoByte` marks a composite /Type0 /Identity-H font (§9.7.4):
    * string bytes are TWO-byte big-endian CID codes, advanced by the
    * descendant font's /W table (`cidWidths`, 1000-unit glyph space)
    * with /DW as the per-font default (§9.7.4.3; spec default 1000).
    */
  final case class FontInfo(widths: Option[FontWidths],
                            toUnicode: Option[Map[Int, String]],
                            twoByte: Boolean = false,
                            cidWidths: Map[Int, Float] = Map.empty,
                            defaultWidth: Float = 1000f)

  /** Parse a /ToUnicode CMap stream (PDF 32000 §9.10.3): `bfchar`
    * blocks map `<src> <dst>` pairs, `bfrange` blocks map
    * `<lo> <hi> <dstLo>` (last UTF-16 code unit incremented through the
    * range) or `<lo> <hi> [<d0> <d1> ...]` per-code arrays. Simple-font
    * scope: source codes are single-byte (multi-byte CID codes are the
    * documented Identity-H delta). Destinations are UTF-16BE hex —
    * surrogate pairs pass through as their two code units.
    */
  private val bfcharRe =
    """<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>""".r
  private val bfrangeRe =
    ("""<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*""" +
      """(?:\[((?:\s*<[0-9A-Fa-f]+>)+)\s*\]|<([0-9A-Fa-f]+)>)""").r
  private[sources] def parseToUnicode(data: Array[Byte]): Map[Int, String] = {
    val s = new String(data, "ISO-8859-1")
    val out = Map.newBuilder[Int, String]
    def utf16(hex0: String): String = {
      // some real-world generators emit 2-digit bfchar destinations
      // (<41>): left-pad to one UTF-16 code unit instead of silently
      // dropping the glyph (ADVICE r05)
      val hex = if (hex0.length >= 4) hex0
        else "0" * (4 - hex0.length) + hex0
      val n = hex.length / 4 * 4
      val cs = new Array[Char](n / 4)
      var i = 0
      while (i < n) {
        cs(i / 4) = Integer.parseInt(hex.substring(i, i + 4), 16).toChar
        i += 4
      }
      new String(cs)
    }
    def blocks(begin: String, end: String): Iterator[String] = {
      Iterator.unfold(0) { from =>
        val b = s.indexOf(begin, from)
        if (b < 0) None
        else {
          val e = s.indexOf(end, b)
          if (e < 0) None
          else Some((s.substring(b + begin.length, e), e + end.length))
        }
      }
    }
    for (block <- blocks("beginbfchar", "endbfchar");
         m <- bfcharRe.findAllMatchIn(block))
      out += Integer.parseInt(m.group(1), 16) -> utf16(m.group(2))
    for (block <- blocks("beginbfrange", "endbfrange");
         m <- bfrangeRe.findAllMatchIn(block)) {
      val lo = Integer.parseInt(m.group(1), 16)
      val hi = Integer.parseInt(m.group(2), 16)
      if (hi >= lo && hi - lo < 0x10000) {
        if (m.group(3) != null) {
          val dsts = """<([0-9A-Fa-f]+)>""".r.findAllMatchIn(m.group(3))
            .map(_.group(1)).toSeq
          for ((d, k) <- dsts.zipWithIndex if lo + k <= hi)
            out += (lo + k) -> utf16(d)
        } else {
          val base = utf16(m.group(4))
          for (k <- 0 to hi - lo) {
            val cs = base.toCharArray
            if (cs.nonEmpty)
              cs(cs.length - 1) = (cs(cs.length - 1) + k).toChar
            out += (lo + k) -> new String(cs)
          }
        }
      }
    }
    out.result()
  }

  /** The balanced `<< ... >>` slice starting at the first `<<` at or
    * after `from` (nested dicts handled; None when unbalanced).
    */
  private def dictAt(s: String, from: Int): Option[String] = {
    val start = s.indexOf("<<", from)
    if (start < 0) return None
    var i = start
    var depth = 0
    while (i < s.length - 1) {
      if (s.charAt(i) == '<' && s.charAt(i + 1) == '<') { depth += 1; i += 2 }
      else if (s.charAt(i) == '>' && s.charAt(i + 1) == '>') {
        depth -= 1; i += 2
        if (depth == 0) return Some(s.substring(start, i))
      } else i += 1
    }
    None
  }

  private val bareRefRe = """^\s*(\d+)\s+\d+\s+R""".r

  /** /FirstChar + /Widths (inline array or ref-to-array object). */
  private def fontWidths(fontDict: String,
                         objs: Map[Int, Obj]): Option[FontWidths] = {
    val fc = """/FirstChar\s+(\d+)""".r.findFirstMatchIn(fontDict)
      .map(_.group(1).toInt)
    val wAt = fontDict.indexOf("/Widths")
    if (fc.isEmpty || wAt < 0) return None
    val tail = fontDict.substring(wAt + "/Widths".length)
    val arrSrc = bareRefRe.findFirstMatchIn(tail) match {
      case Some(m) => objs.get(m.group(1).toInt).map(_.dict)
      case None => Some(tail)
    }
    arrSrc.flatMap { a =>
      val lb = a.indexOf('[')
      val rb = if (lb < 0) -1 else a.indexOf(']', lb)
      if (rb < 0) None
      else {
        val ws = """[-\d.]+""".r.findAllIn(a.substring(lb + 1, rb))
          .flatMap(_.toFloatOption).toArray
        if (ws.isEmpty) None else Some(FontWidths(fc.get, ws))
      }
    }
  }

  /** Parse a CID /W array (§9.7.4.3): a sequence of either
    * `c [w1 w2 ... wn]` (consecutive CIDs from c) or `cFirst cLast w`
    * (a constant-width range) entries, freely mixed. The array may be
    * inline in the descendant dict or an indirect object. Ranges are
    * clamped to 64k entries — a corrupt `0 16777215 500` range must not
    * materialize a 16M-entry map.
    */
  private[sources] def parseCidWidths(src: String): Map[Int, Float] = {
    val out = Map.newBuilder[Int, Float]
    val tok = """\[|\]|[-\d.]+""".r.findAllIn(src).toArray
    var i = 0
    def numAt(j: Int): Option[Float] =
      if (j < tok.length) tok(j).toFloatOption else None
    while (i < tok.length) {
      (numAt(i), if (i + 1 < tok.length) tok(i + 1) else "") match {
        case (Some(c), "[") =>
          var j = i + 2
          var cid = c.toInt
          while (j < tok.length && tok(j) != "]") {
            numAt(j).foreach { w => out += cid -> w; cid += 1 }
            j += 1
          }
          i = j + 1
        case (Some(c0), _) =>
          (numAt(i + 1), numAt(i + 2)) match {
            case (Some(c1), Some(w)) if c1 >= c0 =>
              val last = math.min(c1.toInt, c0.toInt + 0xFFFF)
              var cid = c0.toInt
              while (cid <= last) { out += cid -> w; cid += 1 }
              i += 3
            case _ => i += 1
          }
        case _ => i += 1
      }
    }
    out.result()
  }

  /** Composite-font half of a /Type0 /Identity-H dict: follows
    * /DescendantFonts to the CIDFont and reads its /W + /DW metrics.
    * Only Identity-H/V byte-to-CID conventions are handled (two fixed
    * bytes per code) — a predefined /Encoding CMap name leaves the font
    * on the simple-font path (documented delta).
    */
  private def cidFontOf(fontDict: String, objs: Map[Int, Obj])
      : Option[(Map[Int, Float], Float)] = {
    if (!fontDict.contains("/Type0") ||
        !"""(?s)/Encoding\s*/Identity-[HV]""".r
          .findFirstIn(fontDict).isDefined) return None
    val desc = refsInArray(fontDict, "/DescendantFonts").headOption
      .flatMap(objs.get).map(_.dict)
    val dw = desc.flatMap(d => """(?s)/DW\s+([-\d.]+)""".r
      .findFirstMatchIn(d).flatMap(_.group(1).toFloatOption))
      .getOrElse(1000f)
    val w = desc.flatMap { d =>
      // /W must be its own name token — not the /Widths prefix and not
      // /W2 (vertical metrics, §9.7.4.3 — a digit follows; ADVICE r05):
      // skip non-token occurrences instead of rejecting outright so a
      // dict carrying /W2 before /W still yields its horizontal widths
      var at = d.indexOf("/W")
      while (at >= 0 && at + 2 < d.length && d.charAt(at + 2).isLetterOrDigit)
        at = d.indexOf("/W", at + 2)
      if (at < 0) None
      else {
        val tail = d.substring(at + 2)
        bareRefRe.findFirstMatchIn(tail) match {
          case Some(m) => objs.get(m.group(1).toInt).map(_.dict)
          case None =>
            val lb = tail.indexOf('[')
            val rb = if (lb < 0) -1 else {
              // the matching close of a possibly-nested array
              var depth = 0; var j = lb; var end = -1
              while (j < tail.length && end < 0) {
                if (tail.charAt(j) == '[') depth += 1
                else if (tail.charAt(j) == ']') {
                  depth -= 1; if (depth == 0) end = j
                }
                j += 1
              }
              end
            }
            if (rb < 0) None else Some(tail.substring(lb, rb + 1))
        }
      }
    }.map(parseCidWidths).getOrElse(Map.empty)
    Some((w, dw))
  }

  /** Resource-name -> font info for one page's /Resources /Font dict
    * (inline or indirect resources; fonts referenced indirectly —
    * inline font dicts without /Widths simply keep the fallback). A
    * font contributes an entry when it carries /Widths metrics, a
    * /ToUnicode CMap, or both.
    */
  private val toUnicodeRe = """/ToUnicode\s+(\d+)\s+\d+\s+R""".r
  private def fontsOf(pageDict: String,
                      objs: Map[Int, Obj]): Map[String, FontInfo] = {
    val at = pageDict.indexOf("/Resources")
    if (at < 0) return Map.empty
    val resDict = bareRefRe
      .findFirstMatchIn(pageDict.substring(at + "/Resources".length)) match {
      case Some(m) => objs.get(m.group(1).toInt).map(_.dict)
      case None => dictAt(pageDict, at)
    }
    resDict.toSeq.flatMap { res =>
      val fAt = res.indexOf("/Font")
      if (fAt < 0) Nil
      else dictAt(res, fAt).toSeq.flatMap { fd =>
        """/([\w.]+)\s+(\d+)\s+\d+\s+R""".r.findAllMatchIn(fd).flatMap { m =>
          objs.get(m.group(2).toInt).flatMap { o =>
            val w = fontWidths(o.dict, objs)
            val tu = toUnicodeRe.findFirstMatchIn(o.dict)
              .flatMap(r => objs.get(r.group(1).toInt))
              .flatMap(_.stream).map(parseToUnicode).filter(_.nonEmpty)
            val cid = cidFontOf(o.dict, objs)
            if (w.isEmpty && tu.isEmpty && cid.isEmpty) None
            else Some(m.group(1) -> FontInfo(w, tu,
              twoByte = cid.isDefined,
              cidWidths = cid.map(_._1).getOrElse(Map.empty),
              defaultWidth = cid.map(_._2).getOrElse(1000f)))
          }
        }
      }
    }.toMap
  }

  private def refsInArray(dict: String, key: String): Seq[Int] =
    (key + """\s*\[([^\]]*)\]""").r.findFirstMatchIn(dict)
      .map(m => refRe.findAllMatchIn(m.group(1)).map(_.group(1).toInt).toSeq)
      .getOrElse(Nil)

  /** One page as the interpreter consumes it: concatenated content
    * stream, the page's font width tables, its effective (inherited or
    * own) /Rotate in degrees, and the media box dims — what the
    * interpreter needs to normalize rotated pages into display space.
    */
  final case class PageData(content: Array[Byte],
                            fonts: Map[String, FontInfo],
                            rotate: Int = 0,
                            mediaW: Float = 612f,
                            mediaH: Float = 792f)

  /** Page content (+ per-page fonts/rotation) + DISPLAY page width (the
    * media width with /Rotate 90/270 swapping the axes — the width the
    * geometry kernel sees), in document order.
    */
  def pageData(bytes: Array[Byte]): (Seq[PageData], Float) = {
    val objs = objects(bytes)
    val catalog = objs.values.find(_.dict.contains("/Catalog"))
      .getOrElse(throw new IllegalArgumentException("no /Catalog object"))
    val pagesRoot = ref(catalog.dict, "/Pages")
      .getOrElse(throw new IllegalArgumentException("no /Pages in catalog"))
    var displayWidth = 612f
    val contents = new ArrayBuffer[PageData]
    val mediaBoxRe =
      """/MediaBox\s*\[\s*([-\d.]+)\s+([-\d.]+)\s+([-\d.]+)\s+([-\d.]+)""".r
    val rotateRe = """/Rotate\s+(-?\d+)""".r
    // visited set: a cyclic /Kids graph in corrupt input must terminate
    // with a truncated walk, not a StackOverflowError. /MediaBox and
    // /Rotate are inheritable page-tree attributes (§7.7.3.4) — each
    // node's own entry overrides the inherited one FOR ITS SUBTREE
    // only, so they thread down the recursion instead of mutating a
    // walk-global (a sibling page's /Rotate must not leak sideways).
    val visited = scala.collection.mutable.Set[Int]()
    def walk(num: Int, inhW: Float, inhH: Float, inhRot: Int): Unit =
      if (visited.add(num)) objs.get(num).foreach { o =>
        var mediaW = inhW
        var mediaH = inhH
        var rotate = inhRot
        mediaBoxRe.findFirstMatchIn(o.dict).foreach { m =>
          mediaW = m.group(3).toFloat - m.group(1).toFloat
          mediaH = m.group(4).toFloat - m.group(2).toFloat
        }
        rotateRe.findFirstMatchIn(o.dict)
          .foreach(m => rotate = ((m.group(1).toInt % 360) + 360) % 360)
        if (o.dict.contains("/Page") && !o.dict.contains("/Pages")) {
          val streamRefs = ref(o.dict, "/Contents").toSeq ++
            refsInArray(o.dict, "/Contents")
          val data = streamRefs.distinct
            .flatMap(objs.get).flatMap(_.stream)
          val content =
            if (data.nonEmpty) data.reduce(_ ++ Array[Byte]('\n') ++ _)
            else Array.emptyByteArray
          displayWidth = if (rotate == 90 || rotate == 270) mediaH else mediaW
          contents += PageData(content, fontsOf(o.dict, objs),
            rotate, mediaW, mediaH)
        } else {
          refsInArray(o.dict, "/Kids").foreach(walk(_, mediaW, mediaH, rotate))
        }
      }
    walk(pagesRoot, 612f, 792f, 0)
    (contents.toSeq, displayWidth)
  }

  // ---------- content-stream interpreter ----------

  private sealed trait Tok
  private final case class TNum(v: Float) extends Tok
  private final case class TStr(bytes: Array[Byte]) extends Tok
  private final case class TName(v: String) extends Tok
  private final case class TOp(v: String) extends Tok
  private case object TArrStart extends Tok
  private case object TArrEnd extends Tok

  private def tokenize(data: Array[Byte]): Iterator[Tok] = new Iterator[Tok] {
    private var i = 0
    private def ws(c: Byte): Boolean =
      c == ' ' || c == '\n' || c == '\r' || c == '\t' || c == 0
    private def skipWs(): Unit = { while (i < data.length && ws(data(i))) i += 1 }
    skipWs()
    def hasNext: Boolean = i < data.length
    def next(): Tok = {
      val c = data(i).toChar
      val t: Tok = c match {
        case '(' =>
          val out = new java.io.ByteArrayOutputStream()
          var depth = 1
          i += 1
          while (i < data.length && depth > 0) {
            data(i).toChar match {
              case '\\' if i + 1 < data.length =>
                i += 1
                data(i).toChar match {
                  case 'n' => out.write('\n')
                  case 'r' => out.write('\r')
                  case 't' => out.write('\t')
                  case 'b' => out.write('\b')
                  case 'f' => out.write('\f')
                  // backslash-EOL is a line CONTINUATION (§7.3.4.2):
                  // no character; CRLF counts as one EOL
                  case '\r' =>
                    if (i + 1 < data.length && data(i + 1) == '\n') i += 1
                  case '\n' =>
                  case d if d >= '0' && d <= '7' =>
                    var oct = 0
                    var k = 0
                    while (k < 3 && i < data.length &&
                        data(i) >= '0' && data(i) <= '7') {
                      oct = oct * 8 + (data(i) - '0'); i += 1; k += 1
                    }
                    i -= 1
                    out.write(oct)
                  case other => out.write(other)
                }
              case ')' => depth -= 1; if (depth > 0) out.write(')')
              case '(' => depth += 1; out.write('(')
              case other => out.write(other)
            }
            i += 1
          }
          i -= 1
          TStr(out.toByteArray)
        case '[' => TArrStart
        case ']' => TArrEnd
        case '<' if i + 1 < data.length && data(i + 1) == '<' =>
          i += 1 // dict start — an operator-shaped token the stack drops
          TOp("<<")
        case '>' if i + 1 < data.length && data(i + 1) == '>' =>
          i += 1
          TOp(">>")
        case '<' => // hex string <4E42...>; odd digit count pads low 0
          val out = new java.io.ByteArrayOutputStream()
          i += 1
          var hi = -1
          while (i < data.length && data(i) != '>') {
            val v = Character.digit(data(i).toChar, 16)
            if (v >= 0) {
              if (hi < 0) hi = v
              else { out.write(hi * 16 + v); hi = -1 }
            }
            i += 1
          }
          if (hi >= 0) out.write(hi * 16)
          TStr(out.toByteArray)
        case '/' =>
          val start = i + 1
          i += 1
          while (i < data.length && !ws(data(i)) && "()[]<>/".indexOf(data(i).toChar) < 0) i += 1
          i -= 1
          TName(new String(data, start, i + 1 - start, "ISO-8859-1"))
        case d if d == '+' || d == '-' || d == '.' || (d >= '0' && d <= '9') =>
          val start = i
          i += 1
          while (i < data.length && !ws(data(i)) && "()[]<>/".indexOf(data(i).toChar) < 0) i += 1
          i -= 1
          TNum(new String(data, start, i + 1 - start, "ISO-8859-1").toFloat)
        case _ =>
          val start = i
          i += 1
          while (i < data.length && !ws(data(i)) && "()[]<>/".indexOf(data(i).toChar) < 0) i += 1
          i -= 1
          TOp(new String(data, start, i + 1 - start, "ISO-8859-1"))
      }
      i += 1
      skipWs()
      t
    }
  }

  /** Interpret one page's content into the kernel's Page. `fonts` maps
    * resource names (Tf operands) to width tables; text shown in a font
    * without one advances by the 0.5 * fontSize fallback.
    */
  def interpret(content: Array[Byte],
                fonts: Map[String, FontInfo] = Map.empty,
                rotate: Int = 0,
                mediaW: Float = 612f,
                mediaH: Float = 792f): Page = {
    val glyphs = new ArrayBuffer[Glyph]
    val rects = new ArrayBuffer[Rect]
    val pending = new ArrayBuffer[Rect]
    val stack = new ArrayBuffer[Tok]
    var lineX, lineY, curX, curY = 0f
    var fontSize = 12f
    var font: Option[FontInfo] = None
    var leading = 0f
    // text-state advance parameters (§9.3.1-9.3.4): Tc char spacing,
    // Tw word spacing (single-byte code 32 ONLY — never two-byte CIDs,
    // §9.3.3), Tz horizontal scaling (stored as the Th fraction).
    // PDFBox folds all three into every glyph advance (§9.4.4) —
    // justified text (Tw), letterspacing (Tc) and condensed layouts
    // (Tz) mis-place glyphs under a decoder that ignores them.
    var charSpacing = 0f
    var wordSpacing = 0f
    var hScale = 1f
    // current transformation matrix [a b c d e f] (PDF 32000 §8.3.4);
    // `cm` concatenates, q/Q save/restore. Device coords = text-space
    // coords through the CTM — the PDFBox position convention
    // (PdfParser.java:212-216) the geometry kernel expects. A page
    // /Rotate pre-composes the display-normalization rotation into the
    // initial CTM (PDFBox's rotation handling in its text stripper), so
    // every emitted glyph/rect is already in upright display space:
    //   90:  (x,y) -> (y, W - x)    180: (x,y) -> (W - x, H - y)
    //   270: (x,y) -> (H - y, x)
    var ctm = rotate match {
      case 90  => Array(0f, -1f, 1f, 0f, 0f, mediaW)
      case 180 => Array(-1f, 0f, 0f, -1f, mediaW, mediaH)
      case 270 => Array(0f, 1f, -1f, 0f, mediaH, 0f)
      case _   => Array(1f, 0f, 0f, 1f, 0f, 0f)
    }
    val gsStack = new ArrayBuffer[Array[Float]]
    def txX(x: Float, y: Float): Float = ctm(0) * x + ctm(2) * y + ctm(4)
    def txY(x: Float, y: Float): Float = ctm(1) * x + ctm(3) * y + ctm(5)
    def num(idx: Int): Float = stack(stack.length - idx) match {
      case TNum(v) => v
      case _ => 0f
    }
    def advance(code: Int): Float = {
      val base = font.flatMap(_.widths) match {
        case Some(w) => w.advance(code, fontSize)
        case None => fontSize * 0.5f
      }
      (base + charSpacing +
        (if (code == 32) wordSpacing else 0f)) * hScale
    }
    def show(bytes: Array[Byte]): Unit = font match {
      case Some(f) if f.twoByte =>
        // Identity-H composite font (§9.7.4): big-endian TWO-byte CID
        // codes mapped through /ToUnicode, advanced by /W (else /DW).
        // A trailing lone byte (truncated string) is dropped; unmapped
        // CIDs fall back to their code-point identity so corrupt CMaps
        // degrade, not crash.
        val cmap = f.toUnicode.getOrElse(Map.empty[Int, String])
        var i = 0
        while (i + 1 < bytes.length) {
          val code = ((bytes(i) & 0xFF) << 8) | (bytes(i + 1) & 0xFF)
          val txt = cmap.getOrElse(code, code.toChar.toString)
          glyphs += Glyph(txX(curX, curY), txY(curX, curY), txt)
          curX += (f.cidWidths.getOrElse(code, f.defaultWidth) / 1000f *
            fontSize + charSpacing) * hScale
          i += 2
        }
      case _ => font.flatMap(_.toUnicode) match {
        case Some(cmap) =>
          // embedded-subset convention: string bytes are single-byte
          // font CODES, each mapped to unicode text through the
          // /ToUnicode CMap (PDFBox's getUnicode path); unmapped codes
          // fall back to their Latin-1 identity so corrupt CMaps
          // degrade, not crash
          for (b <- bytes) {
            val code = b & 0xFF
            val txt = cmap.getOrElse(code, code.toChar.toString)
            glyphs += Glyph(txX(curX, curY), txY(curX, curY), txt)
            curX += advance(code)
          }
        case None =>
          val s = new String(bytes, "UTF-8")
          for (ch <- s) {
            glyphs += Glyph(txX(curX, curY), txY(curX, curY), ch.toString)
            curX += advance(ch.toInt)
          }
      }
    }
    for (tok <- tokenize(content)) tok match {
      case TOp(op) =>
        op match {
          case "BT" => lineX = 0; lineY = 0; curX = 0; curY = 0
          case "ET" =>
          case "Tf" =>
            if (stack.nonEmpty) fontSize = num(1)
            font =
              (if (stack.length >= 2) stack(stack.length - 2) else TOp("")) match {
                case TName(n) => fonts.get(n)
                case _ => None
              }
          case "TL" => leading = num(1)
          case "Tc" => charSpacing = num(1)
          case "Tw" => wordSpacing = num(1)
          case "Tz" => hScale = num(1) / 100f
          case "Td" =>
            lineX += num(2); lineY += num(1); curX = lineX; curY = lineY
          case "TD" =>
            leading = -num(1)
            lineX += num(2); lineY += num(1); curX = lineX; curY = lineY
          case "Tm" =>
            lineX = num(2); lineY = num(1); curX = lineX; curY = lineY
          case "T*" => lineY -= leading; curX = lineX; curY = lineY
          case "Tj" => stack.lastOption.foreach {
            case TStr(b) => show(b); case _ => }
          case "'" =>
            lineY -= leading; curX = lineX; curY = lineY
            stack.lastOption.foreach { case TStr(b) => show(b); case _ => }
          case "\"" => // aw ac string ": set Tw/Tc, next line, show
            wordSpacing = num(3); charSpacing = num(2)
            lineY -= leading; curX = lineX; curY = lineY
            stack.lastOption.foreach { case TStr(b) => show(b); case _ => }
          case "TJ" => // array already flattened onto the stack
            val arr = stack.dropWhile(_ != TArrStart).drop(1)
            for (t <- arr) t match {
              case TStr(b) => show(b)
              case TNum(adj) => curX -= adj / 1000f * fontSize * hScale
              case _ =>
            }
          case "cm" => // CTM' = M x CTM (left-concatenation, §8.3.4)
            val a = num(6); val b = num(5); val c = num(4)
            val d = num(3); val e = num(2); val f = num(1)
            ctm = Array(
              a * ctm(0) + b * ctm(2), a * ctm(1) + b * ctm(3),
              c * ctm(0) + d * ctm(2), c * ctm(1) + d * ctm(3),
              e * ctm(0) + f * ctm(2) + ctm(4),
              e * ctm(1) + f * ctm(3) + ctm(5))
          case "q" => // Tc/Tw/Tz live in the graphics state too (§8.4.1)
            gsStack += (ctm :+ charSpacing :+ wordSpacing :+ hScale)
          case "Q" =>
            if (gsStack.nonEmpty) {
              val s = gsStack.remove(gsStack.length - 1)
              ctm = s.take(6)
              charSpacing = s(6); wordSpacing = s(7); hScale = s(8)
            }
          case "re" =>
            // transform all four corners and take the bounding box —
            // exact for the scale/translate CTMs real tables use, a
            // conservative box under rotation
            val x = num(4); val y = num(3); val w = num(2); val h = num(1)
            val xs = Array(txX(x, y), txX(x + w, y), txX(x, y + h),
              txX(x + w, y + h))
            val ys = Array(txY(x, y), txY(x + w, y), txY(x, y + h),
              txY(x + w, y + h))
            pending += Rect(xs.min, ys.min, xs.max - xs.min, ys.max - ys.min)
          case "f" | "F" | "f*" | "b" | "B" | "b*" | "B*" =>
            rects ++= pending; pending.clear() // fill-path harvest
          case "S" | "s" | "n" => pending.clear() // stroke/no-op: dropped
          case _ =>
        }
        stack.clear()
      case t => stack += t
    }
    // glyph lines: cluster by y (descending page order), glyphs by x
    val lines = glyphs.groupBy(g => math.round(g.y * 2)).toSeq
      .sortBy(-_._1)
      .map { case (_, gs) => GlyphLine(gs.sortBy(_.x).toSeq) }
    val text = lines.map(_.glyphs.map(_.text).mkString).mkString("\n")
    Page(text, lines, rects.toSeq)
  }

  /** PDF bytes -> kernel pages (S4 + P1, real). */
  def pages(bytes: Array[Byte]): Seq[Page] = pagesWithWidth(bytes)._1

  /** One-parse form: pages AND media width from a single object scan —
    * what [[graft.sources.BinaryDispatch.decode]] uses (calling
    * `pages` + `pageWidth` separately would object-scan and re-inflate
    * every stream twice, doubling the per-file inflation work).
    */
  def pagesWithWidth(bytes: Array[Byte]): (Seq[Page], Float) = {
    val (pd, w) = pageData(bytes)
    (pd.map(p => interpret(p.content, p.fonts, p.rotate, p.mediaW, p.mediaH)), w)
  }

  /** Media width of the first /MediaBox seen (the stakeholder pipeline's
    * pageWidth input).
    */
  def pageWidth(bytes: Array[Byte]): Float = pageData(bytes)._2
}
