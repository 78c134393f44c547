package graft.sources

import graft.core.{MultiDoc, PdfTable, SheetTable}

/** Format dispatch over raw document bytes — the reference's S1 surface
  * (`parse(filePath)` keyed on the uppercase file extension,
  * `DocumentParser.java:92-95`), re-keyed on CONTENT MAGIC: at corpus
  * scale file names lie, bytes do not.
  *
  *   - `%PDF`            -> [[PdfDecode]]
  *   - CFB magic D0CF11E0 -> [[DocDecode]] when a WordDocument stream
  *     exists, [[XlsDecode]] when a Workbook/Book stream exists
  *   - zip magic PK      -> [[OoxmlDecode]] DOCX (word/document.xml)
  *     or XLSX (xl/workbook.xml)
  *   - anything else     -> plain text for the transcript tokenizer
  *     (the per-turn route the pipeline already runs)
  */
object BinaryDispatch {

  sealed trait Decoded { def format: String }
  final case class DecodedDoc(format: String, md: MultiDoc) extends Decoded
  final case class DecodedSheets(format: String,
                                 sheets: Seq[SheetTable.Sheet]) extends Decoded
  final case class DecodedPdf(format: String,
                              stakeholders: Seq[PdfTable.Stakeholder])
    extends Decoded
  final case class DecodedText(format: String, text: String) extends Decoded

  /** Content-magic format sniff: doc / xls / docx / xlsx / pdf / text.
    * Magic-byte tests live in ONE place ([[coarseSniff]]); this refines
    * the two container families by opening them, so it can throw on
    * corrupt containers (which is why [[safeDecode]] attributes errors
    * with the coarse family instead).
    */
  def sniff(bytes: Array[Byte]): String = coarseSniff(bytes) match {
    case "cfb" =>
      val streams = CfbDecode.streams(bytes).keySet
      if (streams.contains("WordDocument")) "doc"
      else if (streams.contains("Workbook") || streams.contains("Book"))
        "xls"
      else "cfb"
    case "zip" =>
      // names come from the central directory — zero inflation, so
      // sniffing a 10^6x zip bomb costs nothing
      val entries = OoxmlDecode.zipEntryNames(bytes)
      if (entries.contains("word/document.xml")) "docx"
      else if (entries.contains("xl/workbook.xml")) "xlsx"
      else "zip"
    case f => f
  }

  /** Magic-bytes-only coarse sniff — a pure byte test that NEVER throws
    * (unlike [[sniff]], which opens the container to tell doc from xls
    * and docx from xlsx and so propagates container-level corruption).
    * Used by [[safeDecode]] to attribute a failed decode to a format
    * family.
    */
  def coarseSniff(bytes: Array[Byte]): String = {
    if (bytes.length >= 4 && bytes(0) == '%' && bytes(1) == 'P' &&
        bytes(2) == 'D' && bytes(3) == 'F') "pdf"
    else if (bytes.length >= 4 && (bytes(0) & 0xFF) == 0xD0 &&
        (bytes(1) & 0xFF) == 0xCF && (bytes(2) & 0xFF) == 0x11 &&
        (bytes(3) & 0xFF) == 0xE0) "cfb"
    else if (bytes.length >= 2 && bytes(0) == 'P' && bytes(1) == 'K') "zip"
    else "text"
  }

  /** Decode outcome for the corpus-scale scan: at 10^8+ files some bytes
    * ARE corrupt (truncated uploads, bit rot, mislabeled blobs) and one
    * bad row must cost an error row, never the job. `format` is the
    * decoded format on success, the [[coarseSniff]] family on failure;
    * `error` carries the exception class name for triage aggregation.
    */
  final case class SafeDecoded(format: String, status: String,
                               error: String, decoded: Option[Decoded])

  /** Total (never-throwing) variant of [[decode]]: all decoder-level
    * failures — bounds, magic, chain, zip, XML, number parses, the
    * allocation caps — surface as an `error` row. Decoder internals are
    * allocation-bounded ([[OoxmlDecode.maxInflatedBytes]],
    * [[PdfDecode.maxInflatedBytes]], CFB chain/size guards), so
    * catching NonFatal here is sound: pathological inputs throw early
    * instead of exhausting task memory.
    */
  def safeDecode(bytes: Array[Byte]): SafeDecoded = {
    // null content (a corrupt upload row) must be an error row too —
    // and it must be handled BEFORE the catch path, whose coarseSniff
    // would itself NPE on null and escape the handler
    if (bytes == null) return SafeDecoded("null", "error", "NullContent", None)
    try {
      val d = decode(bytes)
      SafeDecoded(d.format, "ok", "", Some(d))
    } catch {
      case scala.util.control.NonFatal(e) =>
        SafeDecoded(coarseSniff(bytes), "error",
          e.getClass.getSimpleName, None)
    }
  }

  /** Thrown for a well-formed container whose contents match no
    * supported document type (a .ppt CFB, a generic zip archive).
    * Distinct class name so the safeDecode error column aggregates
    * these separately from corrupt-container failures.
    */
  final class UnsupportedContainerException(family: String)
    extends IllegalArgumentException(
      s"$family container holds no supported document stream")

  /** Decode any supported document (the reference's one-call entry).
    * DecodedText is reserved for the coarse 'text' family: a
    * recognized-but-unsupported CONTAINER (cfb without WordDocument/
    * Workbook, zip without OOXML parts) throws instead of decoding raw
    * container bytes as UTF-8 mojibake into the tokenizer path —
    * safeDecode turns it into an `error` row attributed to the family.
    */
  def decode(bytes: Array[Byte]): Decoded = sniff(bytes) match {
    case "pdf" =>
      val (pages, width) = PdfDecode.pagesWithWidth(bytes)
      DecodedPdf("pdf", PdfTable.parseStakeholderPages(pages, width))
    case "doc" => DecodedDoc("doc", DocDecode.decodeDoc(bytes))
    case "docx" => DecodedDoc("docx", OoxmlDecode.decodeDocx(bytes))
    case "xls" => DecodedSheets("xls", XlsDecode.decodeXls(bytes))
    case "xlsx" => DecodedSheets("xlsx", OoxmlDecode.decodeXlsx(bytes))
    case f @ ("cfb" | "zip") => throw new UnsupportedContainerException(f)
    case f => DecodedText(f, new String(bytes, "UTF-8"))
  }
}
