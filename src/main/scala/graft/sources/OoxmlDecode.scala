package graft.sources

import graft.core._
import java.io.ByteArrayInputStream
import java.util.zip.ZipInputStream
import javax.xml.stream.{XMLInputFactory, XMLStreamConstants, XMLStreamReader}
import scala.collection.mutable.ArrayBuffer

/** Real OOXML (DOCX/XLSX) structural decode with JDK-only parts
  * (VERDICT r03 #3): `java.util.zip` for the OPC container and StAX
  * (`javax.xml.stream`) for the parts — no POI, which this sandbox
  * cannot host. This closes the largest reference delta the sandbox
  * permits: the reference's entry point is `parse(filePath)` over
  * document BYTES (DocumentParser.java:92-95), decoding
  * `word/document.xml` through POI's XWPF object model
  * (DocumentParser.java:210-220) before the segmentation state machine
  * consumes body elements (:404-475).
  *
  * This decoder emits the SAME input contract the segmenter already
  * consumes ([[graft.core.BodyElement]] — the tokenizer-analog stream):
  *
  *   - paragraphs with style runs and explicit/styled bold
  *     (`w:r`/`w:rPr`/`w:b`, run style chains `w:rStyle` — the
  *     attributes behind isBold, DocumentParser.java:949-994),
  *   - paragraph style chains (`w:pStyle` + enclosing `w:tblStyle`,
  *     XOR-folded by the segmenter — :914-925),
  *   - alignment (`w:jc` — :904-906), indentation ratio
  *     (`w:ind[@w:left]` / `w:pgSz[@w:w]` — :899-901),
  *   - numbering (`w:numPr` -> numbering.xml abstractNum levels:
  *     numFmt/lvlText/start — the ListRef triple of
  *     DocumentParser.java:537-643),
  *   - page breaks (`w:pageBreakBefore`, `w:br[@w:type=page]` ->
  *     CanBeHeader.Must — the `^P` fixture route),
  *   - TOC fields (`w:instrText` matching "PAGEREF _Toc\d+" —
  *     :54,:708-716),
  *   - tables as rows -> cells -> body streams (`w:tbl`/`w:tr`/`w:tc`
  *     — :404-475), including tables nested inside cells as nested
  *     [[graft.core.TableElement]]s in document order (style joined to
  *     the chain), which the segmenter recurses into with their own
  *     per-table gating — the reference's processBodyElement recursion
  *     over `cell.getBodyElements()` (:446-447).
  *
  * XLSX: `xl/workbook.xml` + `xl/_rels` + `xl/sharedStrings.xml` +
  * `xl/worksheets/sheetN.xml` -> [[graft.core.SheetTable.Sheet]] (the
  * cell model of ExcelParser.java:144-188 — POI CellType names
  * preserved).
  *
  * Scale shape: one document = one row; the decoder is a pure
  * bytes -> elements function run inside `mapPartitions`/codegen
  * kernels, so it is embarrassingly parallel and allocation-bounded by
  * the inflation guard below (the analog of the reference's zip-bomb
  * guard, ZipSecureFile.setMinInflateRatio, DocumentParser.java:72).
  */
object OoxmlDecode {

  /** Hard cap on total inflated bytes per container — one pathological
    * row cannot blow task memory (same rationale as
    * [[graft.pipeline.TurnExtractor.maxTurnBytes]]).
    */
  val maxInflatedBytes: Long = 256L * 1024 * 1024

  private val TocRe = "PAGEREF _Toc\\d+".r

  // ---------- container ----------

  /** All regular zip entries, name -> bytes, with the inflation cap. */
  def zipEntries(bytes: Array[Byte]): Map[String, Array[Byte]] =
    zipEntries(bytes, maxInflatedBytes)

  private[sources] def zipEntries(bytes: Array[Byte],
                                  cap: Long): Map[String, Array[Byte]] = {
    val out = Map.newBuilder[String, Array[Byte]]
    val zin = new ZipInputStream(new ByteArrayInputStream(bytes))
    try {
      var total = 0L
      var e = zin.getNextEntry
      while (e != null) {
        if (!e.isDirectory) {
          // bounded read: inflate in 64 KB chunks and stop the moment
          // the cap is crossed — a 10^6x-ratio bomb costs at most `cap`
          // bytes of task memory, never its declared size
          val buf = new java.io.ByteArrayOutputStream()
          val chunk = new Array[Byte](65536)
          var n = zin.read(chunk)
          while (n >= 0) {
            total += n
            if (total > cap)
              throw new IllegalArgumentException(
                s"zip inflates past $cap bytes")
            buf.write(chunk, 0, n)
            n = zin.read(chunk)
          }
          out += e.getName -> buf.toByteArray
        }
        e = zin.getNextEntry
      }
    } finally zin.close()
    out.result()
  }

  /** Only the entries `keep` accepts, read via the central directory
    * ([[ZipRandom]]) — embedded media (images routinely 10-100x the
    * XML in real files) is never inflated, where the streaming
    * [[zipEntries]] walk decompresses every byte of every entry. The
    * cumulative inflation cap is preserved across the kept entries.
    */
  def zipEntriesWhere(bytes: Array[Byte], keep: String => Boolean,
                      cap: Long = maxInflatedBytes)
      : Map[String, Array[Byte]] = {
    var total = 0L
    val out = Map.newBuilder[String, Array[Byte]]
    for (e <- ZipRandom.entries(bytes) if keep(e.name)) {
      val data = ZipRandom.read(bytes, e, cap - total)
      total += data.length
      out += e.name -> data
    }
    out.result()
  }

  /** Entry names only — zero inflation (the dispatch sniffing path). */
  def zipEntryNames(bytes: Array[Byte]): Set[String] =
    ZipRandom.entries(bytes).map(_.name).toSet

  /** Hardened reader: no DTDs, no external entities (document bytes are
    * untrusted input at corpus scale).
    *
    * The factory is per-THREAD, not per-call: `newInstance()` runs the
    * JAXP ServiceLoader lookup under classloader locks every time, and
    * at several reader() calls per document it both dominated decode
    * wall time and GLOBALLY SERIALIZED the tier (measured: 8 decode
    * threads ran 1.9x one thread; with the thread-local factory the
    * pure-thread pair scales with the host envelope). XMLInputFactory
    * is not specified thread-safe, so per-thread instances, not one
    * shared one.
    */
  private val factories = new ThreadLocal[XMLInputFactory] {
    override def initialValue(): XMLInputFactory = {
      val f = XMLInputFactory.newInstance()
      f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
      f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
      f.setProperty(XMLInputFactory.IS_COALESCING, true)
      f
    }
  }
  private def reader(xml: Array[Byte]): XMLStreamReader =
    factories.get().createXMLStreamReader(new ByteArrayInputStream(xml))

  /** Attribute by local name (namespace-lenient: ECMA-376 transitional
    * and strict use different namespace URIs for the same vocabulary).
    */
  private def attr(r: XMLStreamReader, local: String): String = {
    var i = 0
    while (i < r.getAttributeCount) {
      if (r.getAttributeLocalName(i) == local) return r.getAttributeValue(i)
      i += 1
    }
    null
  }

  /** ST_OnOff: absent value means true; "0"/"false"/"off" mean false
    * (the STOnOff handling of DocumentParser.java:952-955).
    */
  private def onOff(v: String): Boolean =
    v == null || !(v == "0" || v == "false" || v == "off")

  // ---------- styles.xml ----------

  /** One `w:style`: rPr presence matters — the reference recurses into
    * basedOn ONLY when rPr exists with b unset (isBold(document,styleID),
    * DocumentParser.java:949-966: a style with no rPr returns false
    * without consulting its base). Quirk preserved.
    */
  final case class StyleDef(basedOn: Option[String], hasRPr: Boolean,
                            bold: Option[Boolean])

  def parseStyles(xml: Array[Byte]): Map[String, StyleDef] = {
    val out = Map.newBuilder[String, StyleDef]
    val r = reader(xml)
    var id: String = null
    var basedOn: Option[String] = None
    var hasRPr = false
    var bold: Option[Boolean] = None
    var inRPr = false
    var depth = 0
    var styleDepth = -1
    while (r.hasNext) {
      r.next() match {
        case XMLStreamConstants.START_ELEMENT =>
          depth += 1
          r.getLocalName match {
            case "style" =>
              id = attr(r, "styleId"); basedOn = None; hasRPr = false
              bold = None; styleDepth = depth
            case "basedOn" if id != null => basedOn = Option(attr(r, "val"))
            case "rPr" if id != null && styleDepth >= 0 =>
              hasRPr = true; inRPr = true
            case "b" if inRPr => bold = Some(onOff(attr(r, "val")))
            case _ =>
          }
        case XMLStreamConstants.END_ELEMENT =>
          r.getLocalName match {
            case "style" if id != null =>
              out += id -> StyleDef(basedOn, hasRPr, bold)
              id = null; styleDepth = -1
            case "rPr" => inRPr = false
            case _ =>
          }
          depth -= 1
        case _ =>
      }
    }
    r.close()
    out.result()
  }

  /** Bold resolution through the basedOn chain (cycle-guarded; the
    * reference would stack-overflow on a style cycle — we stop).
    */
  def resolveBold(styles: Map[String, StyleDef], id: String,
                  seen: Set[String] = Set.empty): Boolean =
    styles.get(id) match {
      case Some(s) if s.hasRPr =>
        s.bold.getOrElse(s.basedOn match {
          case Some(b) if !seen(b) => resolveBold(styles, b, seen + id)
          case _ => false
        })
      case _ => false
    }

  // ---------- numbering.xml ----------

  final case class NumLvl(numFmt: String, lvlText: String, start: Int)
  final case class Numbering(numToAbstract: Map[Int, Int],
                             lvls: Map[Int, Map[Int, NumLvl]]) {
    /** ListRef for (numId, ilvl) — abstractNumId keys the prefix state
      * (DocumentParser.java:539-546: abstract id when mapped, else the
      * raw numId); absent levels fall back to reference defaults
      * (numLevelText null -> "", getStartNumber error path -> 0).
      */
    def listRef(numId: Int, ilvl: Int): ListRef = {
      val abs = numToAbstract.getOrElse(numId, numId)
      val lvl = lvls.get(abs).flatMap(_.get(ilvl))
      ListRef(abs, ilvl,
        lvl.map(_.numFmt).getOrElse("decimal"),
        lvl.map(_.lvlText).getOrElse(""),
        lvl.map(_.start).getOrElse(0))
    }
  }

  def parseNumbering(xml: Option[Array[Byte]]): Numbering = {
    if (xml.isEmpty) return Numbering(Map.empty, Map.empty)
    val numMap = Map.newBuilder[Int, Int]
    val lvls = Map.newBuilder[Int, Map[Int, NumLvl]]
    val r = reader(xml.get)
    var absId = -1
    var curLvls: scala.collection.mutable.Map[Int, NumLvl] = null
    var lvlIlvl = -1
    var numFmt = "decimal"
    var lvlText = ""
    var start = 0
    var numId = -1
    while (r.hasNext) {
      r.next() match {
        case XMLStreamConstants.START_ELEMENT =>
          r.getLocalName match {
            case "abstractNum" =>
              absId = Option(attr(r, "abstractNumId")).map(_.toInt).getOrElse(-1)
              curLvls = scala.collection.mutable.Map.empty
            case "lvl" if absId >= 0 =>
              lvlIlvl = Option(attr(r, "ilvl")).map(_.toInt).getOrElse(0)
              numFmt = "decimal"; lvlText = ""; start = 0
            case "numFmt" if lvlIlvl >= 0 =>
              numFmt = Option(attr(r, "val")).getOrElse("decimal")
            case "lvlText" if lvlIlvl >= 0 =>
              lvlText = Option(attr(r, "val")).getOrElse("")
            case "start" if lvlIlvl >= 0 =>
              start = Option(attr(r, "val")).map(_.toInt).getOrElse(0)
            case "num" =>
              numId = Option(attr(r, "numId")).map(_.toInt).getOrElse(-1)
            case "abstractNumId" if numId >= 0 =>
              Option(attr(r, "val")).foreach(v => numMap += numId -> v.toInt)
            case _ =>
          }
        case XMLStreamConstants.END_ELEMENT =>
          r.getLocalName match {
            case "lvl" if absId >= 0 && lvlIlvl >= 0 =>
              curLvls(lvlIlvl) = NumLvl(numFmt, lvlText, start); lvlIlvl = -1
            case "abstractNum" if absId >= 0 =>
              lvls += absId -> curLvls.toMap; absId = -1
            case "num" => numId = -1
            case _ =>
          }
        case _ =>
      }
    }
    r.close()
    Numbering(numMap.result(), lvls.result())
  }

  // ---------- word/document.xml ----------

  private sealed trait RawBody
  private final class RawRun {
    val text = new java.lang.StringBuilder
    var bold: Option[Boolean] = None
    var rStyle: String = null
  }
  private final class RawPara extends RawBody {
    val runs = new ArrayBuffer[RawRun](4)
    var jc: String = null
    var indLeft: Long = 0L
    var pgSzW: Long = 0L
    var pStyle: String = null
    var numId: Int = -1
    var ilvl: Int = 0
    var pageBreak = false
    val instr = new java.lang.StringBuilder
  }
  private final class RawTable extends RawBody {
    var style: String = null
    val rows = new ArrayBuffer[ArrayBuffer[ArrayBuffer[RawBody]]](4)
  }

  /** Streaming StAX pass over word/document.xml -> raw body list +
    * body-level page width (twips; `w:sectPr` is the LAST body child in
    * OOXML, hence the two-phase shape: collect raw, then convert).
    */
  private def parseDocument(xml: Array[Byte]): (Seq[RawBody], Long) = {
    val top = new ArrayBuffer[RawBody]
    var bodyPgSzW = 0L
    val r = reader(xml)
    val tableStack = scala.collection.mutable.Stack[RawTable]()
    var para: RawPara = null
    var run: RawRun = null
    var inPPr = false
    var inRPr = false
    var inNumPr = false
    var inSectPr = false
    var capture: java.lang.StringBuilder = null
    // Embedded-object subtrees POI's paragraph model never surfaces as
    // body text: DrawingML (w:drawing — charts/text boxes carry a:t and
    // whole w:p paragraphs inside w:txbxContent), legacy VML (w:pict),
    // OLE (w:object), and mc:AlternateContent — whose Choice AND
    // Fallback both carry the same content, so a flat reader that
    // didn't skip them would DUPLICATE every text-box string
    // (XWPFRun.text reads only the run's own w:t children).
    var suppress = 0
    val embedded = Set("drawing", "pict", "object", "AlternateContent")
    def container: ArrayBuffer[RawBody] =
      if (tableStack.isEmpty) top
      else {
        val t = tableStack.top
        // malformed part (body element between tbl and its first cell):
        // degrade to top-level rather than crash on a corpus row
        if (t.rows.nonEmpty && t.rows.last.nonEmpty) t.rows.last.last else top
      }
    while (r.hasNext) {
      r.next() match {
        case XMLStreamConstants.START_ELEMENT =>
          r.getLocalName match {
            case ln if embedded(ln) => suppress += 1
            // BLOCK-level content control (w:sdt outside any w:p): the
            // reference DROPS it and everything inside — XWPF surfaces
            // the whole SDT as one CONTENTCONTROL body element and
            // DocumentParser.java:407-409 returns without processing.
            // INLINE w:sdt (inside a w:p, para != null) falls through:
            // POI's paragraph text includes inline-SDT run content.
            case "sdt" if suppress > 0 || para == null => suppress += 1
            case _ if suppress > 0 =>
            case "p" if !inPPr =>
              para = new RawPara; container += para
            case "tbl" =>
              val t = new RawTable; container += t; tableStack.push(t)
            case "tr" if tableStack.nonEmpty =>
              tableStack.top.rows += new ArrayBuffer[ArrayBuffer[RawBody]](4)
            case "tc" if tableStack.nonEmpty =>
              tableStack.top.rows.last += new ArrayBuffer[RawBody](4)
            case "tblStyle" if tableStack.nonEmpty =>
              tableStack.top.style = attr(r, "val")
            case "pPr" if para != null => inPPr = true
            case "jc" if inPPr => para.jc = attr(r, "val")
            case "ind" if inPPr =>
              val v = Option(attr(r, "left")).orElse(Option(attr(r, "start")))
              para.indLeft = v.map(_.toLong).getOrElse(0L)
            case "pStyle" if inPPr => para.pStyle = attr(r, "val")
            case "numPr" if inPPr => inNumPr = true
            case "ilvl" if inNumPr =>
              para.ilvl = Option(attr(r, "val")).map(_.toInt).getOrElse(0)
            case "numId" if inNumPr =>
              para.numId = Option(attr(r, "val")).map(_.toInt).getOrElse(-1)
            case "pageBreakBefore" if inPPr =>
              if (onOff(attr(r, "val"))) para.pageBreak = true
            case "sectPr" => inSectPr = true
            case "pgSz" if inSectPr =>
              val w = Option(attr(r, "w")).map(_.toLong).getOrElse(0L)
              if (inPPr && para != null) para.pgSzW = w
              else bodyPgSzW = w
            case "r" if para != null && !inPPr =>
              run = new RawRun; para.runs += run
            case "rPr" if run != null => inRPr = true
            case "b" if inRPr && run != null =>
              run.bold = Some(onOff(attr(r, "val")))
            case "rStyle" if inRPr && run != null => run.rStyle = attr(r, "val")
            case "t" if run != null && !inRPr => capture = run.text
            case "instrText" if para != null => capture = para.instr
            case "br" if run != null =>
              if (attr(r, "type") == "page") para.pageBreak = true
              else run.text.append('\n')
            case "cr" if run != null => run.text.append('\n')
            case "tab" if run != null && !inRPr => run.text.append('\t')
            case _ =>
          }
        case XMLStreamConstants.CHARACTERS | XMLStreamConstants.CDATA =>
          if (capture != null && suppress == 0) capture.append(r.getText)
        case XMLStreamConstants.END_ELEMENT =>
          r.getLocalName match {
            case ln if embedded(ln) => suppress = math.max(0, suppress - 1)
            // symmetric with the START arm: only block-level (or
            // nested-in-suppressed) sdt opens incremented, and inline
            // sdt ENDs arrive with suppress == 0 (para was non-null)
            case "sdt" if suppress > 0 => suppress -= 1
            case _ if suppress > 0 =>
            case "p" if !inPPr => para = null
            case "tbl" if tableStack.nonEmpty => tableStack.pop()
            case "pPr" => inPPr = false
            case "rPr" => inRPr = false
            case "numPr" => inNumPr = false
            case "sectPr" => inSectPr = false
            case "r" if !inPPr => run = null
            case "t" | "instrText" => capture = null
            case _ =>
          }
        case _ =>
      }
    }
    r.close()
    (top.toSeq, bodyPgSzW)
  }

  private def toElement(p: RawPara, chain: List[String],
                        styles: Map[String, StyleDef], numbering: Numbering,
                        bodyPgSzW: Long): Element = {
    // paragraph-level sectPr pgSz overrides the body width (the
    // reference's pageWidth override, DocumentParser.java:891-897);
    // 12240 twips (Letter) when neither is present
    val pageWidth =
      if (p.pgSzW > 0) p.pgSzW else if (bodyPgSzW > 0) bodyPgSzW else 12240L
    val chainIds = chain ++ Option(p.pStyle)
    val runs = p.runs.iterator.filter(_.text.length > 0).map { rr =>
      Run(rr.text.toString, rr.bold,
        styleBold = rr.rStyle != null && resolveBold(styles, rr.rStyle))
    }.toSeq
    val align = p.jc match {
      case "center" => Align.Center
      case "right" | "end" => Align.Right
      case _ => Align.Left
    }
    Element(
      text = runs.map(_.text).mkString,
      runs = runs,
      align = align,
      indentRatio =
        if (p.indLeft > 0) (p.indLeft.toDouble / pageWidth).toFloat else 0f,
      styleBoldChain = chainIds.map(id => resolveBold(styles, id)),
      canBeHeader = if (p.pageBreak) Some(CanBeHeader.Must) else None,
      listRef = if (p.numId >= 0) Some(numbering.listRef(p.numId, p.ilvl))
                else None,
      isToc = TocRe.findFirstIn(p.instr.toString).isDefined)
  }

  /** A cell's bodies in document order: paragraphs as elements, nested
    * tables as nested [[TableElement]]s (the reference recurses into
    * them with their own per-table gating, DocumentParser.java:446-447)
    * with their style joined to the chain (:412-414).
    */
  private def toBody(body: RawBody, chain: List[String],
                     styles: Map[String, StyleDef],
                     numbering: Numbering, pgW: Long): BodyElement =
    body match {
      case p: RawPara => ParaElement(toElement(p, chain, styles, numbering, pgW))
      case t: RawTable =>
        val c2 = chain ++ Option(t.style)
        TableElement(t.rows.map(row => row.map(cell =>
          cell.toSeq.map(toBody(_, c2, styles, numbering, pgW))).toSeq).toSeq)
    }

  /** DOCX bytes -> the segmenter's BodyElement stream (S3, real). */
  def docxBodyElements(bytes: Array[Byte]): Seq[BodyElement] = {
    val entries = zipEntriesWhere(bytes, Set("word/document.xml",
      "word/styles.xml", "word/numbering.xml"))
    val styles = entries.get("word/styles.xml").map(parseStyles)
      .getOrElse(Map.empty[String, StyleDef])
    val numbering = parseNumbering(entries.get("word/numbering.xml"))
    val doc = entries.getOrElse("word/document.xml",
      throw new IllegalArgumentException("not a DOCX: no word/document.xml"))
    val (raw, pgW) = parseDocument(doc)
    raw.map(toBody(_, Nil, styles, numbering, pgW))
  }

  /** DOCX bytes -> segmented MultiDoc (the reference's
    * `parse(bytes, DOCX)` surface).
    */
  def decodeDocx(bytes: Array[Byte]): MultiDoc =
    Segmenter.segment(docxBodyElements(bytes))

  // ---------- XLSX ----------

  /** sharedStrings.xml: one string per `si` (all `t` text concatenated —
    * covers plain and rich-run strings). Phonetic runs (`rPh`, the
    * furigana hints East-Asian writers embed, ECMA-376 §18.4.6) are
    * EXCLUDED: their `t` children are pronunciation guides, not cell
    * text — the same rule POI's `XSSFRichTextString.getString` applies.
    */
  def parseSharedStrings(xml: Option[Array[Byte]]): IndexedSeq[String] = {
    if (xml.isEmpty) return Vector.empty
    val out = Vector.newBuilder[String]
    val r = reader(xml.get)
    var cur: java.lang.StringBuilder = null
    var capture = false
    var inRPh = false
    while (r.hasNext) {
      r.next() match {
        case XMLStreamConstants.START_ELEMENT =>
          r.getLocalName match {
            case "si" => cur = new java.lang.StringBuilder
            case "rPh" => inRPh = true
            case "t" if cur != null && !inRPh => capture = true
            case _ =>
          }
        case XMLStreamConstants.CHARACTERS | XMLStreamConstants.CDATA =>
          if (capture) cur.append(r.getText)
        case XMLStreamConstants.END_ELEMENT =>
          r.getLocalName match {
            case "t" => capture = false
            case "rPh" => inRPh = false
            case "si" => out += cur.toString; cur = null
            case _ =>
          }
        case _ =>
      }
    }
    r.close()
    out.result()
  }

  /** "BC12" -> 0-based column index 54. */
  private[sources] def colIndex(cellRef: String): Int = {
    var i = 0
    var acc = 0
    while (i < cellRef.length && Character.isLetter(cellRef.charAt(i))) {
      acc = acc * 26 + (Character.toUpperCase(cellRef.charAt(i)) - 'A' + 1)
      i += 1
    }
    acc - 1
  }

  private def parseSheet(xml: Array[Byte], shared: IndexedSeq[String],
                         name: String): SheetTable.Sheet = {
    val rows = new ArrayBuffer[SheetTable.Row]
    val r = reader(xml)
    var cells: ArrayBuffer[SheetTable.Cell] = null
    var cellCol = -1
    var cellType: String = null
    var inValue = false
    var inInline = false
    var hasFormula = false
    val value = new java.lang.StringBuilder
    var hasValue = false
    while (r.hasNext) {
      r.next() match {
        case XMLStreamConstants.START_ELEMENT =>
          r.getLocalName match {
            case "row" => cells = new ArrayBuffer[SheetTable.Cell](8)
            case "c" if cells != null =>
              cellCol = Option(attr(r, "r")).map(colIndex)
                .getOrElse(if (cells.isEmpty) 0 else cells.last.columnIndex + 1)
              cellType = Option(attr(r, "t")).getOrElse("n")
              value.setLength(0); hasValue = false; hasFormula = false
            case "f" if cellCol >= 0 => hasFormula = true
            case "v" if cellCol >= 0 => inValue = true; hasValue = true
            case "is" if cellCol >= 0 => inInline = true
            case "t" if inInline => inValue = true; hasValue = true
            case _ =>
          }
        case XMLStreamConstants.CHARACTERS | XMLStreamConstants.CDATA =>
          if (inValue) value.append(r.getText)
        case XMLStreamConstants.END_ELEMENT =>
          r.getLocalName match {
            case "v" | "t" => inValue = false
            case "is" => inInline = false
            case "c" if cellCol >= 0 =>
              // POI CellType names (ExcelParser switches on them; only
              // STRING participates in E1/E2 — SheetTable.scala). A
              // cell carrying <f> is FORMULA in POI terms REGARDLESS of
              // its cached-value t (XSSFCell.getCellType), so the
              // reference's STRING-only scan skips it — t="str" means
              // "formula with cached string", never a plain string.
              val (tpe, v) = cellType match {
                case _ if hasFormula => ("FORMULA", value.toString)
                case "s" =>
                  ("STRING", shared.lift(value.toString.trim.toInt).getOrElse(""))
                // t="str" is ALWAYS formula-cached in POI's mapping
                // (XSSFCell: STCellType.STR -> CellType.FORMULA), even
                // when the writer omitted the <f> element
                case "str" => ("FORMULA", value.toString)
                case "inlineStr" => ("STRING", value.toString)
                case "b" => ("BOOLEAN", value.toString)
                case "e" => ("ERROR", value.toString)
                case _ =>
                  if (!hasValue) ("BLANK", "") else ("NUMERIC", value.toString)
              }
              cells += SheetTable.Cell(cellCol, tpe, v)
              cellCol = -1
            case "row" if cells != null =>
              rows += SheetTable.Row(cells.toSeq); cells = null
            case _ =>
          }
        case _ =>
      }
    }
    r.close()
    SheetTable.Sheet(name, rows.toSeq)
  }

  /** workbook.xml sheet list in document order: (name, relationship id). */
  private def parseWorkbook(xml: Array[Byte]): Seq[(String, String)] = {
    val out = new ArrayBuffer[(String, String)]
    val r = reader(xml)
    while (r.hasNext) {
      r.next() match {
        case XMLStreamConstants.START_ELEMENT if r.getLocalName == "sheet" =>
          val name = Option(attr(r, "name")).getOrElse("")
          val rid = Option(attr(r, "id")).getOrElse("")
          out += name -> rid
        case _ =>
      }
    }
    r.close()
    out.toSeq
  }

  /** workbook.xml.rels: rId -> target part path (workbook-relative). */
  private def parseRels(xml: Option[Array[Byte]]): Map[String, String] = {
    if (xml.isEmpty) return Map.empty
    val out = Map.newBuilder[String, String]
    val r = reader(xml.get)
    while (r.hasNext) {
      r.next() match {
        case XMLStreamConstants.START_ELEMENT
            if r.getLocalName == "Relationship" =>
          val id = attr(r, "Id")
          val target = attr(r, "Target")
          if (id != null && target != null) out += id -> target
        case _ =>
      }
    }
    r.close()
    out.result()
  }

  /** XLSX bytes -> sheets in workbook order (S5, real): names + rels
    * from `xl/workbook.xml`(+.rels), strings via sharedStrings, cells
    * with POI CellType names — the exact input of
    * [[graft.core.SheetTable.parseBeneficiaries]] (E1/E2) and
    * [[graft.core.SheetTable.parseDateFromSheetName]] (X2).
    */
  def decodeXlsx(bytes: Array[Byte]): Seq[SheetTable.Sheet] = {
    // sheet parts live under xl/ (worksheets, workbook, sharedStrings,
    // rels); xl/media and docProps never inflate
    val entries = zipEntriesWhere(bytes, n => n.startsWith("xl/") &&
      (n.endsWith(".xml") || n.endsWith(".rels")))
    val shared = parseSharedStrings(entries.get("xl/sharedStrings.xml"))
    val rels = parseRels(entries.get("xl/_rels/workbook.xml.rels"))
    val wb = entries.getOrElse("xl/workbook.xml",
      throw new IllegalArgumentException("not an XLSX: no xl/workbook.xml"))
    parseWorkbook(wb).flatMap { case (name, rid) =>
      rels.get(rid).map { target =>
        val path =
          if (target.startsWith("/")) target.substring(1)
          else "xl/" + target
        parseSheet(entries.getOrElse(path,
          throw new IllegalArgumentException(s"missing sheet part $path")),
          shared, name)
      }
    }
  }
}
