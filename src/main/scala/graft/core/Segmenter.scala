package graft.core

import scala.collection.mutable.ArrayBuffer
import scala.util.matching.Regex

/** The per-turn segmentation state machine.
  *
  * A faithful re-expression of the reference's DOCX element fold
  * (DocumentParser.java:210-220,404-535) plus the shared post-passes
  * (:243-296) and document-type classification (:368-402). The whole
  * machine is pure per turn: one `Element` stream in, one `MultiDoc` out;
  * no state crosses turns, which is the correctness argument for running
  * it inside `mapPartitions` at any parallelism (SURVEY.md §3.4).
  *
  * Offset semantics (SURVEY.md §2.3): header/body segment offsets are a
  * running `globalOffset` advanced by `element.text.length` after each
  * paragraph element — including table-cell paragraphs (the recursion at
  * DocumentParser.java:443-459 passes the same accumulator object, so the
  * PARAGRAPH branch at :472 advances it for cell paragraphs too). The
  * emitted list prefix is NOT counted (quirk, :508 vs :472).
  */
object Segmenter {

  // --- patterns (DocumentParser.java:52-62) ---
  private val possibleSubDocuments: Seq[Regex] = Seq(
    "^\\s*приложение".r,
    "^\\s*дополнительное\\s+соглашение".r)
  private val alphabetPattern: Regex = "[A-Za-zА-Яа-я0-9]{5,}".r
  private val alphabetUpperCasePattern: Regex = "[A-ZА-Я]{5,}".r
  private val ruAlphabetPattern: Regex = "[А-Яа-я]{5,}".r
  private val engAlphabetPattern: Regex = "[A-Za-z]{5,}".r
  private val valuableSymbolPattern: Regex = "[A-Za-zА-Яа-я]".r
  private val endStringPattern: Regex = "\r|\n".r
  private val notHeaderPattern: Regex = "решение +принято".r

  // --- constants (DocumentParser.java:63-68) ---
  private val maxHeaderLength = 1000
  private val minHeaderIndentationLeft = 0.25f
  private val maxDocTypeDetectionHeaders = 5

  /** DocumentParser.java:64 declares maxBodyLength = 100000 but never
    * enforces it; we DO enforce it as a per-segment accumulation guard
    * (bounded task memory at 10^12-turn scale): once a body segment
    * reaches the bound, further appends to it are recorded as
    * "body_overflow" spans instead of growing the segment. Divergence
    * from the reference is deliberate and only reachable past 100k chars
    * in one paragraph body.
    */
  val maxBodyLength = 100000

  /** keyword -> DocumentType (DocumentParser.java:37-50). The reference
    * stores these in a HashMap whose iteration order only matters for
    * exact-offset ties (strict `>` at :377); we fix declaration order.
    * The reference matches compiled regexes of the form
    * `<literal>([^А-Яа-я]|$)` against a lowercased copy of the text
    * (:375,:390); we evaluate the SAME grammar with allocation-free
    * char scans over the original string (char-level lowercase compares
    * — exact for the Cyrillic/Latin ranges involved): no toLowerCase
    * copy, no Matcher. Parity with the original regexes is pinned by
    * KeywordScanSpec's property test.
    */
  private val keywordProbes: Array[(String => Int, String)] = Array(
    ((s: String) => keywordAt(s, "договор"), DocType.CONTRACT),
    ((s: String) => charterAt(s), DocType.CHARTER),
    ((s: String) => keywordAt(s, "протокол"), DocType.PROTOCOL),
    ((s: String) => keywordAt(s, "положение"), DocType.REGULATION),
    ((s: String) => keywordAt(s, "приказ"), DocType.ORDER),
    ((s: String) => keywordAt(s, "план работ"), DocType.WORK_PLAN),
    ((s: String) => supplementaryAt(s), DocType.SUPPLEMENTARY_AGREEMENT),
    ((s: String) => keywordAt(s, "приложение"), DocType.ANNEX),
    ((s: String) => keywordAt(s, "контракт"), DocType.CONTRACT),
    ((s: String) => keywordAt(s, "решение"), DocType.PROTOCOL),
    ((s: String) => keywordAt(s, "соглашение"), DocType.AGREEMENT))

  // uppercase twins of the keyword literals, precomputed once: the scans
  // compare (c == lower || c == upper) instead of mapping every char
  // through Character.toLowerCase (which was slower than the Matchers it
  // replaced)
  private val upperTwin: java.util.HashMap[String, String] = {
    val m = new java.util.HashMap[String, String]
    for (lit <- Seq("договор", "протокол", "положение", "приказ",
        "план работ", "приложение", "контракт", "решение", "соглашение",
        "устав", "дополнительное")) {
      m.put(lit, lit.toUpperCase)
    }
    m
  }

  @inline private def chEq(c: Char, lo: Char, hi: Char): Boolean =
    c == lo || c == hi

  /** Boundary class of the keyword grammar: [А-Яа-я] (Ё/ё excluded,
    * exactly as in the reference regexes).
    */
  private def isCyrLetter(c: Char): Boolean =
    (c >= 'А' && c <= 'Я') || (c >= 'а' && c <= 'я')

  /** Java \s (the regex class used by the reference, NOT
    * Character.isWhitespace — they differ on NBSP and LINE-SEP).
    */
  private def isRegexWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' ||
      c == '\r'

  /** First index where lowercase literal `lit` occurs (case-insensitive)
    * followed by a non-[А-Яа-я] char or end — `lit([^А-Яа-я]|$)`.
    */
  private[core] def keywordAt(s: String, lit: String): Int = {
    val up = upperTwin.get(lit)
    val n = s.length
    val m = lit.length
    val l0 = lit.charAt(0)
    val u0 = up.charAt(0)
    var i = 0
    while (i + m <= n) {
      val c0 = s.charAt(i)
      if (c0 == l0 || c0 == u0) {
        var j = 1
        while (j < m && chEq(s.charAt(i + j), lit.charAt(j), up.charAt(j))) {
          j += 1
        }
        if (j == m && (i + m >= n || !isCyrLetter(s.charAt(i + m)))) return i
      }
      i += 1
    }
    -1
  }

  /** `у *с *т *а *в([^А-Яа-я]|$)` — the spaced CHARTER keyword (spaces
    * only, zero or more, between letters).
    */
  private[core] def charterAt(s: String): Int = {
    val word = "устав"
    val up = upperTwin.get(word)
    val n = s.length
    var i = 0
    while (i < n) {
      val c0 = s.charAt(i)
      if (c0 == 'у' || c0 == 'У') {
        var k = i + 1
        var li = 1
        var ok = true
        while (ok && li < word.length) {
          while (k < n && s.charAt(k) == ' ') k += 1
          if (k < n && chEq(s.charAt(k), word.charAt(li), up.charAt(li))) {
            k += 1
            li += 1
          } else ok = false
        }
        if (ok && (k >= n || !isCyrLetter(s.charAt(k)))) return i
      }
      i += 1
    }
    -1
  }

  /** `дополнительное\s+соглашение([^А-Яа-я]|$)`. */
  private[core] def supplementaryAt(s: String): Int = {
    val n = s.length
    var from = 0
    while (from < n) {
      val i = keywordPrefixAt(s, "дополнительное", from)
      if (i < 0) return -1
      var k = i + "дополнительное".length
      val wsStart = k
      while (k < n && isRegexWs(s.charAt(k))) k += 1
      if (k > wsStart) {
        var j = 0
        val lit = "соглашение"
        val up = upperTwin.get(lit)
        while (j < lit.length && k + j < n &&
               chEq(s.charAt(k + j), lit.charAt(j), up.charAt(j))) {
          j += 1
        }
        val end = k + lit.length
        if (j == lit.length && (end >= n || !isCyrLetter(s.charAt(end)))) {
          return i
        }
      }
      from = i + 1
    }
    -1
  }

  /** First occurrence of `lit` at/after `from`, case-insensitive, no
    * boundary requirement (prefix probe for the two-word keyword).
    */
  private def keywordPrefixAt(s: String, lit: String, from: Int): Int = {
    val up = upperTwin.get(lit)
    val n = s.length
    val m = lit.length
    val l0 = lit.charAt(0)
    val u0 = up.charAt(0)
    var i = from
    while (i + m <= n) {
      val c0 = s.charAt(i)
      if (c0 == l0 || c0 == u0) {
        var j = 1
        while (j < m && chEq(s.charAt(i + j), lit.charAt(j), up.charAt(j))) {
          j += 1
        }
        if (j == m) return i
      }
      i += 1
    }
    -1
  }

  /** Every doc-type keyword is Cyrillic: a text without a Cyrillic char
    * cannot match any pattern, so the classifier can skip it entirely.
    */
  private def hasCyrillic(s: String): Boolean = {
    var i = 0
    val n = s.length
    while (i < n) {
      val c = s.charAt(i)
      if (c >= 'Ѐ' && c <= 'ӿ') return true
      i += 1
    }
    false
  }

  // --- mutable builders, scoped to one turn's fold ---
  private final class ParaBuilder {
    // shared Empty singleton: every mutation site replaces it first
    var header: SegBuilder = SegBuilder.Empty
    var body: SegBuilder = SegBuilder.Empty
  }
  private final class DocBuilder {
    val paras: ArrayBuffer[ParaBuilder] = new ArrayBuffer[ParaBuilder]
    var docType: String = DocType.UNKNOWN
  }

  /** Fold accumulator ~ ElementResult (DocumentParser.java:1002-1023). */
  private final class State {
    val docs: ArrayBuffer[DocBuilder] = ArrayBuffer(new DocBuilder)
    // lazily created: only toc/boilerplate/overflow elements produce these
    private var _spans: ArrayBuffer[Span] = _
    def spans: ArrayBuffer[Span] = {
      if (_spans == null) _spans = new ArrayBuffer[Span](4)
      _spans
    }
    def nExtraSpans: Int = if (_spans == null) 0 else _spans.size
    var isPrevHeader = false
    var isPageBreak = false
    var currentParagraph: ParaBuilder = _
    var globalOffset = 0
    var emptyParagraphsBefore = 0
    // lazily created: most turns carry no lists
    private var _listNumbers: java.util.HashMap[Int, ListNumber] = _
    def listNumbers: java.util.HashMap[Int, ListNumber] = {
      if (_listNumbers == null) _listNumbers = new java.util.HashMap
      _listNumbers
    }
  }

  /** Replace-then-append helper honoring the shared Empty singleton:
    * addText on the reference's default TextSegment(-1, "") appends with
    * no separator, i.e. equals a fresh (-1, "") builder receiving the
    * same appends.
    */
  private def appendBody(p: ParaBuilder, t: String): Unit = {
    if (p.body eq SegBuilder.Empty) p.body = new SegBuilder(-1, "")
    p.body.addText(t)
  }

  /** Segment one turn's element stream into documents + spans. */
  def segment(elements: Iterable[BodyElement],
              version: String = graft.BuildInfo.version): MultiDoc = {
    val st = new State
    var canBeHeader: CanBeHeader = CanBeHeader.Can
    val elemIt = elements.iterator
    while (elemIt.hasNext) {
      processBodyElement(elemIt.next(), st, canBeHeader)
      canBeHeader =
        if (st.isPageBreak) CanBeHeader.Must else CanBeHeader.Can
    }
    checkDocumentStructure(st)
    for (doc <- st.docs if doc.paras.nonEmpty) findDocumentType(doc)
    postProcessDocument(st)
    // single-copy output construction (wrapped arrays, no toSeq rebuilds);
    // the span array is counted first, then filled — no buffer growth
    val docsArr = new Array[Doc](st.docs.size)
    var di = 0
    var nSpans = st.nExtraSpans
    while (di < st.docs.size) {
      val d = st.docs(di)
      val parasArr = new Array[Para](d.paras.size)
      var pi = 0
      while (pi < d.paras.size) {
        val p = d.paras(pi)
        val para = Para(p.header.toSeg, p.body.toSeg)
        parasArr(pi) = para
        if (para.header.offset >= 0) nSpans += 1
        if (para.body.offset >= 0) nSpans += 1
        pi += 1
      }
      docsArr(di) = Doc(d.docType,
        scala.collection.immutable.ArraySeq.unsafeWrapArray(parasArr))
      di += 1
    }
    val spansArr = new Array[Span](nSpans)
    var si = 0
    di = 0
    while (di < docsArr.length) {
      val paras = docsArr(di).paragraphs
      var pi = 0
      while (pi < paras.size) {
        val para = paras(pi)
        if (para.header.offset >= 0) {
          spansArr(si) = Span("header", para.header.offset, para.header.length)
          si += 1
        }
        if (para.body.offset >= 0) {
          spansArr(si) = Span("body", para.body.offset, para.body.length)
          si += 1
        }
        pi += 1
      }
      di += 1
    }
    var xi = 0
    while (xi < st.nExtraSpans) {
      spansArr(si) = st.spans(xi)
      si += 1
      xi += 1
    }
    MultiDoc(
      scala.collection.immutable.ArraySeq.unsafeWrapArray(docsArr),
      scala.collection.immutable.ArraySeq.unsafeWrapArray(spansArr), version)
  }

  /** ~ processBodyElement (DocumentParser.java:404-475). */
  private def processBodyElement(element: BodyElement, st: State,
                                 canBeHeader: CanBeHeader): Unit = {
    // the reference captures the last document at entry and uses it for
    // the CAN/CAN_NOT re-derivation inside the table row loop (:406,:456)
    val docAtEntry = st.docs.last
    element match {
      case TableElement(rows) =>
        // constant-column detection (:415-426)
        var prevNumCells = -1
        var constantColumnNumber = true
        for (row <- rows) {
          if (constantColumnNumber && prevNumCells != -1 &&
              prevNumCells != row.size && row.nonEmpty) {
            constantColumnNumber = false
          }
          if (row.nonEmpty) prevNumCells = row.size
        }
        // bilingual probe: first row whose both cells are non-blank
        // (:427-442); like POI's `getParagraphs()`, only the cells'
        // DIRECT paragraphs feed the probe — nested-table text doesn't
        var bilingual = false
        if (constantColumnNumber && prevNumCells == 2) {
          var probed = false
          for (row <- rows if !probed) {
            val c1 = row(0).collect { case ParaElement(e) => e.text }.mkString
            val c2 = row(1).collect { case ParaElement(e) => e.text }.mkString
            if (c1.trim.nonEmpty && c2.trim.nonEmpty) {
              bilingual = isBilingual(c1, c2)
              probed = true
            }
          }
        }
        // cell traversal with the CanBeHeader gate (:443-461); a nested
        // table recurses into this same case with its own gating, the
        // reference's processBodyElement recursion (:446-447)
        for (row <- rows) {
          var cbh: CanBeHeader =
            if (row.size == 1 || bilingual) CanBeHeader.Can
            else CanBeHeader.CanNot
          for (cell <- row; be <- cell) {
            processBodyElement(be, st, cbh)
            cbh =
              if (st.isPageBreak) CanBeHeader.Must
              else if (st.isPrevHeader || docAtEntry.paras.isEmpty ||
                       row.size == 1 || bilingual) CanBeHeader.Can
              else CanBeHeader.CanNot
          }
        }
      case ParaElement(el) =>
        // tokenizer-set gate (page-break markup) wins over the caller's
        val gate = el.canBeHeader.getOrElse(canBeHeader)
        processParagraph(el, st, gate)
        // DOCX: globalOffset advances by the paragraph text length (:472,
        // prefix not counted). DOC: offsets are POI char offsets
        // (paragraph.getStartOffset, :188/:201) — every HWPF paragraph
        // range ends with a \r that :117-118 strips from the text but
        // POI counts, so the DOC dialect advances by length + 1.
        st.globalOffset += el.text.length + (if (el.docDialect) 1 else 0)
    }
  }

  /** ~ processXWPFParagraph (DocumentParser.java:477-535). */
  private def processParagraph(el: Element, st: State,
                               canBeHeader: CanBeHeader): Unit = {
    var doc = st.docs.last
    if (isSubDocument(el, doc, canBeHeader)) { // :484-488
      doc = new DocBuilder
      st.docs += doc
      st.isPrevHeader = false
    }
    val blank = SegBuilder.blankTrim(el.text)
    if (blank) st.emptyParagraphsBefore += 1 // :489-494
    else st.emptyParagraphsBefore = 0
    if (doc.paras.nonEmpty || !blank) { // :495
      if (el.isToc || el.boilerplate) { // :496-499 (+ our HTML-strip route)
        val kind = if (el.isToc) "toc" else "boilerplate"
        st.spans += Span(kind, st.globalOffset, el.text.length)
        st.isPrevHeader = false
        return
      }
      val prefix = // :500 (map only materialized when lists exist)
        if (el.listRef.isEmpty) "" else numberPrefix(el, st.listNumbers)
      val isHdr =
        (st.docs.size == 1 && doc.paras.isEmpty) || // :501
        canBeHeader == CanBeHeader.Must ||
        (canBeHeader != CanBeHeader.CanNot && isHeader(el))
      // DOC :179 concats `prefix + " " + text` UNCONDITIONALLY — an empty
      // prefix still contributes the leading space to every non-list DOC
      // paragraph; DOCX :504 prepends only a non-empty prefix (numberPrefix
      // carries the :642 trailing space, so the dialects agree on list items)
      val prefixed =
        if (prefix.isEmpty) { if (el.docDialect) " " + el.text else el.text }
        else prefix + el.text
      if (isHdr) { // :503-514
        if (st.isPrevHeader) {
          st.currentParagraph.header.addText(prefixed)
        } else {
          st.currentParagraph = new ParaBuilder
          doc.paras += st.currentParagraph
          st.currentParagraph.header =
            new SegBuilder(st.globalOffset, prefixed)
        }
        if (!st.currentParagraph.header.isBlankTrim) {
          st.isPageBreak = false
        }
        st.isPrevHeader = true
      } else { // :515-531
        if (doc.paras.isEmpty) { // un-split backtrack (:516-519)
          st.docs.remove(st.docs.size - 1)
          doc = st.docs.last
        }
        if (st.currentParagraph == null) {
          st.currentParagraph = new ParaBuilder
          doc.paras += st.currentParagraph
        }
        if (st.currentParagraph.body.offset == -1) {
          st.currentParagraph.body =
            new SegBuilder(st.globalOffset, prefixed)
        } else if (st.currentParagraph.body.length >= maxBodyLength) {
          // maxBodyLength guard (see constant scaladoc): record, don't grow
          st.spans += Span("body_overflow", st.globalOffset, el.text.length)
        } else {
          st.currentParagraph.body.addText(prefixed)
        }
        st.isPrevHeader = false
      }
    }
    // blank leading paragraph: pass-through, state unchanged (:533-534)
  }

  /** ~ isSubDocument DOCX variant (DocumentParser.java:680-693).
    * The three conjuncts are pure, so the cheapest (first-letter probe of
    * the ^\s*приложение / ^\s*дополнительное patterns) runs first —
    * semantics identical, no per-element toLowerCase on the hot path.
    */
  private def isSubDocument(el: Element, doc: DocBuilder,
                            canBeHeader: CanBeHeader): Boolean = {
    val t = el.text
    var i = 0
    while (i < t.length && t.charAt(i) <= ' ') i += 1
    if (i >= t.length) return false
    val c = t.charAt(i)
    if (c != 'п' && c != 'П' && c != 'д' && c != 'Д') return false
    val lower = t.toLowerCase
    if (!possibleSubDocuments.exists(_.findFirstIn(lower).isDefined)) {
      return false
    }
    if (allBodiesEmpty(doc)) return false // :695-702 gate
    canBeHeader == CanBeHeader.Must ||
      (canBeHeader == CanBeHeader.Can && isHeader(el))
  }

  private def allBodiesEmpty(doc: DocBuilder): Boolean = {
    var i = 0
    while (i < doc.paras.size) {
      if (!doc.paras(i).body.isBlankTrim) return false
      i += 1
    }
    true
  }

  /** Header predicate ~ isHeader DOCX variant (DocumentParser.java:885-947).
    * Order of checks is load-bearing: indent, then alignment, then the
    * >=5-alphanumerics gate, then all-runs-bold (with the XOR style-chain
    * inheritance) OR whole-paragraph-capitalized.
    *
    * Elements flagged `docDialect` route through the DOC (HWPF) variant
    * instead — see [[isHeaderDoc]] for the differences.
    */
  def isHeader(el: Element): Boolean = {
    if (el.docDialect) return isHeaderDoc(el)
    if (el.indentRatio > minHeaderIndentationLeft) return true // :899-901
    if (el.align == Align.Center || el.align == Align.Right) return true // :904-906
    if (!hasAlnumRun5(el.text)) return false // :909-912
    // paragraphBold = XOR-fold over the enclosing style chain (:918-921)
    val paragraphBold = el.styleBoldChain.foldLeft(false)(_ ^ _)
    // whole-paragraph caps check (:929-934); allocation-free fast path
    var allCapitalized = isAllUpperWithRun(el.text)
    var allBold = true
    val it = el.runs.iterator
    while (it.hasNext && (allBold || allCapitalized)) { // :935-945
      val run = it.next()
      if (!SegBuilder.blankTrim(run.text)) {
        val effBold = run.bold match {
          case Some(b) => b
          case None => run.styleBold ^ paragraphBold
        }
        if (!effBold && hasLetter(run.text)) {
          allBold = false
        }
      }
    }
    allBold || allCapitalized
  }

  /** Header predicate ~ isHeader DOC variant (DocumentParser.java:809-859)
    * — the HWPF dialect differs from DOCX in three load-bearing ways:
    *
    *   1. routing on fontAlignment == 3 OR justification in {1, 2}
    *      (:828-832) instead of the ParagraphAlignment CENTER/RIGHT enum;
    *   2. the caps check is PER RUN (:839-858): every non-blank run must
    *      individually equal its uppercase AND contain its own >=5-char
    *      [A-ZА-Я] sequence — "ABC " + "DEFGH" as two runs is NOT a caps
    *      header here, while the DOCX whole-paragraph check (:929-934)
    *      accepts it;
    *   3. run bold is read directly (CharacterRun.isBold, :853) — no
    *      XOR style-chain inheritance.
    *
    * The table branch of the reference predicate (:816-822: multi-column
    * non-bilingual cell => false) is handled by the CanBeHeader gate the
    * table traversal computes (:443-458 analog in processBodyElement),
    * identically for both dialects.
    */
  def isHeaderDoc(el: Element): Boolean = {
    if (el.indentRatio > minHeaderIndentationLeft) return true // :824-826
    if (el.fontAlignment == 3 ||
        el.justification == 1 || el.justification == 2) return true // :828-832
    if (!hasAlnumRun5(el.text)) return false // :834-837
    var allBold = true
    var allCapitalized = true
    val it = el.runs.iterator
    while (it.hasNext && (allBold || allCapitalized)) { // :839-858
      val run = it.next()
      if (!SegBuilder.blankTrim(run.text)) {
        if (!isAllUpperWithRun(run.text)) allCapitalized = false
        if (!run.bold.getOrElse(run.styleBold)) allBold = false
      }
    }
    allBold || allCapitalized
  }

  /** alphabetPattern [A-Za-zА-Яа-я0-9]{5,} as an allocation-free scan
    * (:55, used :909-912).
    */
  private def hasAlnumRun5(s: String): Boolean = {
    var run = 0
    var i = 0
    val n = s.length
    while (i < n) {
      val c = s.charAt(i)
      val in = (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') ||
        (c >= '0' && c <= '9') || (c >= 'А' && c <= 'я')
      if (in) { run += 1; if (run >= 5) return true } else run = 0
      i += 1
    }
    false
  }

  /** valuableSymbolPattern [A-Za-zА-Яа-я] as an allocation-free scan
    * (:60, used :940-941).
    */
  private def hasLetter(s: String): Boolean = {
    var i = 0
    val n = s.length
    while (i < n) {
      val c = s.charAt(i)
      if ((c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') ||
          (c >= 'А' && c <= 'я')) return true
      i += 1
    }
    false
  }

  /** text == text.toUpperCase && it contains a >=5 run of [A-ZА-Я]:
    * the whole-paragraph caps test (:929-934) and the DOC dialect's
    * per-run one (:849-852), whose second condition (a >=5 [A-ZА-Я] run
    * after uppercasing) is the same test given the first. Char-level
    * scan first: any char whose char-uppercase
    * differs proves the string-level mapping changes too (safe false);
    * only the rare all-identity case pays the full toUpperCase compare
    * (string-level mappings like ß->SS that char-level misses).
    */
  private def isAllUpperWithRun(text: String): Boolean = {
    var run = 0
    var hasRun = false
    var i = 0
    val n = text.length
    while (i < n) {
      val c = text.charAt(i)
      if (Character.toUpperCase(c) != c) return false
      val inAlpha = (c >= 'A' && c <= 'Z') || (c >= 'А' && c <= 'Я')
      if (inAlpha) { run += 1; if (run >= 5) hasRun = true }
      else run = 0
      i += 1
    }
    hasRun && text == text.toUpperCase
  }

  /** ~ isBilingual (DocumentParser.java:734-743). */
  def isBilingual(text1: String, text2: String): Boolean =
    (ruAlphabetPattern.findFirstIn(text1).isDefined &&
      engAlphabetPattern.findFirstIn(text2).isDefined) ||
    (ruAlphabetPattern.findFirstIn(text2).isDefined &&
      engAlphabetPattern.findFirstIn(text1).isDefined)

  /** List-number prefix ~ getNumberPrefix (DocumentParser.java:537-643).
    * Returns "" or "<prefix> " (trailing-space rule at :642).
    */
  private def numberPrefix(
      el: Element,
      listNumbers: java.util.HashMap[Int, ListNumber]): String = {
    el.listRef match {
      case None => ""
      case Some(ref) if ref.docLevels.nonEmpty =>
        numberPrefixDoc(ref, listNumbers)
      case Some(ref) =>
        // root is created with the FIRST-SEEN ilvl as its level (:550 quirk)
        var root = listNumbers.get(ref.listId)
        if (root == null) {
          root = new ListNumber(ref.ilvl, ref.numFmt)
          listNumbers.put(ref.listId, root)
        }
        var current = root
        for (i <- 0 until ref.ilvl) { // :554-559
          if (current.subNumber == null) {
            current.subNumber = new ListNumber(i + 1, ref.numFmt)
          }
          current = current.subNumber
        }
        if (ref.startAt > current.number) current.overrideNumber(ref.startAt)
        else current.incrementNumber() // :560-566
        val prefix =
          if (ref.numFmt == "bullet") "•" // :567-569
          else { // template substitution with zero backfill (:570-583)
            var p = if (ref.template == null) "" else ref.template
            var ln = root
            var i = 1
            while (i <= current.level + 1 && ln != null) {
              if (ln.number == 0) ln.overrideNumber(1, resetSubs = false)
              p = p.replace("%" + i, ln.number.toString)
              ln = ln.subNumber
              i += 1
            }
            p
          }
        if (prefix.isEmpty) prefix else prefix + " " // :642
    }
  }

  /** List-number prefix, REAL-DOC branch ~ DocumentParser.java:140-179 —
    * deliberately distinct from the DOCX [[numberPrefix]] algorithm:
    *
    *   - the root counter is pre-seeded with level-0's startAt at
    *     creation (:145-149), so a startAt=1 list numbers its first
    *     level-0 item "2" (increment lands on top of the seed, :163-166
    *     — a faithful reference quirk the DOCX path does not share);
    *   - intermediate levels created during the walk get their own
    *     startAt, the target level starts at 0 (:151-160);
    *   - the template is the LVLF xst with `(char)l` placeholders
    *     (:174-178), not the "%1" form;
    *   - the returned prefix always carries the trailing space: :179
    *     concatenates `prefix + " " + text` unconditionally, and the
    *     caller's empty-prefix DOC rule reduces to the same " " + text.
    */
  private def numberPrefixDoc(
      ref: ListRef,
      listNumbers: java.util.HashMap[Int, ListNumber]): String = {
    val levels = ref.docLevels
    val ilvl = math.min(math.max(ref.ilvl, 0), levels.length - 1)
    val level = levels(ilvl)
    var root = listNumbers.get(ref.listId)
    if (root == null) { // :145-149
      root = new ListNumber(0, levels.head.nfc.toString)
      root.overrideNumber(levels.head.startAt)
      listNumbers.put(ref.listId, root)
    }
    var current = root
    for (l <- 1 to ilvl) { // :151-160
      if (current.subNumber == null) {
        current.subNumber = new ListNumber(l, levels(l).nfc.toString)
        if (ilvl != l) current.subNumber.overrideNumber(levels(l).startAt)
      }
      current = current.subNumber
    }
    if (level.startAt > current.number) current.overrideNumber(level.startAt)
    else current.incrementNumber() // :163-166
    val prefix =
      if (level.nfc == 23) "•" // :169-171
      else { // placeholder substitution (:174-178)
        var p = level.xst
        var ln = root
        var l = 0
        while (l <= current.level && ln != null) {
          p = p.replace(l.toChar.toString, ln.number.toString)
          ln = ln.subNumber
          l += 1
        }
        p
      }
    prefix + " " // :179
  }

  /** Post-pass 1 ~ checkDocumentStructure (DocumentParser.java:243-276):
    * drop empty documents; split over-long headers at the first newline;
    * fold blank-header paragraphs into the previous body.
    */
  private def checkDocumentStructure(st: State): Unit = {
    st.docs.filterInPlace(_.paras.nonEmpty) // :246-249
    var di = 0
    while (di < st.docs.size) {
      val doc = st.docs(di)
      // fast path: nothing to split or merge => no rebuild, no allocation
      var dirty = false
      var i = 0
      while (i < doc.paras.size && !dirty) {
        val p = doc.paras(i)
        if (p.header.length > maxHeaderLength || p.header.isBlankTrim) {
          dirty = true
        }
        i += 1
      }
      if (dirty) {
        var previous: ParaBuilder = null
        val kept = new ArrayBuffer[ParaBuilder]
        for (p <- doc.paras) {
          if (p.header.length > maxHeaderLength) { // :253-263
            val longHeader = p.header.text
            endStringPattern.findFirstMatchIn(longHeader).foreach { m =>
              val shortHeader = longHeader.substring(0, m.start)
              // direct concat, not addText (:258)
              val newBody = longHeader.substring(m.start) + p.body.text
              p.header = new SegBuilder(p.header.offset, shortHeader)
              p.body =
                new SegBuilder(p.header.offset + p.header.length, newBody)
            }
          }
          if (p.header.isBlankTrim) { // :265-270
            if (!p.body.isBlankTrim && previous != null) {
              appendBody(previous, p.body.text)
            }
            // paragraph dropped
          } else {
            previous = p
            kept += p
          }
        }
        doc.paras.clear()
        doc.paras ++= kept
      }
      di += 1
    }
  }

  /** Post-pass 2 ~ postProcessDocument (DocumentParser.java:278-296):
    * PROTOCOL-only demotion of "решение принято" headers into the
    * previous paragraph's body (header then body, both via addText — an
    * empty body still appends one separator, reproduced faithfully).
    */
  private def postProcessDocument(st: State): Unit = {
    for (doc <- st.docs if doc.docType == DocType.PROTOCOL) {
      var previous: ParaBuilder = null
      val kept = new ArrayBuffer[ParaBuilder]
      for (p <- doc.paras) {
        val demote = notHeaderPattern
          .findFirstIn(p.header.text.toLowerCase).isDefined && previous != null
        if (demote) {
          appendBody(previous, p.header.text)
          previous.body.addText(p.body.text)
        } else {
          previous = p
          kept += p
        }
      }
      doc.paras.clear()
      doc.paras ++= kept
    }
  }

  /** ~ findDocumentType (DocumentParser.java:368-402): earliest absolute
    * offset over the first 5 paragraph headers wins, CHARTER always wins;
    * fall back to bodies only if still UNKNOWN.
    */
  private def findDocumentType(doc: DocBuilder): Unit = {
    var result = DocType.UNKNOWN
    var firstOccurrence = Int.MaxValue
    def scan(seg: ParaBuilder => SegBuilder): Unit = {
      var i = 0
      while (i < doc.paras.size && i < maxDocTypeDetectionHeaders) {
        val s = seg(doc.paras(i))
        val raw = s.text
        if (hasCyrillic(raw)) { // no Cyrillic => no pattern can match
          var k = 0
          while (k < keywordProbes.length) {
            val (probe, docType) = keywordProbes(k)
            val idx = probe(raw)
            if (idx >= 0) {
              val abs = idx + s.offset
              if ((firstOccurrence > abs && result != DocType.CHARTER) ||
                  docType == DocType.CHARTER) {
                result = docType
                firstOccurrence = abs
              }
            }
            k += 1
          }
        }
        i += 1
      }
    }
    scan(_.header)
    if (result == DocType.UNKNOWN) scan(_.body)
    doc.docType = result
  }

  /** Concatenated main content for the per-turn text-equality check:
    * non-empty header/body texts of all documents joined with "\n".
    */
  def extractedText(md: MultiDoc): String = {
    // fast paths: 0 or 1 non-empty segments (most short turns)
    var cap = 0
    var nSegs = 0
    var only: String = null
    var di = 0
    while (di < md.documents.size) {
      val paras = md.documents(di).paragraphs
      var pi = 0
      while (pi < paras.size) {
        val p = paras(pi)
        cap += p.header.length + p.body.length + 2
        if (p.header.length > 0) { nSegs += 1; only = p.header.text }
        if (p.body.length > 0) { nSegs += 1; only = p.body.text }
        pi += 1
      }
      di += 1
    }
    if (nSegs == 0) return ""
    if (nSegs == 1) return only
    val sb = StrScratch.join(cap)
    di = 0
    while (di < md.documents.size) {
      val paras = md.documents(di).paragraphs
      var pi = 0
      while (pi < paras.size) {
        val p = paras(pi)
        if (p.header.text.nonEmpty) {
          if (sb.length > 0) sb.append(SegBuilder.LineSep)
          sb.append(p.header.text)
        }
        if (p.body.text.nonEmpty) {
          if (sb.length > 0) sb.append(SegBuilder.LineSep)
          sb.append(p.body.text)
        }
        pi += 1
      }
      di += 1
    }
    sb.toString
  }
}
