package graft

import graft.core.{MultiDoc, TextSeg}

/** CLI parity surface — the reference's console entry point
  * (App.java:19-35: `java -cp ... App -i <file>` prints the parse as
  * JSON). Ours reads a UTF-8 text file as one turn, runs the extraction
  * kernel, and prints JSON in the reference's output contract
  * (README.md:50-85, v1.5.2 field set: documents[].documentType,
  * paragraphs[].paragraphHeader/paragraphBody{offset,text,length},
  * version).
  */
object App {

  def main(args: Array[String]): Unit = {
    val path = args.sliding(2).collectFirst {
      case Array("-i", p) => p
    }.getOrElse {
      System.err.println("usage: graft.App -i <text file>")
      sys.exit(2)
    }
    val text = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
      java.nio.charset.StandardCharsets.UTF_8)
    val out = pipeline.TurnExtractor.extract("cli", 0, text)
    println(toJson(core.MultiDoc(out.documents, out.spans, out.version)))
  }

  /** Reference-contract JSON (hand-rolled: zero-dependency sandbox). */
  def toJson(md: MultiDoc): String = {
    val sb = new java.lang.StringBuilder
    sb.append("{\"documents\":[")
    var firstDoc = true
    for (d <- md.documents) {
      if (!firstDoc) sb.append(',')
      firstDoc = false
      sb.append("{\"documentType\":\"").append(d.docType)
        .append("\",\"paragraphs\":[")
      var firstPara = true
      for (p <- d.paragraphs) {
        if (!firstPara) sb.append(',')
        firstPara = false
        sb.append("{\"paragraphHeader\":")
        seg(sb, p.header)
        sb.append(",\"paragraphBody\":")
        seg(sb, p.body)
        sb.append('}')
      }
      sb.append("]}")
    }
    sb.append("],\"version\":\"").append(md.version).append("\"}")
    sb.toString
  }

  private def seg(sb: java.lang.StringBuilder, s: TextSeg): Unit = {
    sb.append("{\"offset\":").append(s.offset)
      .append(",\"text\":\"").append(escape(s.text))
      .append("\",\"length\":").append(s.length).append('}')
  }

  /** JSON string-body escaping (quotes, backslashes, control chars). */
  private[graft] def escape(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length + 8)
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
        case c => sb.append(c)
      }
      i += 1
    }
    sb.toString
  }
}
