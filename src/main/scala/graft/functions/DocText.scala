package graft.functions

import java.io.ByteArrayInputStream
import java.util.zip.{Inflater, ZipInputStream}

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf

import scala.collection.mutable.ListBuffer

/** Document text extraction for datalink payloads — the reference's
  * `pkg/datalink/docx` (zip → `word/document.xml` → paragraph runs)
  * and `pkg/datalink/pdf` (plain-text extraction) re-implemented on
  * the JDK only:
  *
  *  - DOCX: `ZipInputStream` + StAX over `word/document.xml`; text is
  *    the concatenation of `<w:t>` runs, paragraphs (`<w:p>`) joined
  *    with newlines — the same shape as the reference's
  *    `WordDocument.AsText`.
  *  - PDF: content streams located by `stream`/`endstream`, inflated
  *    when FlateDecode'd (`java.util.zip.Inflater`), then the text
  *    operators inside BT/ET blocks are evaluated: `Tj`, `'`, `"`
  *    (show string), `TJ` (array show), with `Td`/`TD`/`T*` treated as
  *    line breaks. Literal `(…)` strings (incl. escapes and octal) and
  *    `<hex>` strings are decoded. Covers unencrypted PDFs with
  *    standard encodings — the common machine-generated case; no
  *    xref/object-graph walk, CID font maps, or encryption.
  */
object DocText {

  // --------------------------------------------------------------- docx
  def docxText(bytes: Array[Byte]): String = {
    if (bytes == null) return null
    try {
      val zin = new ZipInputStream(new ByteArrayInputStream(bytes))
      var xml: Array[Byte] = null
      var e = zin.getNextEntry
      while (e != null && xml == null) {
        if (e.getName == "word/document.xml") xml = readAll(zin)
        else e = zin.getNextEntry
      }
      zin.close()
      if (xml == null) return null
      val f = javax.xml.stream.XMLInputFactory.newInstance()
      f.setProperty(javax.xml.stream.XMLInputFactory.SUPPORT_DTD, false)
      f.setProperty(javax.xml.stream.XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
      val r = f.createXMLStreamReader(new ByteArrayInputStream(xml))
      val paragraphs = ListBuffer.empty[String]
      val cur = new StringBuilder
      var inT = false
      var sawP = false
      while (r.hasNext) {
        r.next() match {
          case javax.xml.stream.XMLStreamConstants.START_ELEMENT =>
            r.getLocalName match {
              case "p" =>
                if (sawP) { paragraphs += cur.toString; cur.clear() }
                sawP = true
              case "t" => inT = true
              case "tab" => if (sawP) cur += '\t'
              case "br" => if (sawP) cur += '\n'
              case _ =>
            }
          case javax.xml.stream.XMLStreamConstants.END_ELEMENT =>
            if (r.getLocalName == "t") inT = false
          case javax.xml.stream.XMLStreamConstants.CHARACTERS =>
            if (inT) cur.append(r.getText)
          case _ =>
        }
      }
      r.close()
      if (sawP) paragraphs += cur.toString
      paragraphs.mkString("\n")
    } catch { case _: Exception => null }
  }

  private def readAll(in: java.io.InputStream): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    var n = in.read(buf)
    while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
    out.toByteArray
  }

  // ---------------------------------------------------------------- pdf
  def pdfText(bytes: Array[Byte]): String = {
    if (bytes == null) return null
    try {
      val out = new StringBuilder
      for (stream <- contentStreams(bytes)) extractTextOps(stream, out)
      // drop only the final line terminator: interior whitespace is
      // content (trailing spaces must round-trip)
      val s0 = out.toString
      val s = if (s0.endsWith("\n")) s0.dropRight(1) else s0
      if (s.isEmpty) null else s
    } catch { case _: Exception => null }
  }

  /** All stream payloads, inflated when they are zlib/Flate data. */
  private def contentStreams(bytes: Array[Byte]): Seq[Array[Byte]] = {
    val out = ListBuffer.empty[Array[Byte]]
    var i = 0
    while (i >= 0 && i < bytes.length) {
      i = indexOf(bytes, "stream", i)
      if (i >= 0) {
        var s = i + "stream".length
        if (s < bytes.length && bytes(s) == '\r') s += 1
        if (s < bytes.length && bytes(s) == '\n') s += 1
        val e = indexOf(bytes, "endstream", s)
        if (e < 0) { i = -1 }
        else {
          val raw = java.util.Arrays.copyOfRange(bytes, s, e)
          out += tryInflate(raw).getOrElse(raw)
          i = e + "endstream".length
        }
      }
    }
    out.toSeq
  }

  private def tryInflate(data: Array[Byte]): Option[Array[Byte]] =
    try {
      val inf = new Inflater()
      inf.setInput(data)
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = inf.inflate(buf)
      while (n > 0) { out.write(buf, 0, n); n = inf.inflate(buf) }
      val ok = inf.getBytesRead > 0 && out.size() > 0
      inf.end()
      if (ok) Some(out.toByteArray) else None
    } catch { case _: Exception => None }

  private def indexOf(hay: Array[Byte], needle: String, from: Int): Int = {
    val nb = needle.getBytes("ISO-8859-1")
    var i = math.max(from, 0)
    val last = hay.length - nb.length
    while (i <= last) {
      var j = 0
      while (j < nb.length && hay(i + j) == nb(j)) j += 1
      if (j == nb.length) return i
      i += 1
    }
    -1
  }

  /** Evaluate text-showing operators inside BT/ET blocks. */
  private def extractTextOps(content: Array[Byte], out: StringBuilder): Unit = {
    val s = new String(content, "ISO-8859-1")
    var i = 0
    var inText = false
    val pending = new StringBuilder
    def flushLine(): Unit =
      if (pending.nonEmpty) { out.append(pending).append('\n'); pending.clear() }
    while (i < s.length) {
      val c = s.charAt(i)
      if (!inText) {
        if (c == 'B' && s.startsWith("BT", i)) { inText = true; i += 2 }
        else i += 1
      } else if (c == '(') {
        val (str, next) = literalString(s, i)
        pending.append(str); i = next
      } else if (c == '<' && i + 1 < s.length && s.charAt(i + 1) != '<') {
        val (str, next) = hexString(s, i)
        pending.append(str); i = next
      } else if (c == 'E' && s.startsWith("ET", i)) {
        flushLine(); inText = false; i += 2
      } else if ((c == 'T' && i + 1 < s.length &&
          (s.charAt(i + 1) == '*' || s.charAt(i + 1) == 'd' || s.charAt(i + 1) == 'D')) ||
          c == '\'' || c == '"') {
        // line-advance operators separate logical lines
        flushLine(); i += (if (c == 'T') 2 else 1)
      } else i += 1
    }
    flushLine()
  }

  /** Decode a `(...)` literal string with escapes/octal; returns (text,
    * index after the closing paren).
    */
  private def literalString(s: String, start: Int): (String, Int) = {
    val sb = new StringBuilder
    var i = start + 1
    var depth = 1
    while (i < s.length && depth > 0) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 'n' => sb += '\n'; i += 2
          case 'r' => sb += '\r'; i += 2
          case 't' => sb += '\t'; i += 2
          case 'b' => sb += '\b'; i += 2
          case 'f' => sb += '\f'; i += 2
          case '(' => sb += '('; i += 2
          case ')' => sb += ')'; i += 2
          case '\\' => sb += '\\'; i += 2
          case d if d >= '0' && d <= '7' =>
            var j = i + 1
            var v = 0
            while (j < s.length && j < i + 4 && s.charAt(j) >= '0' && s.charAt(j) <= '7') {
              v = v * 8 + (s.charAt(j) - '0'); j += 1
            }
            sb += v.toChar; i = j
          case _ => i += 2
        }
      } else if (c == '(') { depth += 1; sb += c; i += 1 }
      else if (c == ')') { depth -= 1; if (depth > 0) sb += c; i += 1 }
      else { sb += c; i += 1 }
    }
    (sb.toString, i)
  }

  private def hexString(s: String, start: Int): (String, Int) = {
    val end = s.indexOf('>', start)
    if (end < 0) return ("", s.length)
    val hex = s.substring(start + 1, end).filterNot(_.isWhitespace)
    val padded = if (hex.length % 2 == 1) hex + "0" else hex
    val sb = new StringBuilder
    var i = 0
    while (i + 1 < padded.length + 1 && i + 2 <= padded.length) {
      sb += Integer.parseInt(padded.substring(i, i + 2), 16).toChar
      i += 2
    }
    (sb.toString, end + 1)
  }

  // ------------------------------------------------------------ dispatch
  /** Extract text from a payload by mime/extension hint; UTF-8 decode
    * for plain text, NULL for unknown binary (the caller's decode
    * pipeline stays total).
    */
  def extractText(bytes: Array[Byte], mime: String): String = {
    if (bytes == null) return null
    val m = if (mime == null) "" else mime.toLowerCase
    if (m.contains("pdf")) pdfText(bytes)
    else if (m.contains("word") || m.contains("docx")) docxText(bytes)
    else if (m.startsWith("text/") || m.contains("plain") || m.isEmpty)
      new String(bytes, "UTF-8")
    else null
  }

  private val extractU = udf(extractText _)
  def parse_document_text(payload: Column, mime: Column): Column = extractU(payload, mime)

  private[graft] def functions(ft: graft.GraftExtensions.FunctionTable): Unit =
    ft.udf("parse_document_text", udf(extractText _))
}
