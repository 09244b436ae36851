package graft.operators

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import scala.jdk.CollectionConverters._

/** Real text extraction for the structured text formats the reference
  * converts through MarkItDown (converter.py:44): HTML → markdown-ish
  * text, CSV → a markdown pipe table, JSON → an indented key/value
  * outline, XML → tag-stripped text. Plain text and markdown pass
  * through. All pure JVM string processing (Jackson, which ships with
  * Spark, covers JSON) — deterministic, no network, no native libs.
  *
  * Binary document formats are extracted for real too, all pure JDK:
  * PDF via [[pdfToText]] (Flate streams + text operators), and the
  * OOXML family via java.util.zip — DOCX ([[docxToText]],
  * word/document.xml runs), PPTX ([[pptxToText]], one page per slide)
  * and XLSX ([[xlsxToText]], shared strings resolved, one page per
  * sheet). The legacy OLE2 family (doc/ppt/xls) extracts for real via
  * the pure-JVM CFB container parser in [[Ole]]. Each returns None on
  * inputs outside its honest subset (encrypted, image-only, exotic
  * encodings) and falls back to the documented deterministic stub;
  * only media (images/audio handled by [[Multimodal]], video) stays
  * stubbed here — no codec in this container.
  *
  * Runs ONCE per ingested file (bounded by file count, not corpus
  * rows), so a scalar function over the converted column is the right
  * shape; there is nothing for codegen to win on a recursive-descent
  * parse.
  */
object Convert {

  /** RTF → plain text, pure JVM (converter.py:13 routes .rtf through
    * MarkItDown; RTF is plain-text markup, so unlike the OLE legacy
    * formats it IS extractable without native parsers). Handles group
    * nesting, `\*`-prefixed and non-text destinations (fonttbl,
    * colortbl, stylesheet, info, pict, …), `\par`/`\line`/`\tab`,
    * `\'hh` cp1252 escapes, `\uN` unicode with `\ucN` skip counts and
    * escaped braces/backslashes; every other control word is ignored.
    * Returns None for bytes that don't open an `{\rtf` group.
    */
  def rtfToText(bytes: Array[Byte]): Option[String] = {
    val s = new String(bytes, java.nio.charset.StandardCharsets.ISO_8859_1)
    if (!s.startsWith("{\\rtf")) return None
    val skipDests = Set("fonttbl", "colortbl", "stylesheet", "info",
      "pict", "object", "header", "footer", "operator", "themedata",
      "filetbl", "listtable", "listoverridetable", "revtbl", "xmlnstbl")
    val out = new StringBuilder
    // per-group state: (skipping?, \uc unicode-substitute count)
    var stack = List((false, 1))
    def skipping = stack.head._1
    var i = 0
    var pendingUnicodeSkip = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '{' => stack = stack.head :: stack; i += 1
        case '}' => if (stack.tail.nonEmpty) stack = stack.tail; i += 1
        case '\\' if i + 1 < s.length =>
          s.charAt(i + 1) match {
            case c @ ('\\' | '{' | '}') =>
              if (!skipping) out.append(c); i += 2
            case '\'' if i + 3 <= s.length =>
              val hex = s.substring(i + 2, math.min(i + 4, s.length))
              if (!skipping && pendingUnicodeSkip == 0)
                try {
                  val b = Integer.parseInt(hex, 16)
                  // 0x80–0x9F differ between cp1252 (RTF's usual ANSI
                  // codepage) and ISO control chars — map the common set
                  val c = b match {
                    case 0x91 => '‘'; case 0x92 => '’'
                    case 0x93 => '“'; case 0x94 => '”'
                    case 0x95 => '•'; case 0x96 => '–'
                    case 0x97 => '—'; case 0x85 => '…'
                    case o => o.toChar
                  }
                  out.append(c)
                } catch { case _: NumberFormatException => () }
              else if (pendingUnicodeSkip > 0) pendingUnicodeSkip -= 1
              i += 4
            case '*' =>
              stack = (true, stack.head._2) :: stack.tail; i += 2
            case '~' => if (!skipping) out.append(' '); i += 2
            case '-' | '_' => i += 2 // optional/nonbreaking hyphen
            case _ =>
              // control word: letters, optional signed digits, optional space
              var j = i + 1
              while (j < s.length && s.charAt(j).isLetter) j += 1
              val word = s.substring(i + 1, j)
              var k = j
              if (k < s.length && (s.charAt(k) == '-' || s.charAt(k).isDigit)) {
                k += 1
                while (k < s.length && s.charAt(k).isDigit) k += 1
              }
              val param = s.substring(j, k)
              val hasSpace = k < s.length && s.charAt(k) == ' '
              val end = if (hasSpace) k + 1 else k
              word match {
                case _ if word.isEmpty => i = end // lone backslash-digit etc.
                case w if skipDests(w) =>
                  stack = (true, stack.head._2) :: stack.tail; i = end
                case "par" | "line" | "sect" | "page" =>
                  if (!skipping) out.append('\n'); i = end
                case "cell" | "tab" =>
                  if (!skipping) out.append('\t'); i = end
                case "row" => if (!skipping) out.append('\n'); i = end
                case "emdash" => if (!skipping) out.append('—'); i = end
                case "endash" => if (!skipping) out.append('–'); i = end
                case "uc" =>
                  val n = param.toIntOption.getOrElse(1)
                  stack = (skipping, n) :: stack.tail; i = end
                case "u" =>
                  if (!skipping) param.toIntOption.foreach { cp =>
                    val c = if (cp < 0) cp + 65536 else cp
                    out.append(c.toChar)
                  }
                  pendingUnicodeSkip = stack.head._2
                  i = end
                case _ => i = end // formatting word: ignore
              }
          }
        case '\r' | '\n' => i += 1 // raw newlines are not text in RTF
        case c =>
          if (!skipping) {
            if (pendingUnicodeSkip > 0) pendingUnicodeSkip -= 1
            else out.append(c)
          }
          i += 1
      }
    }
    Some(out.toString.trim)
  }

  /** Named + numeric HTML entity decoding (the common set). */
  private val Entities = Map(
    "amp" -> "&", "lt" -> "<", "gt" -> ">", "quot" -> "\"", "apos" -> "'",
    "nbsp" -> " ", "mdash" -> "—", "ndash" -> "–",
    "hellip" -> "…", "copy" -> "©", "reg" -> "®", "trade" -> "™")

  private def decodeEntities(s: String): String = {
    val m = java.util.regex.Pattern.compile("&(#x?[0-9A-Fa-f]+|[A-Za-z]+);").matcher(s)
    val sb = new java.lang.StringBuilder
    while (m.find()) {
      val body = m.group(1)
      val rep =
        if (body.startsWith("#x") || body.startsWith("#X"))
          new String(Character.toChars(Integer.parseInt(body.drop(2), 16)))
        else if (body.startsWith("#"))
          new String(Character.toChars(body.drop(1).toInt))
        else Entities.getOrElse(body, m.group(0))
      m.appendReplacement(sb, java.util.regex.Matcher.quoteReplacement(rep))
    }
    m.appendTail(sb)
    sb.toString
  }

  /** Collapse intra-line whitespace runs, trim lines, drop blank runs
    * to single blank lines, trim the ends.
    */
  private def tidy(s: String): String =
    s.linesIterator
      .map(_.replaceAll("[ \\t\\u00a0]+", " ").trim)
      .mkString("\n")
      .replaceAll("\n{3,}", "\n\n")
      .stripPrefix("\n").stripSuffix("\n")
      .trim

  /** HTML → markdown-ish text: drop script/style/comments, map
    * h1..h6 to `#` headings and `<li>` to `- ` bullets, break on
    * block-level tags, strip the rest, decode entities, tidy
    * whitespace. Same spirit as MarkItDown's HTML conversion.
    */
  def htmlToText(html: String): String = {
    var s = html
    s = s.replaceAll("(?is)<(script|style)[^>]*>.*?</\\1>", " ")
    s = s.replaceAll("(?s)<!--.*?-->", " ")
    for (i <- 1 to 6)
      s = s.replaceAll(s"(?is)<h$i[^>]*>(.*?)</h$i>", "\n" + ("#" * i) + " $1\n")
    s = s.replaceAll("(?is)<li[^>]*>", "\n- ")
    s = s.replaceAll("(?is)<br\\s*/?\\s*>", "\n")
    s = s.replaceAll("(?is)</?(p|div|tr|table|thead|tbody|ul|ol|blockquote|section|article|header|footer)[^>]*>", "\n")
    s = s.replaceAll("(?is)</(td|th)>", " ")
    s = s.replaceAll("(?s)<[^>]+>", "")
    tidy(decodeEntities(s))
  }

  /** XML → text: the HTML path without markdown structure is exactly
    * tag-strip + entity decode, which htmlToText already is.
    */
  def xmlToText(xml: String): String = htmlToText(xml)

  /** RFC-4180-ish CSV parse: quoted fields, escaped quotes (""),
    * embedded commas and newlines; rows split on LF/CRLF outside
    * quotes. Trailing empty line dropped.
    */
  def parseCsv(s: String): Seq[Seq[String]] = {
    val rows = Seq.newBuilder[Seq[String]]
    var row = Seq.newBuilder[String]
    val cell = new StringBuilder
    var inQuotes = false
    var i = 0
    var sawAny = false
    def endCell(): Unit = { row += cell.toString; cell.clear(); sawAny = true }
    def endRow(): Unit = { endCell(); rows += row.result(); row = Seq.newBuilder[String] }
    while (i < s.length) {
      val c = s.charAt(i)
      if (inQuotes) {
        if (c == '"') {
          if (i + 1 < s.length && s.charAt(i + 1) == '"') { cell.append('"'); i += 1 }
          else inQuotes = false
        } else cell.append(c)
      } else c match {
        case '"' => inQuotes = true
        case ',' => endCell()
        case '\r' => if (i + 1 < s.length && s.charAt(i + 1) == '\n') { endRow(); i += 1 } else endRow()
        case '\n' => endRow()
        case other => cell.append(other)
      }
      i += 1
    }
    if (cell.nonEmpty || row.result().nonEmpty) endRow()
    rows.result().filter(_.exists(_.nonEmpty))
  }

  /** CSV → markdown pipe table (first row = header), pipes escaped. */
  def csvToMarkdown(s: String): String = {
    val rows = parseCsv(s)
    if (rows.isEmpty) ""
    else {
      def line(r: Seq[String]) = r.map(_.replace("|", "\\|")).mkString("| ", " | ", " |")
      (line(rows.head) +:
        rows.head.map(_ => "---").mkString("| ", " | ", " |") +:
        rows.tail.map(line)).mkString("\n")
    }
  }

  private val mapper = new ObjectMapper()

  /** JSON → an indented outline (objects as `key: value` lines, arrays
    * as `- ` items), preserving object key order. Invalid JSON falls
    * back to the raw text — ingest should never drop a file over a
    * parse error, it should surface the payload.
    */
  def jsonToText(s: String): String = {
    def render(n: JsonNode, indent: Int): Seq[String] = {
      val pad = "  " * indent
      if (n.isObject)
        n.fields().asScala.toSeq.flatMap { e =>
          val (k, v) = (e.getKey, e.getValue)
          if (v.isValueNode) Seq(s"$pad$k: ${v.asText()}")
          else s"$pad$k:" +: render(v, indent + 1)
        }
      else if (n.isArray)
        n.asScala.toSeq.flatMap { v =>
          if (v.isValueNode) Seq(s"$pad- ${v.asText()}")
          else s"$pad-" +: render(v, indent + 1)
        }
      else Seq(s"$pad${n.asText()}")
    }
    try render(mapper.readTree(s), 0).mkString("\n")
    catch { case _: Exception => s }
  }

  /** Minimal PDF text extraction — the uncompressed/FlateDecode subset:
    * content streams are located by `stream`/`endstream` scanning (no
    * xref needed), inflated with the JDK `Inflater` when the stream
    * dict says `/FlateDecode`, and mined for the text-showing operators
    * (`Tj`, `'`, `"`, `TJ` arrays, with `(...)`-string escapes and
    * hex strings decoded; `T*`/`Td`/`TD` break lines). Returns None
    * when no text operators surface — scanned images, CID/Identity-H
    * subset fonts (whose show strings are glyph indexes, not bytes)
    * and exotic filters stay at the converter seam, honestly stubbed.
    * That subset covers the classic "digitally-born simple PDF"; it is
    * real extraction, not a placeholder.
    */
  def pdfToText(bytes: Array[Byte]): Option[String] = {
    val s = new String(bytes, java.nio.charset.StandardCharsets.ISO_8859_1)
    if (!s.startsWith("%PDF")) return None
    val out = new StringBuilder
    var from = 0
    while ({
      val i = s.indexOf("stream", from)
      i >= 0
    }) {
      val i = s.indexOf("stream", from)
      val dataStart = {
        var j = i + "stream".length
        if (j < s.length && s.charAt(j) == '\r') j += 1
        if (j < s.length && s.charAt(j) == '\n') j += 1
        j
      }
      val end = s.indexOf("endstream", dataStart)
      if (end < 0) { from = s.length }
      else {
        val dictStart = s.lastIndexOf("<<", i)
        val dict = if (dictStart >= 0) s.substring(dictStart, i) else ""
        val raw = bytes.slice(dataStart, end)
        val content: Option[String] =
          if (dict.contains("/FlateDecode")) inflate(raw).map(b =>
            new String(b, java.nio.charset.StandardCharsets.ISO_8859_1))
          else if (dict.contains("/Filter")) None // image/exotic filter
          else Some(new String(raw, java.nio.charset.StandardCharsets.ISO_8859_1))
        content.foreach(c => extractTextOps(c, out))
        from = end + "endstream".length
      }
    }
    val text = tidy(out.toString)
    if (text.nonEmpty) Some(text) else None
  }

  private def inflate(data: Array[Byte]): Option[Array[Byte]] = {
    val inf = new java.util.zip.Inflater()
    try {
      inf.setInput(data)
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      while (!inf.finished() && !inf.needsInput()) {
        val n = inf.inflate(buf)
        if (n > 0) out.write(buf, 0, n)
        else if (n == 0 && !inf.finished()) return Some(out.toByteArray) // stalled
      }
      Some(out.toByteArray)
    } catch { case _: Exception => None }
    finally inf.end()
  }

  /** Mine a decoded content stream for text-showing operators. */
  private def extractTextOps(content: String, out: StringBuilder): Unit = {
    val str = """\((?:\\.|[^\\()])*\)"""
    val hex = """<[0-9A-Fa-f\s]+>"""
    val op = java.util.regex.Pattern.compile(
      s"""(?s)($str|$hex)\\s*(Tj|'|")|(\\[(?:\\s*(?:$str|$hex|-?\\d+(?:\\.\\d+)?))*\\s*\\])\\s*TJ|(T\\*)|-?[\\d.]+\\s+-?[\\d.]+\\s+(Td|TD)""")
    def newline(): Unit = if (out.nonEmpty && out.last != '\n') out.append('\n')
    val m = op.matcher(content)
    while (m.find()) {
      if (m.group(4) != null || m.group(5) != null) newline() // T* / Td / TD
      else if (m.group(3) != null) {                          // [ ... ] TJ
        val sm = java.util.regex.Pattern.compile(s"$str|$hex").matcher(m.group(3))
        while (sm.find()) out.append(pdfString(sm.group(0)))
      } else if (m.group(1) != null) {                        // (s) Tj / ' / "
        if (m.group(2) != "Tj") newline()                     // ' and " break the line first
        out.append(pdfString(m.group(1)))
      }
    }
  }

  /** Decode one PDF string token: `(...)` with escapes, or `<hex>`. */
  private def pdfString(tok: String): String = {
    val t = tok.trim
    if (t.startsWith("<")) {
      val hex = t.drop(1).dropRight(1).filterNot(_.isWhitespace)
      val pairs = hex.grouped(2).filter(_.length == 2).toSeq
      new String(pairs.map(p => Integer.parseInt(p, 16).toByte).toArray,
        java.nio.charset.StandardCharsets.ISO_8859_1)
    } else if (t.startsWith("(")) {
      val body = t.drop(1).dropRight(1)
      val sb = new StringBuilder
      var i = 0
      while (i < body.length) {
        val c = body.charAt(i)
        if (c == '\\' && i + 1 < body.length) {
          body.charAt(i + 1) match {
            case 'n' => sb.append('\n'); i += 2
            case 'r' => sb.append('\r'); i += 2
            case 't' => sb.append('\t'); i += 2
            case 'b' => sb.append('\b'); i += 2
            case 'f' => sb.append('\f'); i += 2
            case d if d >= '0' && d <= '7' =>
              val oct = body.drop(i + 1).take(3).takeWhile(ch => ch >= '0' && ch <= '7')
              sb.append(Integer.parseInt(oct, 8).toChar); i += 1 + oct.length
            case other => sb.append(other); i += 2
          }
        } else { sb.append(c); i += 1 }
      }
      sb.toString
    } else ""
  }

  /** Entries of a zip archive whose names satisfy `want` (OOXML
    * containers are plain zip; java.util.zip is JDK-standard). Per-entry
    * readAllBytes is bounded by the entry: ZipInputStream EOFs at each
    * entry boundary.
    */
  private def zipEntries(bytes: Array[Byte], want: String => Boolean): Seq[(String, Array[Byte])] =
    try {
      val zin = new java.util.zip.ZipInputStream(new java.io.ByteArrayInputStream(bytes))
      val out = Seq.newBuilder[(String, Array[Byte])]
      var e = zin.getNextEntry
      while (e != null) {
        if (want(e.getName)) out += e.getName -> zin.readAllBytes()
        e = zin.getNextEntry
      }
      out.result()
    } catch { case _: Exception => Seq.empty }

  private def entryXml(e: (String, Array[Byte])): String =
    new String(e._2, java.nio.charset.StandardCharsets.UTF_8)

  /** DOCX text: `word/document.xml` runs (`<w:t>`) with paragraph
    * breaks at `</w:p>`; tabs and explicit breaks become the standard
    * whitespace normalization of [[tidy]]. WordprocessingML
    * is zip+XML all the way down — no third-party parser needed for the
    * text layer; styling, images and embedded objects are ignored.
    */
  def docxToText(bytes: Array[Byte]): Option[String] =
    zipEntries(bytes, _ == "word/document.xml").headOption.map { e =>
      val m = java.util.regex.Pattern
        .compile("(?s)<w:t(?:\\s[^>]*)?>(.*?)</w:t>|</w:p>|<w:tab/>|<w:br/>")
        .matcher(entryXml(e))
      val sb = new StringBuilder
      while (m.find()) {
        if (m.group(1) != null) sb.append(decodeEntities(m.group(1)))
        else if (m.group(0) == "<w:tab/>") sb.append('\t')
        else sb.append('\n')
      }
      tidy(sb.toString)
    }.filter(_.nonEmpty)

  /** PPTX text: every `ppt/slides/slideN.xml` in slide order, text runs
    * (`<a:t>`) with paragraph breaks; slides are joined with form-feed
    * so the ingest page-split machinery records one page per slide.
    */
  def pptxToText(bytes: Array[Byte]): Option[String] = {
    val slideName = "ppt/slides/slide(\\d+)\\.xml".r
    val slides = zipEntries(bytes, n => slideName.pattern.matcher(n).matches())
      .sortBy { case (n, _) => slideName.findFirstMatchIn(n).get.group(1).toInt }
      .map { e =>
        val m = java.util.regex.Pattern
          .compile("(?s)<a:t(?:\\s[^>]*)?>(.*?)</a:t>|</a:p>")
          .matcher(entryXml(e))
        val sb = new StringBuilder
        while (m.find()) {
          if (m.group(1) != null) sb.append(decodeEntities(m.group(1))) else sb.append('\n')
        }
        tidy(sb.toString)
      }
      .filter(_.nonEmpty)
    if (slides.isEmpty) None else Some(slides.mkString("\f"))
  }

  /** XLSX text: shared strings resolved into each sheet's cells, rows
    * rendered pipe-separated (the csv-to-markdown shape), one page per
    * sheet (form-feed joined). Covers inline `<v>` values and t="s"
    * shared-string cells — formulas surface as their cached values.
    */
  def xlsxToText(bytes: Array[Byte]): Option[String] = {
    val shared: Vector[String] =
      zipEntries(bytes, _ == "xl/sharedStrings.xml").headOption.map { e =>
        val si = java.util.regex.Pattern.compile("(?s)<si>(.*?)</si>").matcher(entryXml(e))
        val out = Vector.newBuilder[String]
        while (si.find()) {
          val t = java.util.regex.Pattern
            .compile("(?s)<t(?:\\s[^>]*)?>(.*?)</t>").matcher(si.group(1))
          val sb = new StringBuilder
          while (t.find()) sb.append(decodeEntities(t.group(1)))
          out += sb.toString
        }
        out.result()
      }.getOrElse(Vector.empty)
    val sheetName = "xl/worksheets/sheet(\\d+)\\.xml".r
    val sheets = zipEntries(bytes, n => sheetName.pattern.matcher(n).matches())
      .sortBy { case (n, _) => sheetName.findFirstMatchIn(n).get.group(1).toInt }
      .map { e =>
        val rows = java.util.regex.Pattern
          .compile("(?s)<row[^>]*>(.*?)</row>").matcher(entryXml(e))
        val lines = Seq.newBuilder[String]
        while (rows.find()) {
          // also match self-closing empty cells (<c r="B2" s="1"/>) so
          // later columns don't shift left when a cell is blank
          val cells = java.util.regex.Pattern
            .compile("(?s)<c([^>]*?)(?:/>|>(.*?)</c>)").matcher(rows.group(1))
          val vals = Seq.newBuilder[String]
          while (cells.find()) {
            val attrs = cells.group(1)
            val body = Option(cells.group(2)).getOrElse("")
            val v = java.util.regex.Pattern
              .compile("(?s)<v>(.*?)</v>").matcher(body)
            val raw = if (v.find()) decodeEntities(v.group(1)) else ""
            vals += (if (attrs.contains("t=\"s\""))
              raw.toIntOption.flatMap(shared.lift).getOrElse(raw)
            else raw)
          }
          val r = vals.result()
          if (r.exists(_.nonEmpty)) lines += r.mkString("| ", " | ", " |")
        }
        lines.result().mkString("\n")
      }
      .filter(_.nonEmpty)
    if (sheets.isEmpty) None else Some(sheets.mkString("\f"))
  }

  /** Stub payload for formats whose parsers are not in this container
    * (same shape the stub converter always produced).
    */
  def stub(sourceBasename: String, fileType: String, nBytes: Long): String =
    s"# $sourceBasename\n[stub-converted $fileType $nBytes bytes]"

  /** Dispatch per file_type over decoded UTF-8 bytes (structured text
    * formats) or the stub (binary formats).
    */
  def convert(source: String, fileType: String, bytes: Array[Byte], nBytes: Long): String = {
    def text = new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
    def fallback = stub(source.replaceAll("^.*[/\\\\]", ""), fileType, nBytes)
    fileType match {
      case "txt" | "md"   => text
      case "html" | "htm" => htmlToText(text)
      case "xml"          => xmlToText(text)
      case "csv"          => csvToMarkdown(text)
      case "json"         => jsonToText(text)
      case "pdf"          => pdfToText(bytes).getOrElse(fallback)
      case "docx"         => docxToText(bytes).getOrElse(fallback)
      case "pptx"         => pptxToText(bytes).getOrElse(fallback)
      case "xlsx"         => xlsxToText(bytes).getOrElse(fallback)
      case "rtf"          => rtfToText(bytes).getOrElse(fallback)
      case "zip"          => zipToText(bytes).getOrElse(fallback)
      case "doc"          => Ole.docToText(bytes).getOrElse(fallback)
      case "ppt"          => Ole.pptToText(bytes).getOrElse(fallback)
      case "xls"          => Ole.xlsToText(bytes).getOrElse(fallback)
      case "mp3" | "m4a" | "mp4" | "mov" | "ogg" | "opus" | "webp" =>
        mediaToText(source.replaceAll("^.*[/\\\\]", ""), bytes).getOrElse(fallback)
      case _              => fallback
    }
  }

  /** Media → MarkItDown-style metadata text (converter.py:44 routes
    * mp3/m4a through MarkItDown, which emits file metadata plus a
    * transcription attempt): the REAL container facts from
    * [[Multimodal]]'s codec-less walks become the converted text;
    * the transcription line is the honest stub (a speech model is a
    * codec-class dependency this container doesn't ship). Returns
    * None when the payload doesn't parse as its claimed family —
    * falling back to the generic stub like every other converter.
    */
  def mediaToText(basename: String, bytes: Array[Byte]): Option[String] = {
    val noSpeech = "[transcription unavailable: no speech model in this container]"
    (Multimodal.sniff(bytes) match {
      case "mp3" | "mp4" | "ogg" | "webp" => Multimodal.parse(bytes)
      case _ => None
    }).map { m =>
      val audio = s"${m.channels} ch, ${m.sampleRate} Hz"
      s"# $basename\n" + (m.format match {
        case "webp" => s"[image webp: ${m.width}x${m.height}]"
        case "mp3" => s"[audio mp3: $audio, ${m.durationMs} ms, ${m.nFrames} frames]\n$noSpeech"
        case "mp4" =>
          val video = if (m.width > 0) s", video ${m.width}x${m.height}" else ""
          val track = if (m.channels > 0) s", audio ${m.channels} ch ${m.sampleRate} Hz" else ""
          s"[media mp4: ${m.durationMs} ms$video$track]\n$noSpeech"
        case ogg => s"[audio $ogg: $audio, ${m.durationMs} ms]\n$noSpeech"
      })
    }
  }

  /** Total uncompressed bytes one archive may expand to — the zip-bomb
    * guard: extraction stops (keeping what's already converted) once
    * the cap is hit, so one hostile object cannot OOM an executor.
    */
  private val MaxZipExtractBytes: Long = 64L * 1024 * 1024

  /** Nested-archive recursion bound: zip-of-zips shipping is common in
    * crawl dumps, but unbounded recursion on hostile archives is the
    * zip-bomb shape — 3 levels covers every real corpus layout seen.
    */
  private val MaxZipDepth: Int = 3

  /** ZIP archive → text (converter.py:13 routes .zip through
    * MarkItDown, which converts the archive's members): every
    * supported entry runs through the SAME per-format [[convert]]
    * dispatch, each prefixed with a `# <entry name>` heading, and
    * entries are joined with form-feeds — so the ingest pipeline's
    * page-split stage gives every archive member its own page
    * provenance. NESTED archives recurse to [[MaxZipDepth]] levels
    * (zip-of-zips shipping is common in crawl dumps), with members
    * named `outer.zip/inner.txt`; past the depth bound a nested
    * archive is skipped, never unboundedly recursed — and the
    * EXTRACTION BUDGET is shared across every level (each read at any
    * depth decrements the same counter), so a hostile zip-bomb
    * amplifying per level still extracts at most [[MaxZipExtractBytes]]
    * total. Unsupported members (images, media) are skipped. Returns
    * None unless the payload opens with a local-file-header signature
    * and yields at least one entry.
    */
  def zipToText(bytes: Array[Byte], maxDepth: Int = MaxZipDepth): Option[String] = {
    if (!zipSig(bytes)) None
    else {
      val budget = Array(MaxZipExtractBytes) // shared across recursion levels
      val parts = zipWalk(bytes, "", maxDepth, budget)
      if (parts.isEmpty) None else Some(parts.mkString("\f"))
    }
  }

  private def zipSig(bytes: Array[Byte]): Boolean =
    bytes != null && bytes.length >= 4 &&
      bytes(0) == 'P' && bytes(1) == 'K' && bytes(2) == 3 && bytes(3) == 4

  private def readBounded(zin: java.util.zip.ZipInputStream, budget: Array[Long]): Array[Byte] = {
    val buf = new java.io.ByteArrayOutputStream()
    val chunk = new Array[Byte](64 * 1024)
    var n = zin.read(chunk)
    while (n >= 0 && budget(0) > 0) {
      val take = math.min(n.toLong, budget(0)).toInt
      buf.write(chunk, 0, take); budget(0) -= take
      n = if (budget(0) > 0) zin.read(chunk) else -1
    }
    buf.toByteArray
  }

  private def zipWalk(
      bytes: Array[Byte],
      prefix: String,
      depth: Int,
      budget: Array[Long]): Seq[String] = {
    val zin = new java.util.zip.ZipInputStream(new java.io.ByteArrayInputStream(bytes))
    val parts = Seq.newBuilder[String]
    try {
      var e = zin.getNextEntry
      while (e != null && budget(0) > 0) {
        if (!e.isDirectory) {
          val name = prefix + e.getName
          val ext = e.getName.replaceAll("^.*\\.", "").toLowerCase
          if (ext == "zip") {
            if (depth > 1) {
              val eb = readBounded(zin, budget)
              if (zipSig(eb)) parts ++= zipWalk(eb, name + "/", depth - 1, budget)
            } // depth exhausted: skip, never recurse unboundedly
          } else if (ext != e.getName.toLowerCase && // has an extension
            Set("txt", "md", "csv", "json", "xml", "html",
              "htm", "pdf", "docx", "pptx", "xlsx", "rtf")(ext)) {
            val eb = readBounded(zin, budget)
            parts += s"# $name\n" + convert(name, ext, eb, eb.length.toLong)
          }
        }
        e = zin.getNextEntry
      }
    } catch { case _: Exception => () } // truncated/corrupt: keep what converted
    parts.result()
  }
}
