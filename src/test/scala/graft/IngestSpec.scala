package graft

import graft.operators.Ingest
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path}

class IngestSpec extends SparkSpec {
  import spark.implicits._

  private def mkFolder(): Path = {
    val dir = tempDir("graft_ingest")
    Files.writeString(dir.resolve("readme.md"), "# Readme Title\n\nsome markdown body text here")
    Files.writeString(dir.resolve("notes.txt"), "plain notes content with several words inside")
    Files.write(dir.resolve("image.png"), Array[Byte](0x50, 0x4e, 0x47, 1, 2, 3))
    Files.writeString(dir.resolve("ignored.xyz"), "unsupported extension")
    val sub = Files.createDirectory(dir.resolve("sub"))
    Files.writeString(sub.resolve("deep.txt"), "nested file payload")
    dir
  }

  test("folder scan filters unsupported extensions and recurses") {
    val dir = mkFolder()
    val out = Ingest.folder(spark, dir.toString)
    val types = out.select("file_type").as[String].collect().sorted.toSeq
    assert(types == Seq("md", "png", "txt", "txt"))
    assert(out.filter(col("source").contains("ignored.xyz")).count() == 0)
    assert(out.filter(col("source").contains("sub/deep.txt")).count() == 1)
  }

  test("convert decodes text formats and stubs binaries deterministically") {
    val dir = mkFolder()
    val out = Ingest.convert(Ingest.folder(spark, dir.toString))
      .select("file_type", "text").as[(String, String)].collect().toMap
    assert(out("md").startsWith("# Readme Title"))
    assert(out("txt").nonEmpty)
    assert(out("png").contains("[stub-converted png 6 bytes]"))
  }

  test("html conversion strips tags/scripts, keeps structure, decodes entities") {
    val dir = tempDir("graft_html")
    Files.writeString(dir.resolve("page.html"),
      """<html><head><title>T</title><style>p{color:red}</style>
        |<script>var x = "<p>not text</p>";</script></head>
        |<body><h1>Main&nbsp;Title</h1><!-- hidden -->
        |<p>First &amp; second &lt;para&gt;.</p>
        |<ul><li>alpha</li><li>beta</li></ul>
        |<table><tr><td>a1</td><td>a2</td></tr><tr><td>b1</td><td>b2</td></tr></table>
        |</body></html>""".stripMargin)
    val text = Ingest.convert(Ingest.folder(spark, dir.toString))
      .select("text").as[String].head()
    assert(text.contains("# Main Title"), text)
    assert(text.contains("First & second <para>."), text)
    assert(text.contains("- alpha") && text.contains("- beta"), text)
    assert(text.contains("a1 a2") && text.contains("b1 b2"), text)
    assert(!text.contains("color:red") && !text.contains("var x"), s"style/script leaked: $text")
    assert(!text.contains("hidden"), "comments must be stripped")
    // the markdown heading drives title extraction in the full pipeline
    val title = Ingest.pipeline(spark, dir.toString, "docs")
      .select("title").as[String].head()
    assert(title == "Main Title", title)
  }

  test("csv conversion parses quoted fields into a markdown table") {
    val dir = tempDir("graft_csv")
    Files.writeString(dir.resolve("data.csv"),
      "name,note,score\n\"Smith, Jane\",\"says \"\"hi\"\"\",10\nBob,\"multi\nline\",7\n")
    val text = Ingest.convert(Ingest.folder(spark, dir.toString))
      .select("text").as[String].head()
    val lines = text.split("\n").toSeq
    assert(lines.head == "| name | note | score |", lines.head)
    assert(lines(1) == "| --- | --- | --- |", lines(1))
    assert(lines(2) == "| Smith, Jane | says \"hi\" | 10 |", lines(2))
    assert(lines(3) == "| Bob | multi", "embedded newline stays inside the cell")
  }

  test("pdf conversion extracts text from plain and FlateDecode streams; images fall back to stub") {
    val dir = tempDir("graft_pdf")
    def pdf(content: Array[Byte], filter: String): Array[Byte] = {
      val head = (s"%PDF-1.4\n1 0 obj\n<< /Length ${content.length}$filter >>\nstream\n")
        .getBytes("ISO-8859-1")
      val tail = "\nendstream\nendobj\n%%EOF".getBytes("ISO-8859-1")
      head ++ content ++ tail
    }
    val plain = "BT /F1 12 Tf 72 712 Td (Hello graft) Tj 0 -14 Td (Second line \\(escaped\\)) Tj ET"
    Files.write(dir.resolve("plain.pdf"), pdf(plain.getBytes("ISO-8859-1"), ""))
    val tj = "BT 72 712 Td [ (Kerned ) -250 (array) ] TJ T* (after star) Tj ET"
    val deflater = new java.util.zip.Deflater()
    deflater.setInput(tj.getBytes("ISO-8859-1")); deflater.finish()
    val buf = new Array[Byte](4096)
    val n = deflater.deflate(buf); deflater.end()
    Files.write(dir.resolve("flate.pdf"), pdf(buf.take(n), " /Filter /FlateDecode"))
    Files.write(dir.resolve("image.pdf"),
      pdf(Array[Byte](-1, -40, -1, -32, 9, 9), " /Filter /DCTDecode"))
    val out = Ingest.convert(Ingest.folder(spark, dir.toString))
      .select("source", "text").as[(String, String)].collect()
      .map { case (s, t) => s.replaceAll("^.*/", "") -> t }.toMap
    assert(out("plain.pdf").startsWith("Hello graft"), out("plain.pdf"))
    assert(out("plain.pdf").contains("\nSecond line (escaped)"),
      s"Td must break the line, escapes must decode: ${out("plain.pdf")}")
    assert(out("flate.pdf").contains("Kerned array"), out("flate.pdf"))
    assert(out("flate.pdf").contains("\nafter star"), s"T* must break: ${out("flate.pdf")}")
    assert(out("image.pdf").contains("[stub-converted pdf"),
      s"image-only pdf must fall back to the stub: ${out("image.pdf")}")
  }

  test("ooxml conversion: docx runs/paragraphs, pptx slide pages, xlsx shared strings") {
    import graft.operators.Convert
    def zip(entries: (String, String)*): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val z = new java.util.zip.ZipOutputStream(bos)
      entries.foreach { case (name, body) =>
        z.putNextEntry(new java.util.zip.ZipEntry(name))
        z.write(body.getBytes("UTF-8")); z.closeEntry()
      }
      z.close(); bos.toByteArray
    }
    val docx = zip("word/document.xml" ->
      """<w:document><w:body><w:p><w:r><w:t>Hello</w:t></w:r><w:r><w:t xml:space="preserve"> world &amp; more</w:t></w:r></w:p>
        |<w:p><w:r><w:t>Second</w:t><w:tab/><w:t>para</w:t></w:r></w:p></w:body></w:document>""".stripMargin)
    val dText = Convert.docxToText(docx).get
    assert(dText.startsWith("Hello world & more"), dText)
    assert(dText.contains("\nSecond para"), s"paragraph break + normalized tab: $dText")

    val pptx = zip(
      "ppt/slides/slide2.xml" -> "<p:sld><a:p><a:t>Slide two</a:t></a:p></p:sld>",
      "ppt/slides/slide1.xml" -> "<p:sld><a:p><a:t>Title</a:t></a:p><a:p><a:t>Body</a:t></a:p></p:sld>")
    val pText = Convert.pptxToText(pptx).get
    assert(pText == "Title\nBody\fSlide two", s"slide order + page breaks: $pText")

    val xlsx = zip(
      "xl/sharedStrings.xml" -> "<sst><si><t>alpha</t></si><si><t>beta</t></si></sst>",
      "xl/worksheets/sheet1.xml" ->
        """<worksheet><sheetData><row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1"><v>42</v></c></row>
          |<row r="2"><c r="A2" t="s"><v>1</v></c></row></sheetData></worksheet>""".stripMargin)
    val xText = Convert.xlsxToText(xlsx).get
    assert(xText.contains("| alpha | 42 |"), xText)
    assert(xText.contains("| beta |"), xText)

    // outside the honest subset → None (convert() then falls back to the stub)
    assert(Convert.docxToText("not a zip".getBytes("UTF-8")).isEmpty)
    assert(Convert.pptxToText(zip("ppt/other.xml" -> "<x/>")).isEmpty)
  }

  test("rtf conversion: groups, destinations, escapes, unicode; routed through Ingest.convert") {
    import graft.operators.Convert
    val bs = "\\" // keeps the Scala scanner from eating \uNNNN sequences
    val rtf =
      s"""{\\rtf1\\ansi\\deff0{\\fonttbl{\\f0 Times New Roman;}}{\\colortbl;\\red0\\green0\\blue0;}
         |{\\info{\\title secret meta}}
         |\\f0\\fs24 Hello \\b bold\\b0  world\\par
         |Second\\tab col \\'e9t\\'e9 ${bs}u233?t${bs}u233? {\\*\\unknowndest hidden}quotes \\'93in\\'94\\par
         |Br\\'e4ce \\{literal\\} \\\\slash
         |}""".stripMargin
    val text = Convert.rtfToText(rtf.getBytes("ISO-8859-1")).get
    assert(text.startsWith("Hello bold world"), text)
    assert(text.contains("\nSecond\tcol été été"), s"par/tab/hex/unicode escapes: $text")
    assert(text.contains("quotes “in”"), s"cp1252 quote mapping: $text")
    assert(text.contains("Bräce {literal} \\slash"), s"escaped braces/backslash: $text")
    assert(!text.contains("Times New Roman") && !text.contains("secret meta")
      && !text.contains("hidden"), s"destination groups must not leak: $text")
    // not RTF → None (convert() then falls back to the stub)
    assert(Convert.rtfToText("plain text".getBytes("UTF-8")).isEmpty)

    // end to end through the folder scan: rtf is a supported, REAL format
    val dir = tempDir("graft_rtf")
    Files.write(dir.resolve("memo.rtf"), rtf.getBytes("ISO-8859-1"))
    val out = Ingest.convert(Ingest.folder(spark, dir.toString))
      .select("file_type", "text").as[(String, String)].collect().toMap
    assert(out("rtf").startsWith("Hello bold world"), out("rtf"))
  }

  test("ooxml formats route through Ingest.convert for real (not the stub)") {
    // the column-level Convertible set must include the real binary
    // converters — a .docx through the INGEST path extracts, not stubs
    def zip(entries: (String, String)*): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val z = new java.util.zip.ZipOutputStream(bos)
      entries.foreach { case (name, body) =>
        z.putNextEntry(new java.util.zip.ZipEntry(name))
        z.write(body.getBytes("UTF-8")); z.closeEntry()
      }
      z.close(); bos.toByteArray
    }
    val dir = tempDir("graft_ooxml_route")
    Files.write(dir.resolve("doc.docx"), zip("word/document.xml" ->
      "<w:document><w:body><w:p><w:r><w:t>Routed body</w:t></w:r></w:p></w:body></w:document>"))
    val out = Ingest.convert(Ingest.folder(spark, dir.toString))
      .select("file_type", "text").as[(String, String)].collect().toMap
    assert(out("docx").startsWith("Routed body"),
      s"docx must extract through Ingest.convert: ${out("docx")}")
  }

  test("zip conversion: members convert by extension, one page each; nested zips recurse bounded") {
    import graft.operators.Convert
    def zipOf(entries: (String, Array[Byte])*): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val z = new java.util.zip.ZipOutputStream(bos)
      entries.foreach { case (name, body) =>
        z.putNextEntry(new java.util.zip.ZipEntry(name))
        z.write(body); z.closeEntry()
      }
      z.close(); bos.toByteArray
    }
    val inner = zipOf("inner.txt" -> "nested text".getBytes("UTF-8"))
    val archive = zipOf(
      "docs/readme.md" -> "# Title\nBody here".getBytes("UTF-8"),
      "data.csv" -> "a,b\n1,2".getBytes("UTF-8"),
      "pics/photo.png" -> Array[Byte](0x89.toByte, 'P', 'N', 'G', 0, 0, 0, 0),
      "more.zip" -> inner,
      "notes.html" -> "<p>hello &amp; bye</p>".getBytes("UTF-8"))
    val text = Convert.zipToText(archive).get
    val pages = text.split("\f")
    assert(pages.length == 4, s"3 supported members + 1 nested -> 4 pages: ${pages.length}")
    assert(pages(0).startsWith("# docs/readme.md") && pages(0).contains("Body here"))
    assert(pages(1).contains("| a | b |") || pages(1).contains("a | b"), pages(1))
    // nested archive recurses with provenance-joined member names
    assert(pages(2).startsWith("# more.zip/inner.txt") && pages(2).contains("nested text"),
      pages(2))
    assert(pages(3).contains("hello & bye"))
    assert(!text.contains("photo"), "unsupported members are skipped")
    // depth bound: MaxZipDepth=3 opens three archive levels; a 4th-
    // level archive is skipped (its members never surface), while
    // level-3 members extract with full provenance-joined names
    val d4 = zipOf("deepest.txt" -> "level four text".getBytes("UTF-8"))
    val d3 = zipOf("l4.zip" -> d4, "deep.txt" -> "level three text".getBytes("UTF-8"))
    val d2 = zipOf("l3.zip" -> d3, "mid.txt" -> "level two text".getBytes("UTF-8"))
    val d1 = zipOf("l2.zip" -> d2)
    val deepText = Convert.zipToText(d1).get
    assert(deepText.contains("level two text"), deepText)
    assert(deepText.contains("# l2.zip/mid.txt"), "nested names carry provenance")
    assert(deepText.contains("# l2.zip/l3.zip/deep.txt") &&
      deepText.contains("level three text"), deepText)
    assert(!deepText.contains("level four text"),
      "members past MaxZipDepth must be skipped")
    // not a zip -> None
    assert(Convert.zipToText("plain".getBytes("UTF-8")).isEmpty)
    // routed through the ingest path: zip is Convertible, and the
    // page-split stage gives each member its own page row
    val dir = tempDir("graft_zip_route")
    Files.write(dir.resolve("bundle.zip"), archive)
    val pipe = Ingest.pipeline(spark, dir.toString, library = "ziplib")
    val pageVals = pipe.select("page").as[Long].distinct().collect().sorted
    assert(pageVals.length == 4, s"4 pages through the pipeline: ${pageVals.toSeq}")
  }

  test("json conversion renders a readable outline and survives bad json") {
    val dir = tempDir("graft_json")
    Files.writeString(dir.resolve("doc.json"),
      """{"title": "Spec", "tags": ["a", "b"], "meta": {"pages": 3}}""")
    Files.writeString(dir.resolve("bad.json"), "{not valid json")
    val out = Ingest.convert(Ingest.folder(spark, dir.toString))
      .select("source", "text").as[(String, String)].collect().toMap
    val good = out.collectFirst { case (s, t) if s.endsWith("doc.json") => t }.get
    assert(good.contains("title: Spec"), good)
    assert(good.contains("- a") && good.contains("- b"), good)
    assert(good.contains("meta:") && good.contains("  pages: 3"), good)
    val bad = out.collectFirst { case (s, t) if s.endsWith("bad.json") => t }.get
    assert(bad == "{not valid json", "invalid json must fall back to the raw payload")
  }

  test("pipeline produces a ChunkRecord-shaped table with embeddings") {
    val dir = mkFolder()
    val out = Ingest.pipeline(spark, dir.toString, "docs")
    val cols = out.columns.toSet
    assert(Set("doc_id", "library", "source", "title", "content_hash",
      "chunk_index", "chunk", "embedding").subsetOf(cols))
    assert(out.count() >= 4) // one chunk per small file at least
    val title = out.filter(col("source").endsWith("readme.md")).select("title").as[String].head()
    assert(title == "Readme Title")
    val emb = out.select("embedding").as[Seq[Double]].head()
    assert(emb.length == 64)
    assert(math.abs(math.sqrt(emb.map(x => x * x).sum) - 1.0) < 1e-9)
  }

  test("pipelineTyped yields the reference ChunkRecord row type") {
    val dir = mkFolder()
    val ds = graft.operators.Ingest.pipelineTyped(spark, dir.toString, "docs")
    val rec = ds.filter(_.source.endsWith("readme.md")).head()
    assert(rec.id == s"${rec.doc_id}:${rec.chunk_index}")
    assert(rec.library == "docs")
    assert(rec.page == 0 && rec.metadata == "{}")
    assert(rec.embedding.length == 64)
  }

  test("page breaks and user metadata flow through to every ChunkRecord") {
    val dir = tempDir("graft_paged")
    // three pages separated by form-feed (the converter's page delimiter)
    val pages = Seq(
      (1 to 60).map(i => s"pageone$i").mkString(" "),
      (1 to 60).map(i => s"pagetwo$i").mkString(" "),
      (1 to 60).map(i => s"pagethree$i").mkString(" ")
    ).mkString("\f")
    Files.writeString(dir.resolve("book.txt"), pages)
    val ds = Ingest.pipelineTyped(spark, dir.toString, "docs",
      metadata = Map("team" -> "search", "tier" -> "gold"))
    val recs = ds.collect().sortBy(_.chunk_index)
    assert(recs.map(_.page).toSeq == Seq(0, 1, 2), s"pages: ${recs.map(_.page).toSeq}")
    assert(recs.map(_.chunk_index).toSeq == Seq(0L, 1L, 2L), "chunk_index must be global per doc")
    assert(recs.forall(_.metadata == """{"team":"search","tier":"gold"}"""))
    assert(recs.head.content.startsWith("pageone1") && recs.last.content.startsWith("pagethree1"))
  }

  test("urlSource validates schemes like the reference and urlPipeline ingests the valid rows") {
    val urls = Seq(
      ("https://docs.example.com/guide.md", "# Guide\n\nbody words here for chunks"),
      ("http://example.com/data.csv", "a,b\n1,2"),
      ("ftp://example.com/file.txt", "nope"),
      ("file:///etc/passwd", "nope"),
      ("javascript:alert(1)", "nope")
    ).map { case (u, t) => (u, t.getBytes("UTF-8")) }.toDF("url", "content")
    val src = Ingest.urlSource(urls)
    val valid = src.filter(col("url_valid")).select("source", "file_type")
      .as[(String, String)].collect().toMap
    assert(valid.keySet == Set("https://docs.example.com/guide.md", "http://example.com/data.csv"))
    assert(valid("https://docs.example.com/guide.md") == "md")
    assert(valid("http://example.com/data.csv") == "csv")
    assert(src.filter(!col("url_valid")).count() == 3)

    val out = Ingest.urlPipeline(urls, "web", Map("crawl" -> "c1"))
    assert(out.select("source").distinct().count() == 2)
    val md = out.filter(col("source").endsWith("guide.md"))
    assert(md.select("title").as[String].head() == "Guide")
    assert(out.select("metadata").as[String].head() == """{"crawl":"c1"}""")
    assert(out.select("embedding").as[Seq[Double]].head().length == 64)
  }

  test("statuses: skip unchanged, replace changed, index new (by source+library)") {
    val dir = mkFolder()
    // persist the first scan as the "store" (a real store is durable;
    // a lazily cached DataFrame would alias the mutated folder)
    val storePath = tempDir("graft_store").resolve("chunks").toString
    Ingest.folder(spark, dir.toString).withColumn("library", lit("docs"))
      .write.parquet(storePath)
    val first = spark.read.parquet(storePath)
    // mutate one file, add one file, re-scan
    Files.writeString(dir.resolve("notes.txt"), "CHANGED content")
    Files.writeString(dir.resolve("fresh.md"), "brand new doc")
    val second = Ingest.folder(spark, dir.toString).withColumn("library", lit("docs"))
    val st = Ingest.statuses(second, first)
      .select("source", "status").as[(String, String)].collect()
      .map { case (s, v) => s.split('/').last -> v }.toMap
    assert(st("notes.txt") == "replaced")
    assert(st("fresh.md") == "indexed")
    assert(st("readme.md") == "skipped")
    assert(st("image.png") == "skipped")
  }

  test("contentSource: blank source falls back, bytes/hash are UTF-8 exact, md identity") {
    import spark.implicits._
    val rows = Seq(
      ("  notes.md ", "# Title\n\nhello world"),
      ("", "unnamed upload"),
      ("   ", "ws-only source")
    ).toDF("source", "content")
    val got = Ingest.contentSource(rows)
      .select("source", "file_type", "n_bytes", "content_hash")
      .as[(String, String, Long, String)].collect().toSeq
    assert(got.map(_._1) == Seq("notes.md", "uploaded-content", "uploaded-content"))
    assert(got.forall(_._2 == "md"))
    assert(got.head._3 == "# Title\n\nhello world".getBytes("UTF-8").length.toLong)
    val expectHash = java.security.MessageDigest.getInstance("SHA-256")
      .digest("# Title\n\nhello world".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(got.head._4 == expectHash)
    // conversion is the identity for content rows: chunks reassemble
    // the tokenized content verbatim (md passes through Convert)
    val chunks = Ingest.contentPipeline(rows.limit(1), "uploads")
    val text = chunks.orderBy("chunk_index").select("chunk").as[String].collect().mkString(" ")
    assert(text == "title hello world", s"got: $text")
  }

  test("contentPipeline rows carry library/metadata and the re-ingest gate composes") {
    import spark.implicits._
    val v1 = Seq(("a.md", "alpha beta"), ("b.md", "gamma delta")).toDF("source", "content")
    val store = Ingest.contentSource(v1).withColumn("library", lit("uploads"))
    val v2 = Seq(
      ("a.md", "alpha beta"),        // unchanged -> skipped
      ("b.md", "gamma delta EDITED"), // changed -> replaced
      ("c.md", "fresh")               // new -> indexed
    ).toDF("source", "content")
    val st = Ingest.statuses(
        Ingest.contentSource(v2).withColumn("library", lit("uploads")),
        store.select("source", "library", "content_hash"))
      .select("source", "status").as[(String, String)].collect().toMap
    assert(st == Map("a.md" -> "skipped", "b.md" -> "replaced", "c.md" -> "indexed"))
    val rec = Ingest.contentPipeline(v2, "uploads", Map("who" -> "test"))
    assert(rec.select("library").distinct().as[String].collect().toSeq == Seq("uploads"))
    assert(rec.select("metadata").distinct().as[String].collect().toSeq ==
      Seq("""{"who":"test"}"""))
    assert(rec.columns.contains("embedding") && rec.count() == 3)
  }

  test("media conversion: real container metadata becomes the converted text") {
    // two CBR MPEG1-L3 frames @ 128 kbps 44100 Hz stereo (frameLen 417)
    val mp3 = (0 until 2).flatMap { _ =>
      val f = new Array[Byte](417)
      f(0) = 0xFF.toByte; f(1) = 0xFB.toByte; f(2) = 0x90.toByte
      f
    }.toArray
    val out = graft.operators.Convert.convert("/x/clip.mp3", "mp3", mp3, mp3.length.toLong)
    assert(out.startsWith("# clip.mp3"), out)
    assert(out.contains("[audio mp3: 2 ch, 44100 Hz, 52 ms, 2 frames]"), out)
    assert(out.contains("transcription unavailable"), out)
    // lossless webp, 64x32
    val bits = 63 | (31 << 14)
    val payload = Array(0x2f, bits & 0xff, (bits >> 8) & 0xff,
      (bits >> 16) & 0xff, (bits >> 24) & 0xff).map(_.toByte)
    val bb = java.nio.ByteBuffer.allocate(12 + 8 + payload.length + 1)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(4 + 8 + payload.length)
      .put("WEBP".getBytes("US-ASCII"))
    bb.put("VP8L".getBytes("US-ASCII")).putInt(payload.length).put(payload)
    val webp = bb.array()
    val wout = graft.operators.Convert.convert("pic.webp", "webp", webp, webp.length.toLong)
    assert(wout == "# pic.webp\n[image webp: 64x32]", wout)
    // a file whose extension lies about its bytes falls back to the stub
    val lie = graft.operators.Convert.convert("fake.mp3", "mp3",
      Array[Byte](1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12), 12L)
    assert(lie.contains("[stub-converted mp3 12 bytes]"), lie)
  }
}
