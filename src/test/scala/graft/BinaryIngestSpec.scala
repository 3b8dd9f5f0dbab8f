package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.{BinaryIngest, DocFormats, GlyphOcr}

class BinaryIngestSpec extends AnyFunSuite {
  import TestSession.spark

  private lazy val dir: String = {
    val d = Scratch.dir("ingest")
    def put(name: String, content: Array[Byte]): Unit =
      java.nio.file.Files.write(d.resolve(name), content)
    def putText(name: String, content: String): Unit =
      put(name, content.getBytes("UTF-8"))
    putText("plain.txt", "hello plain world")
    put("report.pdf", DocFormats.buildPdf(Seq("page one", "two", "three")))
    put("table.docx", DocFormats.buildDocx(
      Seq("para one", "para two"),
      Seq(Seq("cell a", "cell b"))))
    put("scan.png", GlyphOcr.render("scanned page 42"))
    putText("empty.txt", "   ") // whitespace-only (binaryFile skips 0-byte files)
    putText("broken.pdf", "this is not a pdf")
    putText("broken.png", "this is not a png")
    putText("weird name!@#.txt", "sanitized")
    d.toString
  }

  private lazy val out = BinaryIngest.ingest(spark,
    BinaryIngest.readBinary(spark, dir)).collect()
    .map(r => r.getString(0).split("/").last -> r).toMap

  test("format dispatch routes by lowercased extension (S2)") {
    assert(out("plain.txt").getString(2) == "text")
    assert(out("report.pdf").getString(2) == "pdf")
    assert(out("table.docx").getString(2) == "docx")
    assert(out("scan.png").getString(2) == "image")
  }

  test("plain text decodes inline (S6)") {
    assert(out("plain.txt").getString(4) == "hello plain world")
  }

  test("real pdf parse: FlateDecode + Tj, pages joined with newline (S3)") {
    assert(out("report.pdf").getString(4) == "page one\ntwo\nthree")
  }

  test("real docx parse: paragraphs then table rows ' | '-flattened (S4)") {
    assert(out("table.docx").getString(4) == "para one\npara two\ncell a | cell b")
  }

  test("image routes to OCR parser: real raster decode + template match (S5)") {
    assert(out("scan.png").getString(4) == "scanned page 42")
  }

  test("undecodable image bytes -> per-row error, batch survives (P5/S5)") {
    assert(Option(out("broken.png").getString(5)).exists(_.startsWith("image parse failed")))
    assert(out("broken.png").getString(4) == null)
  }

  test("empty parse -> per-row error, batch survives (P5)") {
    assert(out("empty.txt").getString(5) == "Parsing produced empty text")
    assert(out("plain.txt").getString(5) == null)
  }

  test("unparseable bytes -> per-row error, batch survives (P5)") {
    assert(Option(out("broken.pdf").getString(5)).exists(_.startsWith("pdf parse failed")))
    assert(out("broken.pdf").getString(4) == null)
  }

  test("filename sanitize strips charset (P6)") {
    assert(out.keys.exists(_.contains("weird")))
    val r = out.find(_._1.contains("weird")).get._2
    assert(r.getString(1) == "weird name.txt")
  }

  // ------------------------------------------------- DOCX codec details

  test("docx: blank paragraphs dropped, kept paragraphs untrimmed (parsers.py:61-63)") {
    val bytes = DocFormats.buildDocx(Seq("  lead space", "   ", "", "tail  "))
    assert(DocFormats.DocxParser.parse(bytes) == "  lead space\ntail  ")
  }

  test("docx: cells stripped, empty cells dropped, empty rows dropped (parsers.py:66-75)") {
    val bytes = DocFormats.buildDocx(Nil,
      Seq(Seq("  a  ", "", "b"), Seq("   ", ""), Seq("solo")))
    assert(DocFormats.DocxParser.parse(bytes) == "a | b\nsolo")
  }

  test("docx: a table between paragraphs still prints after ALL paragraphs") {
    // python-docx doc.paragraphs / doc.tables ordering — build the body
    // manually with the table in the middle
    val para = (t: String) => s"<w:p><w:r><w:t>$t</w:t></w:r></w:p>"
    val xml = "<?xml version=\"1.0\"?><w:document xmlns:w=\"http://schemas.openxmlformats.org/wordprocessingml/2006/main\"><w:body>" +
      para("first") +
      "<w:tbl><w:tr><w:tc>" + para("mid cell") + "</w:tc></w:tr></w:tbl>" +
      para("second") + "</w:body></w:document>"
    val bos = new java.io.ByteArrayOutputStream()
    val zos = new java.util.zip.ZipOutputStream(bos)
    zos.putNextEntry(new java.util.zip.ZipEntry("word/document.xml"))
    zos.write(xml.getBytes("UTF-8")); zos.closeEntry(); zos.close()
    assert(DocFormats.DocxParser.parse(bos.toByteArray) == "first\nsecond\nmid cell")
  }

  test("docx: w:tab and w:br render as tab / newline inside run text") {
    val xml = "<?xml version=\"1.0\"?><w:document xmlns:w=\"http://schemas.openxmlformats.org/wordprocessingml/2006/main\"><w:body>" +
      "<w:p><w:r><w:t>a</w:t><w:tab/><w:t>b</w:t><w:br/><w:t>c</w:t></w:r></w:p>" +
      "</w:body></w:document>"
    val bos = new java.io.ByteArrayOutputStream()
    val zos = new java.util.zip.ZipOutputStream(bos)
    zos.putNextEntry(new java.util.zip.ZipEntry("word/document.xml"))
    zos.write(xml.getBytes("UTF-8")); zos.closeEntry(); zos.close()
    assert(DocFormats.DocxParser.parse(bos.toByteArray) == "a\tb\nc")
  }

  test("docx: xml-special characters round-trip through the builder") {
    val s = "a & b < c > d"
    assert(DocFormats.DocxParser.parse(DocFormats.buildDocx(Seq(s))) == s)
  }

  // -------------------------------------------------- PDF codec details

  test("pdf: uncompressed streams parse too") {
    val bytes = DocFormats.buildPdf(Seq("no flate here"), compress = false)
    assert(DocFormats.PdfParser.parse(bytes) == "no flate here")
  }

  test("pdf: parens and backslashes escape and unescape") {
    val s = "f(x) = y \\ z (nested (deep))"
    assert(DocFormats.PdfParser.parse(DocFormats.buildPdf(Seq(s))) == s)
  }

  test("pdf: operator tokens INSIDE string literals don't truncate extraction") {
    // 'ET' inside BUDGET would end a lazy BT(.*?)ET block mid-literal;
    // 'BT' inside a literal must not open a phantom block either
    for (s <- Seq("BUDGET report", "COST ET AL", "BT and ET as words"))
      assert(DocFormats.PdfParser.parse(DocFormats.buildPdf(Seq(s))) == s,
        s"truncated on: '$s'")
  }

  test("pdf: TJ array show-text concatenates string operands") {
    val content = "BT /F1 12 Tf [(Hel) -30 (lo) 10 ( wor) (ld)] TJ ET"
    val raw = ("%PDF-1.4\n1 0 obj\n<< /Length " + content.length +
      " >>\nstream\n" + content + "\nendstream\nendobj\n%%EOF\n")
    assert(DocFormats.PdfParser.parse(raw.getBytes("ISO-8859-1")) == "Hello world")
  }

  test("pdf: deterministic bytes for fixed input") {
    val a = DocFormats.buildPdf(Seq("same", "pages"))
    val b = DocFormats.buildPdf(Seq("same", "pages"))
    assert(java.util.Arrays.equals(a, b))
    val c = DocFormats.buildDocx(Seq("same"), Seq(Seq("t")))
    val d = DocFormats.buildDocx(Seq("same"), Seq(Seq("t")))
    assert(java.util.Arrays.equals(c, d))
  }

  test("html: script/style/comments vanish, blocks split, inline tags don't break words") {
    import graft.sources.HtmlFormat.htmlToText
    val html = """<html><head><style>p { color: red }</style>
      |<script>if (1 < 2) { document.write("<p>evil</p>"); }</script></head>
      |<body><p>He<b>ll</b>o <i>world</i></p>
      |<!-- hidden --><div>second   block</div></body></html>""".stripMargin
    assert(htmlToText(html) == "Hello world\nsecond   block")
    // SCRIPT with attributes + uppercase close tag still skips wholesale
    assert(htmlToText("""<SCRIPT type="x">a<b</SCRIPT><p>ok</p>""") == "ok")
  }

  test("html: entities decode (named, decimal, hex); unknown stay literal; unclosed tag drops tail") {
    import graft.sources.HtmlFormat.htmlToText
    assert(htmlToText("<p>&amp;&lt;&gt;&quot;&apos;&copy;</p>") == "&<>\"'©")
    assert(htmlToText("<p>&#65;&#x42;</p>") == "AB")
    assert(htmlToText("<p>&bogus; &noschemi</p>") == "&bogus; &noschemi")
    assert(htmlToText("<p>kept<div unclosed") == "kept")
  }

  test("html: buildHtml -> htmlToText round-trips arbitrary text (escape property)") {
    import graft.sources.HtmlFormat
    val rnd = new scala.util.Random(11)
    val alphabet = "ab <>&\"'c;#x1 \t"
    (0 until 40).foreach { i =>
      val text = (0 until rnd.nextInt(30)).map(_ =>
        alphabet(rnd.nextInt(alphabet.length))).mkString
      val words3 = text.split(' ').filter(_.trim.nonEmpty).take(3).mkString(" ")
      val out = HtmlFormat.htmlToText(
        new String(HtmlFormat.buildHtml(i.toLong, text, words3), "UTF-8"))
      val expected = s"Doc $i\nhome | about" +
        (if (words3.trim.nonEmpty) s"\n${words3.trim}" else "") +
        (if (text.trim.nonEmpty) s"\n${text.trim}" else "") +
        "\n© 2026"
      assert(out == expected, s"i=$i text=${text.map(_.toInt)}")
    }
  }

  test("html: .html/.htm route to the html parser end-to-end") {
    import spark.implicits._
    val bytes = graft.sources.HtmlFormat.buildHtml(7L, "hello page", "hello page")
    val bin = Seq(("mem://x/page.HTM", bytes, bytes.length.toLong))
      .toDF("path", "content", "length")
    val row = BinaryIngest.ingest(spark, bin).collect()(0)
    assert(row.getAs[String]("fmt") == "html")
    assert(row.getAs[String]("raw_text") ==
      "Doc 7\nhome | about\nhello page\nhello page\n© 2026")
    assert(row.getAs[String]("error") == null)
  }
}
