package graft

import graft.functions.MarkdownSink
import graft.functions.html.HtmlStream
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

class MarkdownSinkSpec extends AnyFunSuite {

  private val base = Extracted("https://a/b", new Timestamp(0), "html",
    "Title line\nBody para", "utf-8", "ok", null, 2, 123L)

  test("flat render: reference section shape, full-text fallback") {
    val md = MarkdownSink.render(base)
    assert(md.startsWith("# https://a/b\n\n## Document Information\n"))
    assert(md.contains("- **File Type**: html\n"))
    assert(md.contains("- **File Size**: 123 bytes\n"))
    assert(md.contains("## Processing Information\n- **Method**: html-kernel\n- **Charset**: utf-8\n- **Status**: ok\n"))
    assert(md.contains("## Extracted Content\n\nTitle line\nBody para\n"))
    assert(md.contains("## Layout Analysis\n- **Total Regions**: 2\n"))
    val bad = base.copy(status = "failed", error = "boom")
    assert(MarkdownSink.render(bad).contains("- **Error**: boom\n"))
  }

  test("structured render: tables as pipe rows with header separator, exact document") {
    val html =
      """<html><body>
        |<p>Intro paragraph.</p>
        |<table>
        |  <tr><th>name</th><th>qty</th></tr>
        |  <tr><td>apples</td><td>3</td></tr>
        |  <tr><td>pears</td><td>5</td></tr>
        |</table>
        |<p>Closing words.</p>
        |</body></html>""".stripMargin
    val (elements, regions) = MarkdownSink.htmlElements(html)
    val md = MarkdownSink.renderStructured(base, elements, regions)
    // elements render in DOCUMENT order: intro, table, closing
    val expectedContent =
      """## Extracted Content
        |
        |Intro paragraph.
        |
        |### Table 1
        |
        || name | qty |
        ||---|---|
        || apples | 3 |
        || pears | 5 |
        |
        |Closing words.
        |""".stripMargin
    assert(md.contains(expectedContent), s"render was:\n$md")
    // region stats: per-tag counts over ALL blocks, first-appearance order
    assert(md.contains("## Layout Analysis\n"))
    assert(md.contains("  - p: 2\n"))
    assert(md.contains("  - th: 2\n") || md.contains("  - td: "), s"render was:\n$md")
  }

  test("nested/ugly tables still produce row-shaped data") {
    val (elements, _) = MarkdownSink.htmlElements(
      "<table><thead><tr><th>h</th></tr></thead><tbody><tr><td>a<b>x</b></td></tr></tbody></table>"
    )
    assert(elements == Seq(HtmlStream.Table(Seq(Seq("h"), Seq("a x")))))
  }

  test("table captions are preserved; boiler containers are skipped; nested tables surface") {
    val html =
      """<body><p>Lead.</p>
        |<table><caption>Q3 Sales</caption><tr><td>x</td><td>y</td></tr></table>
        |<nav><p>menu junk</p><table><tr><td>nav cell</td></tr></table></nav>
        |<div><table><tr><td>outer <table><tr><td>inner</td></tr></table></td></tr></table></div>
        |</body>""".stripMargin
    val (elements, _) = MarkdownSink.htmlElements(html)
    assert(elements == Seq(
      HtmlStream.Paragraph("Lead."),
      HtmlStream.Paragraph("Q3 Sales"),
      HtmlStream.Table(Seq(Seq("x", "y"))),
      HtmlStream.Table(Seq(Seq("outer"))),
      HtmlStream.Table(Seq(Seq("inner")))
    ), s"got $elements")
  }

  test("table rules: first caption only, empty cells kept, direct-child rows/cells") {
    import HtmlStream.{Paragraph, Table}
    def elements(html: String) = MarkdownSink.htmlElements(html)._1
    // text inside a table but outside its cells is no paragraph
    assert(elements(
      "<body><table><caption>First</caption><caption>Second</caption>stray" +
        "<tr><td>a</td><td></td><td>c</td></tr>" +
        "<tbody><tr><th>b1</th><div><td>not a cell</td></div></tr></tbody>" +
        "<div><tr><td>not a row</td></tr></div></table><p>after</p></body>"
    ) == Seq(Paragraph("First"), Table(Seq(Seq("a", "", "c"), Seq("b1"))), Paragraph("after")))
    // a caption's text includes a table nested in it; that table follows
    assert(elements(
      "<table><caption>Cap <table><tr><td>in</td></tr></table></caption><tr><td>o</td></tr></table>"
    ) == Seq(Paragraph("Cap in"), Table(Seq(Seq("o"))), Table(Seq(Seq("in")))))
    // inside a kept table, a nested table is kept even in a boilerplate container
    assert(elements(
      "<table><tr><td>x<nav><table><tr><td>kept</td></tr></table></nav></td></tr></table>"
    ) == Seq(Table(Seq(Seq("x"))), Table(Seq(Seq("kept")))))
  }
}
