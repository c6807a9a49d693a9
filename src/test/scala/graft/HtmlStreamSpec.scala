package graft

import graft.fixtures.{CorpusGen, HtmlGen, Rng}
import graft.functions.{Charsets, FormatSniff}
import graft.functions.html.HtmlStream
import org.scalatest.funsuite.AnyFunSuite

/** The streaming extractor against goldens: the generators' own golden text
  * for every synthetic page, a pinned digest of (text, nBlocks) so the
  * content-block count cannot drift, and literal expected results for the
  * adversarial unit snippets.
  */
class HtmlStreamSpec extends AnyFunSuite {

  private def digest(results: Seq[HtmlStream.Result]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    results.foreach(r => md.update(s"${r.text}\u0000${r.nBlocks}\n".getBytes("UTF-8")))
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  test("3000 generated html payloads extract to golden text; digest pins nBlocks") {
    val results = (0L until 3000L).flatMap { id =>
      val p = CorpusGen.page(id)
      val bytes = FormatSniff.unwrapGzip(p.html).getOrElse(Array.emptyByteArray)
      if (FormatSniff.sniff(bytes) != FormatSniff.Html) None
      else {
        val r = HtmlStream.extract(Charsets.decode(bytes, isHtml = true).text)
        assert(r.text == p.text, s"id=$id diverged from golden")
        Some(r)
      }
    }
    assert(results.length == 1519)
    assert(digest(results) == "886c49bfa917289654a088f362de74a5c3237f78d2a400699b203dd348f6ace8")
  }

  test("adversarial snippets extract to their recorded (text, nBlocks)") {
    val cases = Seq(
      "<body><p>one<p>two<p>three</body>" -> ("one\ntwo\nthree", 3),
      "<ul><li>a<li>b<li>c</ul>" -> ("a\nb\nc", 3),
      "<table><tr><td>c1<td>c2<tr><td>c3</table>" -> ("c1\nc2\nc3", 3),
      "<ul><li>a<ul><li>a1<li>a2</ul><li>b</ul>" -> ("a\na1\na2\nb", 4),
      "<div>x</span></p></div>" -> ("x", 1),
      "<html><head><title>T</title><style>p{}</style></head><body><p>x</p></body></html>" -> ("x", 1),
      "<body><nav><a href='/'>Home</a></nav><p>real</p><footer>f</footer></body>" -> ("real", 1),
      "<div class=\"sidebar\"><p>no</p></div><p>yes</p>" -> ("yes", 1),
      "<div>before<iframe><p>x</p></iframe>after</div>" -> ("before after", 1),
      "<p>a<br>b</p><hr><p>c</p>" -> ("a b\nc", 2),
      "<div><a href=1>One</a> <a href=2>Two</a> <a href=3>Three</a></div><div>lots of plain words here with <a>one</a></div>" ->
        ("lots of plain words here with one", 1),
      "<dl><dt>t1<dd>d1<dt>t2<dd>d2</dl>" -> ("t1\nd1\nt2\nd2", 4),
      "<select><option>A</option><option>B</option></select><p>keep</p>" -> ("keep", 1),
      "<div><textarea>raw &amp; <b>not-a-tag</b></textarea><p>after</p></div>" -> ("raw & <b>not-a-tag</b>\nafter", 2),
      "<p>a</p><textarea>unterminated tail with <fake>" -> ("a\nunterminated tail with <fake>", 2),
      "<form><textarea>inside boiler form</textarea></form><p>keep</p>" -> ("keep", 1),
      "<textarea>&#x110000; invalid ref stays literal</textarea>" -> ("&#x110000; invalid ref stays literal", 1),
      "text with no tags at all" -> ("text with no tags at all", 1),
      "" -> ("", 0)
    )
    cases.foreach { case (html, (text, n)) =>
      assert(HtmlStream.extract(html) == HtmlStream.Result(text, n), s"diverged on: $html")
    }
  }

  test("300 random adversarial pages extract to golden text; digest pins nBlocks") {
    val results = (0 until 300).map { i =>
      val gp = HtmlGen.adversarial(new Rng(1000L + i), 0)
      val r = HtmlStream.extract(gp.html)
      assert(r.text == gp.golden, s"seed ${1000 + i}")
      r
    }
    assert(digest(results) == "7f59ddf7faec643e811020e927016789a8d54d49928beb0dbc24ac6d1574ba29")
  }

  test("parse: content blocks of the full block list are exactly what extract keeps") {
    (0 until 50).foreach { i =>
      val html = HtmlGen.clean(new Rng(2000L + i), 0).html
      val content = HtmlStream.parse(html).blocks.filter(_.isContent)
      assert(HtmlStream.extract(html) == HtmlStream.Result(content.map(_.text).mkString("\n"), content.length))
    }
  }
}
