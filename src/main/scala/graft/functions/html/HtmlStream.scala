package graft.functions.html

import graft.functions.TextAssembly
import scala.collection.mutable.ArrayBuffer

/** The HTML engine: streaming (SAX-style) main-content extraction. The
  * tokenizer feeds an element STACK that follows the HTML5 implied-close
  * rules the synthetic corpus exercises (unclosed p/li/dt/dd/td/tr —
  * FIXTURES.md §2 adversarial family). No tree is ever materialized, so
  * per-page memory is O(stack depth + current block) regardless of page
  * size (the giant-page property the north rule cares about), and nesting
  * depth costs heap, never JVM stack. From scratch (SURVEY.md §2.7 F1).
  *
  * Blocks are split at block-level elements and classified as boilerplate
  * by link density + container heuristics (Boilerpipe / trafilatura-style,
  * per the north rule); content blocks are joined "\n". All thresholds are
  * fixed integer comparisons (no floating point), so classification is
  * bit-deterministic across JVMs (SURVEY.md §7.3).
  *
  * One walk serves two entry points: `extract` (the kernel hot path: text
  * and content-block count) and `parse` (every block plus the
  * document-order paragraphs and tables the Markdown sink and table mining
  * need). The element bookkeeping runs only under `parse`.
  */
object HtmlStream {

  final case class Block(text: String, chars: Int, linkChars: Int, boilerContainer: Boolean, tag: String) {
    /** boilerplate iff in a nav-ish container or link density > 1/3 */
    def isContent: Boolean = !boilerContainer && linkChars * 3 <= chars
  }

  final case class Result(text: String, nBlocks: Int)

  /** Document-order structured elements: paragraphs (blocks outside tables
    * and boilerplate containers, link-dense ones included) and tables (rows
    * of normalized cell texts).
    */
  sealed trait Element
  final case class Paragraph(text: String) extends Element
  final case class Table(rows: Seq[Seq[String]]) extends Element

  /** `parse` output: every block (content or not) and the elements. */
  final case class Parsed(blocks: Seq[Block], elements: Seq[Element])

  /** Elements that start/end a block (flush boundaries). */
  private val blockTags: Set[String] = Set(
    "p", "div", "h1", "h2", "h3", "h4", "h5", "h6", "ul", "ol", "li",
    "table", "tr", "td", "th", "blockquote", "pre", "article", "section",
    "main", "nav", "header", "footer", "aside", "form", "dl", "dt", "dd",
    "figure", "figcaption", "hr", "caption", "thead", "tbody", "tfoot",
    "body", "html", "address", "fieldset", "legend", "details", "summary"
  )

  /** Subtrees skipped entirely (no text contribution). */
  private val skipTags: Set[String] =
    Set("script", "style", "noscript", "template", "head", "title", "iframe", "svg", "select", "option", "button")

  /** Block-level containers whose whole subtree is boilerplate. */
  private val boilerTags: Set[String] = Set("nav", "header", "footer", "aside", "form")

  private val voidTags: Set[String] = Set(
    "area", "base", "br", "col", "embed", "hr", "img", "input",
    "link", "meta", "param", "source", "track", "wbr"
  )

  /** Start tags that imply </p> when a p is open (HTML5 8.2.5.4.7 subset). */
  private val pClosers: Set[String] = Set(
    "address", "article", "aside", "blockquote", "details", "div", "dl",
    "fieldset", "figcaption", "figure", "footer", "form",
    "h1", "h2", "h3", "h4", "h5", "h6", "header", "hr", "main", "menu",
    "nav", "ol", "p", "pre", "section", "table", "ul"
  )

  /** class/id tokens that mark a container as boilerplate (trafilatura-style
    * rule list; fixed set, exact token match after splitting on [\s_-]).
    */
  private val boilerClassTokens: Set[String] = Set(
    "nav", "navbar", "menu", "footer", "header", "sidebar", "banner",
    "breadcrumb", "breadcrumbs", "widget", "ad", "ads", "advert",
    "promo", "social", "share", "comment", "comments", "cookie", "popup"
  )

  /** tokenized boiler-class check without allocations on the common path */
  private def hasBoilerToken(v: String): Boolean = {
    var i = 0
    val n = v.length
    while (i < n) {
      while (i < n && isTokenSep(v.charAt(i))) i += 1
      val s = i
      while (i < n && !isTokenSep(v.charAt(i))) i += 1
      if (i > s && boilerClassTokens.contains(v.substring(s, i).toLowerCase)) return true
    }
    false
  }

  @inline private def isTokenSep(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '_' || c == '-'

  /** North-rule main-content extraction. */
  def extract(html: String): Result = {
    val w = new Walk(elements = false)
    w.run(html)
    val content = w.blocks.filter(_.isContent)
    Result(content.map(_.text).mkString("\n"), content.length)
  }

  /** Every block plus the document-order elements, in one walk. */
  def parse(html: String): Parsed = {
    val w = new Walk(elements = true)
    w.run(html)
    Parsed(w.blocks.toSeq, w.out.filter(_ != null).toSeq)
  }

  // per-open-element flags
  private final val SKIP = 1
  private final val BOILER = 2
  private final val LINK = 4
  private final val BLOCK = 8
  // element bookkeeping (parse only): a table with a frame; a table or
  // thead/tbody/tfoot chain whose tr children are rows; a row; a cell; the
  // first direct-child caption
  private final val TABLE = 16
  private final val ROWS = 32
  private final val ROW = 64
  private final val CELL = 128
  private final val CAPTION = 256
  private final val ELEMENT = TABLE | ROW | CELL | CAPTION

  /** One open table under `parse`. `slot` is its reserved pair of output
    * positions (caption paragraph, table), taken when it opens, so nested
    * tables — which close first — still land after it in document order.
    */
  private final class TableFrame(val slot: Int) {
    val rows = new ArrayBuffer[Seq[String]]
    var row: ArrayBuffer[String] = null
    val cell = new java.lang.StringBuilder
    var cellOpen = false
    var captionSeen = false
    var captionStart = 0
    var caption = ""
  }

  private final class Walk(elements: Boolean) extends HtmlTokenizer.Sink {
    val blocks = new ArrayBuffer[Block](16)
    private val buf = new StringBuilder
    private var bufLink = 0
    private var blockTag = "body"
    private var skipDepth = 0
    private var boilerDepth = 0
    private var linkDepth = 0
    // inline whitespace-normalization state: buf only ever holds NORMALIZED
    // text (single spaces, trimmed), so flush is a plain toString — no
    // second pass, no intermediate text-node strings
    private var pendingSpace = false
    private var nodeBoundary = false

    // open elements, parallel arrays for cheap scans
    private var names = new Array[String](32)
    private var flags = new Array[Int](32)
    private var prevTag = new Array[String](32)
    private var size = 0

    // parse only: output with reserved table slots (null until filled),
    // open table frames (innermost last), and the text of open captions
    // (a caption's text includes tables nested in it)
    val out: ArrayBuffer[Element] = if (elements) new ArrayBuffer[Element] else null
    private val tables = if (elements) new ArrayBuffer[TableFrame] else null
    private val captionText = if (elements) new java.lang.StringBuilder else null
    private var captionsOpen = 0

    def run(html: String): Unit = {
      HtmlTokenizer.tokenizeSink(html, this)
      popThrough(0)
      flush()
    }

    private def push(name: String, flag: Int): Unit = {
      if (size == names.length) {
        names = java.util.Arrays.copyOf(names, size * 2)
        flags = java.util.Arrays.copyOf(flags, size * 2)
        prevTag = java.util.Arrays.copyOf(prevTag, size * 2)
      }
      names(size) = name; flags(size) = flag; prevTag(size) = blockTag; size += 1
    }

    private def indexOf(name: String): Int = {
      var i = size - 1
      while (i >= 0) { if (names(i) == name) return i; i -= 1 }
      -1
    }

    private def indexOfAny(a: String, b: String): Int = {
      var i = size - 1
      while (i >= 0) { if (names(i) == a || names(i) == b) return i; i -= 1 }
      -1
    }

    @inline private def top: String = if (size > 0) names(size - 1) else null

    private def flush(): Unit = {
      if (buf.nonEmpty) {
        val t = buf.toString
        blocks += Block(t, t.length, math.min(bufLink, t.length), boilerDepth > 0, blockTag)
        if (elements && boilerDepth == 0 && tables.isEmpty) out += Paragraph(t)
        buf.clear()
      }
      bufLink = 0
      pendingSpace = false
      nodeBoundary = false
    }

    @inline private def emitChar(c: Char): Unit = {
      if (TextAssembly.isSpace(c)) { if (buf.nonEmpty) pendingSpace = true }
      else {
        if (pendingSpace) { buf.append(' '); if (linkDepth > 0) bufLink += 1; pendingSpace = false }
        buf.append(c)
        if (linkDepth > 0) bufLink += 1
      }
    }

    private def appendRegion(src: String, start: Int, end: Int): Unit = {
      if (nodeBoundary) { if (buf.nonEmpty) pendingSpace = true; nodeBoundary = false }
      var i = start
      while (i < end) {
        val c = src.charAt(i)
        if (c == '&') {
          val r = Entities.decodeAt(src, i, end)
          if (r < 0) { emitChar('&'); i += 1 }
          else {
            val cp = (r & 0xFFFFFFFFL).toInt
            if (Character.isBmpCodePoint(cp)) emitChar(cp.toChar)
            else { emitChar(Character.highSurrogate(cp)); emitChar(Character.lowSurrogate(cp)) }
            i = (r >>> 32).toInt
          }
        } else { emitChar(c); i += 1 }
      }
    }

    /** Copy the region just appended to buf (from `from`) into a cell or
      * caption, after a space seam; the element normalizes on close.
      */
    private def copyTo(sb: java.lang.StringBuilder, from: Int): Unit =
      sb.append(' ').append(buf.underlying, from, buf.length)

    /** pop ONE element with its side effects (flush for blocks, depth
      * bookkeeping) — leaving that element.
      */
    private def popOne(): Unit = {
      size -= 1
      val f = flags(size)
      if ((f & SKIP) != 0) skipDepth -= 1
      else if ((f & BLOCK) != 0) {
        flush() // flush with the element's own boiler depth still active
        if ((f & ELEMENT) != 0) close(f)
        if ((f & BOILER) != 0) boilerDepth -= 1
        blockTag = prevTag(size)
      } else if ((f & LINK) != 0) linkDepth -= 1
    }

    private def popThrough(idx: Int): Unit = while (size > idx) popOne()

    /** Element bookkeeping for an opening block tag; returns its flags.
      * Rows come only from tr directly under a table (or its
      * thead/tbody/tfoot), cells only from td/th directly under such a row.
      * A table in a boilerplate container gets no frame, unless it is
      * nested in a table that has one.
      */
    private def open(name: String): Int = {
      val parent = if (size > 0) flags(size - 1) else 0
      name match {
        case "table" =>
          if (tables.isEmpty && boilerDepth > 0) 0
          else {
            tables += new TableFrame(out.length)
            out += null; out += null
            TABLE | ROWS
          }
        case "thead" | "tbody" | "tfoot" => if ((parent & ROWS) != 0) ROWS else 0
        case "tr" =>
          if ((parent & ROWS) == 0) 0
          else { tables.last.row = new ArrayBuffer[String](4); ROW }
        case "td" | "th" =>
          if ((parent & ROW) == 0) 0
          else { val t = tables.last; t.cell.setLength(0); t.cellOpen = true; CELL }
        case "caption" =>
          if ((parent & TABLE) == 0 || tables.last.captionSeen) 0
          else {
            val t = tables.last
            t.captionSeen = true
            t.captionStart = captionText.length
            captionsOpen += 1
            CAPTION
          }
        case _ => 0
      }
    }

    private def close(f: Int): Unit = {
      val t = tables.last
      if ((f & CELL) != 0) { t.row += TextAssembly.normalizeWs(t.cell.toString); t.cellOpen = false }
      if ((f & ROW) != 0) { if (t.row.nonEmpty) t.rows += t.row.toSeq; t.row = null }
      if ((f & CAPTION) != 0) {
        t.caption = TextAssembly.normalizeWs(captionText.substring(t.captionStart))
        captionsOpen -= 1
        if (captionsOpen == 0) captionText.setLength(0)
      }
      if ((f & TABLE) != 0) {
        tables.remove(tables.length - 1)
        if (t.caption.nonEmpty) out(t.slot) = Paragraph(t.caption)
        if (t.rows.nonEmpty) out(t.slot + 1) = Table(t.rows.toSeq)
      }
    }

    private def impliedCloses(name: String): Unit = {
      if (top == "p" && pClosers.contains(name)) popOne()
      name match {
        case "li" =>
          val li = indexOf("li")
          if (li >= 0) {
            // close only if no ul/ol opened above that li
            var j = li + 1
            var scoped = false
            while (j < size && !scoped) {
              if (names(j) == "ul" || names(j) == "ol") scoped = true
              j += 1
            }
            if (!scoped) popThrough(li)
          }
        case "dt" | "dd" =>
          if (top == "dt" || top == "dd") popOne()
        case "td" | "th" =>
          if (indexOfAny("td", "th") >= 0) while (size > 0 && !isCellStop(top)) popOne()
        case "tr" =>
          if (indexOf("tr") >= 0) while (size > 0 && !isRowStop(top)) popOne()
        case _ => ()
      }
    }

    def startTag(name: String, attrs: List[(String, String)], selfClosing: Boolean): Unit = {
      nodeBoundary = true
      impliedCloses(name)
      if (name == "br") { if (skipDepth == 0 && buf.nonEmpty) pendingSpace = true; return }
      val isVoid = voidTags.contains(name) || selfClosing
      // inside a skipped subtree every non-skip element is inert: stack
      // bookkeeping only (so end tags match), no flush/boiler/link effects
      if (skipDepth > 0) {
        if (!isVoid) {
          if (skipTags.contains(name)) { skipDepth += 1; push(name, SKIP) }
          else push(name, 0)
        }
        return
      }
      val isBlock = blockTags.contains(name)
      if (isVoid) {
        // void block (hr, or a self-closed one): a flush boundary and an
        // empty element; others are inert
        if (isBlock) {
          flush()
          if (elements) { val f = open(name); if (f != 0) close(f) }
        }
      } else if (skipTags.contains(name)) {
        skipDepth += 1
        push(name, SKIP)
      } else if (isBlock) {
        flush()
        var flag = BLOCK
        if (elements) flag |= open(name)
        if (boilerTags.contains(name) || hasBoilerAttr(attrs)) { flag |= BOILER; boilerDepth += 1 }
        push(name, flag)
        blockTag = name
      } else if (name == "a") {
        linkDepth += 1
        push(name, LINK)
      } else push(name, 0)
    }

    def endTag(name: String): Unit = {
      nodeBoundary = true
      val idx = indexOf(name)
      if (idx >= 0) popThrough(idx)
    }

    def boundary(): Unit = nodeBoundary = true

    def text(src: String, s: Int, e: Int): Unit =
      if (skipDepth == 0) {
        val from = buf.length
        appendRegion(src, s, e)
        if (elements) {
          if (captionsOpen > 0) copyTo(captionText, from)
          if (tables.nonEmpty && tables.last.cellOpen) copyTo(tables.last.cell, from)
        }
      }
  }

  @inline private def isCellStop(n: String): Boolean =
    n == "tr" || n == "table" || n == "tbody" || n == "thead" || n == "tfoot"
  @inline private def isRowStop(n: String): Boolean =
    n == "table" || n == "tbody" || n == "thead" || n == "tfoot"

  private def hasBoilerAttr(attrs: List[(String, String)]): Boolean = {
    var as = attrs
    while (as.nonEmpty) {
      val (k, v) = as.head
      if ((k == "class" || k == "id") && hasBoilerToken(v)) return true
      as = as.tail
    }
    false
  }
}
