package graft.functions

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Generic HTML main-content extraction (boilerplate removal) — the
  * first transform of an open-crawl curation pipeline, generalizing the
  * reference's config-known page parsers (src/scrapers/list_parser.py:34-81,
  * src/scrapers/detail_parser.py:18-122 assume a selector vocabulary per
  * site; an open crawl has none) with the published content-extraction
  * heuristic family (Kohlschütter et al. "Boilerplate Detection using
  * Shallow Text Features", WSDM 2010; trafilatura): segment the page into
  * text blocks at block-level tag boundaries, then keep a block iff it
  * looks like prose rather than chrome.
  *
  * One O(n) pass, no DOM: a lenient tag lexer (quote-aware attribute
  * skipping, comment/doctype/PI skipping, raw-text `script`/`style`/...
  * consumption, entity decoding, whitespace collapsing) that accumulates
  * per-block visible text and anchor-text length. Real-world HTML is not
  * well-formed XML, so the [[XmlFields]] DocumentBuilder path cannot host
  * this; the lexer never throws on arbitrary input (corrupt markup is
  * DATA — fuzz-propertied like the media header parsers).
  *
  * Deterministic keep rules (both integer-exact, so an oracle can replay
  * the decision arithmetically):
  *  - semantic drop containers (`nav`/`header`/`footer`/`aside`/`head`/
  *    `form`/...) contribute no blocks at any nesting depth;
  *  - a block is main content iff its collapsed text has at least
  *    [[HtmlContent.MinBlockChars]] chars AND its link density is at most
  *    1/3 (`3 * anchorChars <= textChars`).
  *
  * Output: struct(text = kept blocks joined by '\n', kept, blocks). At
  * 100 TB the stage is map-only expression work — filters and projections
  * around it still push to the scan; the expression stays inside
  * whole-stage codegen via the static-helper call (the [[MediaHeader]]
  * shape).
  */
object HtmlContent {

  /** Minimum collapsed-text length for a main-content block. */
  val MinBlockChars = 25

  val schema: StructType = StructType(Seq(
    StructField("text", StringType, nullable = false),
    StructField("kept", IntegerType, nullable = false),
    StructField("blocks", IntegerType, nullable = false)))

  /** Containers whose subtree is never content. Raw-text elements are
    * handled by the lexer itself (their bodies are consumed wholesale),
    * so they are deliberately NOT here — a stray close tag of a raw-text
    * element must not unbalance a semantic container's depth. */
  private val DropTags: Set[String] = Set(
    "nav", "header", "footer", "aside", "head", "form", "iframe", "svg",
    "template", "button", "select", "datalist", "object")

  /** Elements whose body is opaque text consumed up to the matching close
    * tag (never content; `<` inside them is not markup). */
  private val RawTextTags: Set[String] = Set(
    "script", "style", "noscript", "textarea", "title")

  /** Block-level boundaries: opening or closing one flushes the current
    * text run as a block. */
  private val BlockTags: Set[String] = Set(
    "p", "div", "section", "article", "main", "body", "li", "ul", "ol",
    "h1", "h2", "h3", "h4", "h5", "h6", "td", "th", "tr", "table",
    "thead", "tbody", "tfoot", "blockquote", "pre", "br", "hr", "dl",
    "dt", "dd", "figure", "figcaption", "details", "summary", "address",
    "center", "caption", "fieldset")

  /** Codegen/eval entry: never returns null, never throws. */
  def extractRow(html: UTF8String): InternalRow = {
    val (text, kept, total) = extract(html.toString)
    new GenericInternalRow(
      Array[Any](UTF8String.fromString(text), kept, total))
  }

  /** (main text, kept block count, total non-empty block count). */
  def extract(s: String): (String, Int, Int) = {
    val n = s.length
    var i = 0
    var dropDepth = 0
    var anchorDepth = 0
    var pendingSpace = false
    var linkChars = 0
    val sb = new java.lang.StringBuilder
    val texts = ArrayBuffer.empty[String]
    val links = ArrayBuffer.empty[Int]

    def flush(): Unit = {
      if (sb.length > 0) { texts += sb.toString; links += linkChars }
      sb.setLength(0); linkChars = 0; pendingSpace = false
    }

    // collapsed emission: whitespace runs become one ' ' between visible
    // chars; leading/trailing whitespace never materializes
    def emit(cp: Int): Unit = {
      if (dropDepth > 0) return
      if (cp == ' ' || cp == '\t' || cp == '\n' || cp == '\r' ||
          cp == '\f' || cp == 0xa0) {
        pendingSpace = true
      } else {
        if (pendingSpace && sb.length > 0) {
          sb.append(' ')
          if (anchorDepth > 0) linkChars += 1
        }
        pendingSpace = false
        val before = sb.length
        sb.appendCodePoint(cp)
        if (anchorDepth > 0) linkChars += sb.length - before
      }
    }

    // decode &amp; &lt; &gt; &quot; &apos; &nbsp; and numeric refs; an
    // unknown/malformed entity emits a literal '&' and is NOT swallowed
    def entityAt(i0: Int): Int = {
      val semi = s.indexOf(';', i0 + 1)
      if (semi < 0 || semi - i0 > 10) { emit('&'); return i0 + 1 }
      val body = s.substring(i0 + 1, semi)
      val cp = body match {
        case "amp" => '&'.toInt
        case "lt" => '<'.toInt
        case "gt" => '>'.toInt
        case "quot" => '"'.toInt
        case "apos" => '\''.toInt
        case "nbsp" => 0xa0
        case _ =>
          if (body.length >= 2 && body.charAt(0) == '#') {
            try {
              val v =
                if (body.charAt(1) == 'x' || body.charAt(1) == 'X')
                  Integer.parseInt(body.substring(2), 16)
                else Integer.parseInt(body.substring(1))
              if (v > 0 && Character.isValidCodePoint(v)) v else -1
            } catch { case _: NumberFormatException => -1 }
          } else -1
      }
      if (cp < 0) { emit('&'); i0 + 1 } else { emit(cp); semi + 1 }
    }

    def isAsciiLetter(c: Char): Boolean =
      (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')

    while (i < n) {
      val c = s.charAt(i)
      if (c == '<') {
        if (s.startsWith("<!--", i)) {
          val e = s.indexOf("-->", i + 4)
          i = if (e < 0) n else e + 3
        } else if (i + 1 < n && (s.charAt(i + 1) == '!' || s.charAt(i + 1) == '?')) {
          val e = s.indexOf('>', i)
          i = if (e < 0) n else e + 1
        } else {
          val closing = i + 1 < n && s.charAt(i + 1) == '/'
          val nameStart = if (closing) i + 2 else i + 1
          if (nameStart >= n || !isAsciiLetter(s.charAt(nameStart))) {
            // "<" before a non-letter is text, not markup (lenient HTML)
            emit('<'); i += 1
          } else {
            var j = nameStart
            while (j < n && (isAsciiLetter(s.charAt(j)) ||
                (s.charAt(j) >= '0' && s.charAt(j) <= '9'))) j += 1
            val name = s.substring(nameStart, j).toLowerCase(java.util.Locale.ROOT)
            // attribute scan, quote-aware ('>' inside a quoted value is data)
            var selfClose = false
            var quote = 0.toChar
            var k = j
            var done = false
            while (k < n && !done) {
              val ch = s.charAt(k)
              if (quote != 0) { if (ch == quote) quote = 0 }
              else if (ch == '"' || ch == '\'') quote = ch
              else if (ch == '>') {
                selfClose = k > j && s.charAt(k - 1) == '/'
                done = true
              }
              k += 1
            }
            i = k
            if (!closing && RawTextTags.contains(name)) {
              // consume the opaque body to the matching close tag
              var e = i
              var found = -1
              while (found < 0 && e < n) {
                val idx = s.indexOf("</", e)
                if (idx < 0) e = n
                else if (idx + 2 + name.length <= n &&
                    s.regionMatches(true, idx + 2, name, 0, name.length)) found = idx
                else e = idx + 2
              }
              if (found < 0) i = n
              else {
                val ge = s.indexOf('>', found)
                i = if (ge < 0) n else ge + 1
              }
            } else if (name == "a") {
              if (closing) anchorDepth = math.max(0, anchorDepth - 1)
              else if (!selfClose) anchorDepth += 1
            } else if (DropTags.contains(name)) {
              flush()
              if (closing) dropDepth = math.max(0, dropDepth - 1)
              else if (!selfClose) dropDepth += 1
            } else if (BlockTags.contains(name)) {
              flush()
            }
          }
        }
      } else if (c == '&') {
        i = entityAt(i)
      } else {
        val cp = s.codePointAt(i)
        emit(cp)
        i += Character.charCount(cp)
      }
    }
    flush()

    val out = new java.lang.StringBuilder
    var kept = 0
    var b = 0
    while (b < texts.length) {
      val t = texts(b)
      if (t.length >= MinBlockChars && 3 * links(b) <= t.length) {
        if (out.length > 0) out.append('\n')
        out.append(t)
        kept += 1
      }
      b += 1
    }
    (out.toString, kept, texts.length)
  }
}

/** `graft_main_content(html) -> struct(text, kept, blocks)` — the
  * [[HtmlContent]] extractor as a codegen expression (static-helper call,
  * the [[MediaHeader]] shape; NULL input yields NULL). */
case class HtmlMainContent(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_main_content expects a string column, got ${other.sql}")
  }

  override def dataType: DataType = HtmlContent.schema
  override def prettyName: String = "graft_main_content"
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any =
    HtmlContent.extractRow(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HtmlContent.extractRow($c)")

  override protected def withNewChildInternal(newChild: Expression): HtmlMainContent =
    copy(child = newChild)
}

/** Column-level entry point. */
object HtmlFunctions {
  def mainContent(html: Column): Column =
    ColumnBridge.column(HtmlMainContent(ColumnBridge.expression(html)))
}
