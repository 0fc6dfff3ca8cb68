package graft.ingest

import scala.collection.mutable

import graft.extract.PageKernel

/**
 * Deterministic HTML → text extraction (no external parser; frozen by golden hashes).
 *
 * The reference never parses HTML (its doc_text is already plain text; its only
 * transforms are trim/strip-\r/alnum-gate, /root/reference/src/gate/GateBatch.java:327-352).
 * For the Common-Crawl-style input table the html→text function is therefore defined BY
 * THIS REPO and frozen: a single-pass, allocation-light state machine with fixed
 * whitespace rules, so the per-url output is byte-identical across runs, partitionings,
 * and parallelism levels. Golden SHA-256 tests pin it.
 *
 * Rules:
 *  - `<script>`/`<style>` contents dropped entirely.
 *  - Block-level tags (p, div, br, li, tr, h1-h6, table, ul, ol, section, article,
 *    header, footer, title, blockquote, pre) emit a newline; other tags emit nothing.
 *  - Comments `<!-- -->` dropped; entities `&amp; &lt; &gt; &quot; &apos; &nbsp; &#NN;`
 *    decoded; unknown entities passed through literally.
 *  - Runs of spaces/tabs collapse to one space; runs of newlines collapse to one.
 */
object HtmlText {
  private val BlockTags: Set[String] = Set(
    "p", "div", "br", "li", "tr", "h1", "h2", "h3", "h4", "h5", "h6", "table",
    "ul", "ol", "section", "article", "header", "footer", "title", "blockquote", "pre")

  def extract(htmlBytes: Array[Byte]): String =
    extract(new String(htmlBytes, java.nio.charset.StandardCharsets.UTF_8))

  def extract(html: String): String = {
    val out = new mutable.StringBuilder(html.length)
    var i = 0
    val n = html.length
    var skipUntil: String = null // closing tag name we are skipping to (script/style)
    var lastWasSpace = true      // collapse leading/duplicate spaces
    var lastWasNewline = true    // collapse duplicate newlines

    def emitChar(c: Char): Unit = {
      if (c == '\n') {
        if (!lastWasNewline) {
          // trim trailing space before a newline
          while (out.nonEmpty && out.last == ' ') out.setLength(out.length - 1)
          out.append('\n'); lastWasNewline = true; lastWasSpace = true
        }
      } else if (c == ' ' || c == '\t' || c == '\r') {
        if (!lastWasSpace) { out.append(' '); lastWasSpace = true }
      } else {
        out.append(c); lastWasSpace = false; lastWasNewline = false
      }
    }

    while (i < n) {
      val c = html.charAt(i)
      if (skipUntil != null) {
        if (c == '<' && i + 1 < n && html.charAt(i + 1) == '/') {
          val close = i + 2
          val end = html.indexOf('>', close)
          if (end > 0 && html.substring(close, end).trim.equalsIgnoreCase(skipUntil)) {
            skipUntil = null; i = end + 1
          } else i += 1
        } else i += 1
      } else if (c == '<') {
        if (html.startsWith("<!--", i)) {
          val end = html.indexOf("-->", i + 4)
          i = if (end < 0) n else end + 3
        } else {
          val end = html.indexOf('>', i + 1)
          if (end < 0) { i = n } // malformed tail: drop
          else {
            val body = html.substring(i + 1, end)
            val name = PageKernel.lowered(body
              .takeWhile(ch => ch != ' ' && ch != '\t' && ch != '\n' && ch != '/')
              .stripPrefix("/"))
            if ((name == "script" || name == "style") && !body.startsWith("/") &&
                !body.endsWith("/")) skipUntil = name
            if (BlockTags.contains(name)) emitChar('\n')
            i = end + 1
          }
        }
      } else if (c == '&') {
        val semi = html.indexOf(';', i + 1)
        if (semi > i && semi - i <= 8) {
          html.substring(i + 1, semi) match {
            case "amp"  => emitChar('&'); i = semi + 1
            case "lt"   => emitChar('<'); i = semi + 1
            case "gt"   => emitChar('>'); i = semi + 1
            case "quot" => emitChar('"'); i = semi + 1
            case "apos" => emitChar('\''); i = semi + 1
            case "nbsp" => emitChar(' '); i = semi + 1
            case e if e.startsWith("#") && e.drop(1).forall(_.isDigit) && e.length > 1 =>
              val cp = e.drop(1).toInt
              if (cp > 0 && cp <= 0xFFFF) emitChar(cp.toChar)
              i = semi + 1
            case _ => emitChar('&'); i += 1
          }
        } else { emitChar('&'); i += 1 }
      } else if (c == '\n') { emitChar('\n'); i += 1 }
      else { emitChar(c); i += 1 }
    }
    // strip trailing whitespace (Normalize.trim would do it anyway; keep output canonical)
    var len = out.length
    while (len > 0 && (out.charAt(len - 1) == ' ' || out.charAt(len - 1) == '\n'))
      len -= 1
    out.substring(0, len)
  }

  /** Full page path: html bytes → text → reference normalization (trim/\r/alnum + \n). */
  def extractNormalized(htmlBytes: Array[Byte]): Option[String] =
    Normalize.normalize(extract(htmlBytes))
}
