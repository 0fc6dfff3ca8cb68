package graft.nlp

import scala.collection.mutable
import graft.extract.PageKernel
import graft.model.Annotation

/**
 * Deterministic rule tokenizer + sentence splitter, replacing the reference's black-box
 * GATE `.gapp` pipeline (/root/reference/src/gate/GateBatch.java:296-305) as the producer
 * of `Token`/`Sentence`/`Number` annotations. Feature names follow the reference's GATE
 * feature vocabulary (string, root, kind, orth, length — serialized at
 * /root/reference/src/gate/GateBatch.java:604-647) so downstream pattern-token labels
 * (":token|string|…") are shaped identically.
 *
 * Pure function of the normalized text — no state, no locale dependence — so per-url
 * annotations are identical at any parallelism.
 */
object Tokenizer {

  final case class Tok(begin: Int, end: Int, kind: String) // word | number | punctuation

  /** Scan the text into word/number/punctuation tokens. Whitespace separates. */
  def scan(text: String): Vector[Tok] = {
    val toks = Vector.newBuilder[Tok]
    var i = 0
    val n = text.length
    while (i < n) {
      val c = text.charAt(i)
      if (Character.isWhitespace(c)) i += 1
      else if (Character.isLetter(c)) {
        var j = i + 1
        while (j < n && Character.isLetter(text.charAt(j))) j += 1
        toks += Tok(i, j, "word"); i = j
      } else if (Character.isDigit(c)) {
        var j = i + 1
        while (j < n && (Character.isDigit(text.charAt(j)) ||
          (text.charAt(j) == '.' && j + 1 < n && Character.isDigit(text.charAt(j + 1)))))
          j += 1
        toks += Tok(i, j, "number"); i = j
      } else {
        toks += Tok(i, i + 1, "punctuation"); i = i + 1
      }
    }
    toks.result()
  }

  /** The `orth` feature values, indexed by [[orthCode]]. */
  private[graft] val OrthNames: Array[String] =
    Array("other", "upperInitial", "allCaps", "lowercase", "mixedCaps")
  private[graft] val AllCaps = 2

  private def orth(s: String): String = OrthNames(orthCode(s))

  /** The `orth` feature of a token, as an index into [[OrthNames]]. */
  private[graft] def orthCode(s: String): Int = {
    // single pass, no intermediate strings (this runs once per word token of the
    // whole corpus): classify the letter subsequence by first-letter case + counts
    var nLetters = 0
    var nUpper = 0
    var nLower = 0
    var firstUpper = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (Character.isLetter(c)) {
        if (nLetters == 0) firstUpper = Character.isUpperCase(c)
        nLetters += 1
        if (Character.isUpperCase(c)) nUpper += 1
        else if (Character.isLowerCase(c)) nLower += 1
      }
      i += 1
    }
    if (nLetters == 0) 0
    else if (nUpper == nLetters) if (nLetters == 1) 1 else AllCaps
    else if (nLower == nLetters) 3
    else if (firstUpper && nUpper == 1 && nLower == nLetters - 1) 1
    else 4
  }

  /** `PageKernel.lowered(s)` with an allocation-free fast path for pure lowercase-ASCII
    * input (the common case for web-corpus tokens); any uppercase-ASCII or
    * non-ASCII char routes to the slow path — byte-identical. */
  private[nlp] def lowerAscii(s: String): String = {
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c >= 'A' && c <= 'Z' || c >= 0x80) return PageKernel.lowered(s)
      i += 1
    }
    s
  }

  /** Sentence boundaries: [.!?]+ runs and newlines end a sentence. Returns (begin,end)
    * spans covering trimmed sentence text. Empty sentences dropped. */
  def sentences(text: String): Vector[(Int, Int)] = {
    val out = Vector.newBuilder[(Int, Int)]
    var start = 0
    var i = 0
    val n = text.length
    def close(endExclusive: Int): Unit = {
      var b = start
      var e = endExclusive
      while (b < e && Character.isWhitespace(text.charAt(b))) b += 1
      while (e > b && Character.isWhitespace(text.charAt(e - 1))) e -= 1
      if (e > b) out += ((b, e))
    }
    while (i < n) {
      val c = text.charAt(i)
      val decimalPoint = c == '.' && i > 0 && i + 1 < n &&
        Character.isDigit(text.charAt(i - 1)) && Character.isDigit(text.charAt(i + 1))
      if ((c == '.' || c == '!' || c == '?') && !decimalPoint) {
        var j = i + 1
        while (j < n && (text.charAt(j) == '.' || text.charAt(j) == '!' || text.charAt(j) == '?'))
          j += 1
        close(i); start = j; i = j
      } else if (c == '\n') { close(i); start = i + 1; i += 1 }
      else i += 1
    }
    close(n)
    out.result()
  }

  /**
   * Produce Token / Number / Sentence annotations for one page's normalized text from
   * its token scan `toks` (`scan(text)`, which the caller shares with the gazetteer and
   * the chunker). Annotation ids are per-doc sequential from 0 in document order —
   * deterministic, replacing the reference's max+1 allocation
   * (src/msa/AutoAnnotate.java:360-361).
   */
  def annotate(url: String, text: String, toks: IndexedSeq[Tok]): Vector[Annotation] = {
    val provenance = "tokenize"
    val out = Vector.newBuilder[Annotation]
    var id = 0
    sentences(text).foreach { case (b, e) =>
      out += Annotation(url, id, "Sentence", b, e, safeValue(text, b, e),
        Map.empty, provenance, 1.0)
      id += 1
    }
    toks.foreach { t =>
      // value + features capped at 500 chars (P4, ref GateBatch.java:555-558) —
      // pathological unbroken runs would otherwise bloat every downstream row
      val v = safeValue(text, t.begin, t.end)
      val feats = mutable.Map[String, String](
        "string" -> v, "root" -> lowerAscii(v), "kind" -> t.kind,
        "length" -> (t.end - t.begin).toString,
        // POS category on every token (reference: GateBatch.java:604-647 serializes
        // `category` in each Token feature map) — the :token|category|* label track
        "category" -> PosTagger.tag(t.kind, v))
      if (t.kind == "word") feats += ("orth" -> orth(v))
      out += Annotation(url, id, "Token", t.begin, t.end, v, feats.toMap, provenance, 1.0)
      id += 1
      if (t.kind == "number") {
        out += Annotation(url, id, "Number", t.begin, t.end, v,
          Map("value" -> v), provenance, 1.0)
        id += 1
      }
    }
    out.result()
  }

  /** Covered text truncated at 500 chars, mirroring the reference's value cap
    * (src/gate/GateBatch.java:555-558). */
  def safeValue(text: String, b: Int, e: Int): String = {
    val v = text.substring(b, e)
    if (v.length > 500) v.substring(0, 500) else v
  }
}
