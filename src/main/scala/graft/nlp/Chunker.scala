package graft.nlp

import graft.extract.PageKernel
import graft.model.Annotation

/**
 * Deterministic rule-based shallow chunker: emits `SyntaxTreeNode` annotations with a
 * `cat` feature (`np` / `vp` / `pp`) over the token stream — the producer for the
 * syntax-level pattern labels the reference's GATE pipeline gets from its parser
 * (annotationTypes incl. SyntaxTreeNode, /root/reference/config/ie.properties;
 * grid rows /root/reference/src/align/GenAnnotationGrid.java:129-374) and that the
 * alignment-quality gates bound (/root/reference/src/msa/MSAUtils.java:17-55).
 *
 * Grammar (closed-class function-word lists, no statistical tagger — a pure function
 * of the token stream, identical at any parallelism):
 *
 *   NP  = [DET] WORD+          a maximal run of non-function word/number tokens,
 *                              optionally opened by a determiner
 *   VP  = AUX+ [WORD(ing|ed)]  a maximal auxiliary/modal run, extended by one
 *                              immediately-following participle-shaped word
 *   PP  = PREP NP              a preposition directly followed by an NP chunk
 *
 * Labels reach grids as `:syntaxtreenode|cat|np` (Grid.build), so learned profiles may
 * anchor on phrase structure.
 */
object Chunker {

  private val Det = Set("the", "a", "an", "this", "that", "these", "those", "its",
    "his", "her", "their", "our", "your", "my", "each", "every", "some", "any", "no")
  private val Prep = Set("of", "in", "on", "at", "by", "for", "with", "from", "to",
    "as", "into", "over", "under", "between", "through", "during", "against", "about")
  private val Aux = Set("is", "are", "was", "were", "be", "being", "been", "am",
    "has", "have", "had", "do", "does", "did", "will", "would", "shall", "should",
    "can", "could", "may", "might", "must")
  private val Conj = Set("and", "or", "but", "nor", "so", "yet")

  private def isFunction(w: String): Boolean =
    Det(w) || Prep(w) || Aux(w) || Conj(w)

  private def participleShaped(w: String): Boolean =
    w.length > 4 && (w.endsWith("ing") || w.endsWith("ed"))

  /** One chunk over token index range [from, until) with its category. */
  final case class Chunk(from: Int, until: Int, cat: String)

  /** The chunk categories [[chunk]] emits. */
  val Cats: Seq[String] = Seq("np", "vp", "pp")

  /** Chunk a token stream (word/number kinds only have content semantics; punctuation
    * breaks every chunk). Chunks come in ascending `from`. */
  def chunk(toks: IndexedSeq[Tokenizer.Tok], text: String): Vector[Chunk] =
    chunk(toks, toks.map(t => PageKernel.lowered(text.substring(t.begin, t.end))))

  /** [[chunk]] over the page's lowered token strings `words`, parallel to `toks`. */
  def chunk(toks: IndexedSeq[Tokenizer.Tok], words: IndexedSeq[String]): Vector[Chunk] = {
    val out = Vector.newBuilder[Chunk]
    val n = toks.size
    var i = 0
    def content(k: Int): Boolean =
      toks(k).kind != "punctuation" && !isFunction(words(k))
    // NP starting at k: [DET] content+ ; returns end index (exclusive) or k
    def npEnd(k: Int): Int = {
      var j = k
      if (j < n && toks(j).kind == "word" && Det(words(j))) j += 1
      val contentStart = j
      while (j < n && content(j)) j += 1
      if (j > contentStart) j else k
    }
    while (i < n) {
      if (toks(i).kind == "punctuation") i += 1
      else if (Aux(words(i))) {
        var j = i + 1
        while (j < n && Aux(words(j))) j += 1
        if (j < n && toks(j).kind == "word" && participleShaped(words(j)) &&
            !isFunction(words(j))) j += 1
        out += Chunk(i, j, "vp"); i = j
      } else if (Prep(words(i))) {
        val e = npEnd(i + 1)
        if (e > i + 1) { out += Chunk(i, e, "pp"); out += Chunk(i + 1, e, "np"); i = e }
        else i += 1
      } else {
        val e = npEnd(i)
        if (e > i) { out += Chunk(i, e, "np"); i = e }
        else i += 1
      }
    }
    out.result()
  }

  /** SyntaxTreeNode annotations for one page's normalized text, over its token scan
    * `toks` (`Tokenizer.scan(text)`). */
  def annotate(url: String, text: String, firstId: Int,
      toks: IndexedSeq[Tokenizer.Tok]): Vector[Annotation] =
    chunk(toks, text).zipWithIndex.map { case (c, k) =>
      val b = toks(c.from).begin
      val e = toks(c.until - 1).end
      Annotation(url, firstId + k, "SyntaxTreeNode", b, e,
        text.substring(b, math.min(e, b + 500)), Map("cat" -> c.cat), "chunker", 1.0)
    }
}
