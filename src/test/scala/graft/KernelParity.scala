package graft

import graft.align.GridCol
import graft.extract.{PageKernel, PatternMatcher}
import graft.mention.Sentences
import graft.model.Pattern
import graft.nlp.{Annotate, Gazetteer}

/** The page kernel's two producers of its sentences, held to each other: the token scan
  * [[PageKernel.scan]] and the annotation path it replaced, `annotateOne` →
  * `Sentences.group` → `Grid.build`. */
object KernelParity {

  /** The annotation path's sentences of one page. */
  def oracle(url: String, text: String, gaz: Gazetteer,
      withChunks: Boolean): Vector[PageKernel.Sentence] =
    Sentences.group(url, Annotate.annotateOne(url, text, gaz, withChunks))
      .map(PageKernel.sentenceOf)

  private def col(c: GridCol): (Int, Int, String, Seq[String], Seq[Int], Seq[Int]) =
    (c.begin, c.end, c.text, c.labels.toSeq, Option(c.spans).map(_.toSeq).orNull,
      Option(c.offs).map(_.toSeq).orNull)

  private def tokens(s: PageKernel.Sentence): Seq[(Int, Int, String, String)] =
    (s.from until s.until).map(i => (s.tokBegins(i), s.tokEnds(i), s.values(i), s.lowered(i)))

  /** Where the two sentence lists differ, column by column; empty when they agree. */
  def diff(got: Seq[PageKernel.Sentence], want: Seq[PageKernel.Sentence]): Seq[String] =
    if (got.size != want.size)
      Seq(s"${got.size} sentences, want ${want.size}: " +
        s"${got.map(s => (s.begin, s.end))} vs ${want.map(s => (s.begin, s.end))}")
    else got.zip(want).flatMap { case (g, w) =>
      val at = s"sentence [${w.begin}, ${w.end})"
      def check(what: String, a: Any, b: Any): Option[String] =
        if (a == b) None else Some(s"$at $what: $a, want $b")
      Seq(
        check("url", g.url, w.url),
        check("bounds", (g.begin, g.end), (w.begin, w.end)),
        check("grid bounds", (g.grid.sentBegin, g.grid.sentEnd),
          (w.grid.sentBegin, w.grid.sentEnd)),
        check("columns", g.grid.cols.size, w.grid.cols.size),
        check("lookupSpans", g.grid.lookupSpans, w.grid.lookupSpans),
        check("all caps", g.allCaps, w.allCaps),
        check("all caps of the grid", g.allCaps, PatternMatcher.isAllCapsSentence(w.grid)),
        check("tokens", tokens(g), tokens(w)),
        check("entities", g.entities.toSeq, w.entities.toSeq)).flatten ++
      g.grid.cols.zip(w.grid.cols).zipWithIndex.flatMap { case ((a, b), i) =>
        check(s"column $i", col(a), col(b))
      }
    }

  def pattern(id: Long, annotType: String, profileType: Int, toks: String*): Pattern =
    Pattern(id, toks, annotType, profileType, "g", 1.0, 0, 0, 0)

  /** Target profiles and gated pairs of [[kernel]]. */
  private val targets = Seq(pattern(2, "year", 1, ":number"),
    pattern(4, "emp", 1, ":number"), pattern(6, "hq", 1, ":lookup|majortype|city"),
    pattern(8, "hq", 1, ":token|kind|word"))

  /** A hand-set kernel over `gaz`: a plain and a two-slot relation pattern, a veto,
    * dictionary entries and, `withSyntax`, a pattern on a chunk label (so the kernel
    * chunks its pages). */
  def kernel(withSyntax: Boolean,
      gaz: Gazetteer = graft.testgen.CorpusGen.gazetteer): PageKernel = {
    val plain = Seq(pattern(1, "year", 0, ":token|string|in", ":target"),
      pattern(5, "hq", 0, ":token|string|in", ":target")) ++
      (if (withSyntax) Seq(pattern(7, "hq", 0, ":syntaxtreenode|cat|np",
        ":token|string|is", ":target")) else Nil)
    val rel = Seq(pattern(3, "emp", 0, ":subject", ":token|string|employs", ":target"))
    PageKernel(rel, plain, targets,
      Map((1L, 2L) -> 0.9, (3L, 4L) -> 0.8, (5L, 6L) -> 0.7, (7L, 8L) -> 0.6),
      Map(("year", "1999") -> -1L), Seq(("hq", "gotham", 9000L), ("filler", "the", 5000L),
        ("filler", "market", 5000L)), gaz, PatternMatcher.Params())
  }
}
