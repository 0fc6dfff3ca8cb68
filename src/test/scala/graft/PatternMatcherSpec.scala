package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.align.Grid
import graft.extract.PatternMatcher
import graft.model.Pattern
import graft.nlp.Tokenizer

class PatternMatcherSpec extends AnyFunSuite {

  private def gridOf(text: String): Grid = {
    val anns = Tokenizer.annotate("u", text, Tokenizer.scan(text))
    Grid.build("u", 0, text.length, anns.filter(_.annotType != "Sentence"))
  }

  private def pat(id: Long, toks: String*): Pattern =
    Pattern(id, toks.toVector, "T", 0, "g", 1.0, 0, 0, 1)

  /** All raw target spans (char offsets) for one compiled pattern on one grid. */
  private def spans(g: Grid, c: PatternMatcher.Compiled,
      prm: PatternMatcher.Params = PatternMatcher.Params()): Vector[(Int, Int)] =
    PatternMatcher.matchOneFull(g, c, prm).map(s => (s.tb, s.te))

  test("exact adjacent match extracts the target span") {
    val g = gridOf("Acme was founded in 1997")
    val p = pat(1, ":token|string|founded", ":token|string|in", Grid.Target)
    val hits = spans(g, PatternMatcher.compile(p))
    // target candidates: "1997" (1 col) and "1997"+:end blocked (sentinel) → spans
    assert(hits.contains((20, 24)))
    assert(hits.forall { case (b, e) => b == 20 })
  }

  test("gap wildcard spans 0..maxGapSpan columns") {
    val p = pat(1, ":token|string|founded", Grid.Gap, Grid.Target)
    val g0 = gridOf("it was founded 2001")        // gap 0
    val g2 = gridOf("it was founded back in 2001") // gap 2
    def firstVals(g: Grid, text: String) =
      spans(g, PatternMatcher.compile(p))
        .map { case (b, e) => text.substring(b, e) }
    assert(firstVals(g0, "it was founded 2001").contains("2001"))
    assert(firstVals(g2, "it was founded back in 2001").contains("2001"))
  }

  test("target slot may span multiple tokens") {
    val g = gridOf("met with John Smith today")
    val p = pat(1, ":token|string|with", Grid.Target, ":token|string|today")
    val hits = spans(g, PatternMatcher.compile(p))
    assert(hits === Vector((9, 19))) // exactly "John Smith"
  }

  test("a long sentence matches on its first 300 tokens only") {
    val toks = Array.fill(400)("a")
    toks(100) = "word"; toks(101) = "1997"
    toks(350) = "word"; toks(351) = "1998"
    val text = toks.mkString(" ")
    val hits = spans(gridOf(text),
      PatternMatcher.compile(pat(1, ":token|string|word", Grid.Target)))
    assert(hits.exists(_._1 == text.indexOf("1997")), "the hit inside the cap must match")
    assert(hits.forall(_._1 < text.indexOf("1998")), "the hit past the cap must not")
  }

  test("inverted index prunes patterns with absent literals") {
    val ps = Seq(
      pat(1, ":token|string|founded", Grid.Target),
      pat(2, ":token|string|acquired", Grid.Target))
    val idx = PatternMatcher.buildIndex(ps)
    val g = gridOf("Acme was founded in 1997")
    val hits = PatternMatcher.matchAll(g, idx)
    assert(hits.map(_.pattern.profileId).distinct === Vector(1))
  }

  test("overlap suppression keeps longest-pattern-first, drops contained targets") {
    val long = pat(1, ":token|string|founded", ":token|string|in", Grid.Target)
    val short = pat(2, ":token|string|in", Grid.Target)
    val idx = PatternMatcher.buildIndex(Seq(long, short))
    val g = gridOf("Acme was founded in 1997")
    val hits = PatternMatcher.matchAll(g, idx)
    assert(hits.size === 1)
    assert(hits.head.pattern.profileId === 1)
  }

  test("pair model: target profile decides the extent; per-pair gate filters") {
    val g = gridOf("Acme was founded in 1997")
    val ctx = pat(1, ":token|string|in", Grid.Target)
    val tNum = Pattern(11, Vector(":number"), "T", 1, "g", 1.0, 0, 0, 1)
    val tWord = Pattern(12, Vector(":token|kind|word"), "T", 1, "g", 1.0, 0, 0, 1)
    val idx = PatternMatcher.buildIndex(Seq(ctx))
    val targets = Map("T" -> IndexedSeq(tNum, tWord).map(PatternMatcher.compile))
    // raw (stats) mode: only the numeric target matches "1997"
    val raw = PatternMatcher.matchPairs(g, idx, targets, suppressOverlaps = false)
    assert(raw.map(h => (h.context.profileId, h.target.profileId, h.value)) ===
      Vector((1L, 11L, "1997")))
    // per-pair extraction gate: disallowing (1,11) kills the only hit
    val gated = PatternMatcher.matchPairs(g, idx, targets,
      allowedPairs = Some(Set((1L, 12L))))
    assert(gated.isEmpty)
  }

  test("pair model: multi-token target profile must cover the span exactly") {
    val g = gridOf("located in New York City now")
    val ctx = pat(1, ":token|string|in", Grid.Target)
    val t2 = Pattern(21, Vector(":token|orth|upperinitial", ":token|orth|upperinitial"),
      "T", 1, "g", 1.0, 0, 0, 1)
    val idx = PatternMatcher.buildIndex(Seq(ctx))
    val targets = Map("T" -> IndexedSeq(PatternMatcher.compile(t2)))
    val raw = PatternMatcher.matchPairs(g, idx, targets, suppressOverlaps = false)
    // exactly the two-token span "New York" — not 1- or 3-token candidates
    assert(raw.map(_.value) === Vector("New York"))
  }

  test("pair model: span at the sentence edge is not polluted by sentinels") {
    // target is the LAST token — the zero-width :end sentinel shares its char offset
    val g = gridOf("founded in 1997")
    val ctx = pat(1, ":token|string|in", Grid.Target)
    val tNum = Pattern(11, Vector(":number"), "T", 1, "g", 1.0, 0, 0, 1)
    val idx = PatternMatcher.buildIndex(Seq(ctx))
    val targets = Map("T" -> IndexedSeq(PatternMatcher.compile(tNum)))
    val raw = PatternMatcher.matchPairs(g, idx, targets, suppressOverlaps = false)
    assert(raw.map(_.value) === Vector("1997"))
  }

  test("pair matching drops a staggered span overlapping an accepted one") {
    // two contexts produce staggered spans sharing one token: "b c" and "c d"
    val g = gridOf("x a b c d y")
    val ctx1 = pat(1, ":token|string|a", Grid.Target)
    val ctx2 = pat(2, Grid.Target, ":token|string|y")
    val tWW = Pattern(21, Vector(":token|kind|word", ":token|kind|word"),
      "T", 1, "g", 1.0, 0, 0, 1)
    val idx = PatternMatcher.buildIndex(Seq(ctx1, ctx2))
    val targets = Map("T" -> IndexedSeq(PatternMatcher.compile(tWW)))
    // the second staggered span collides and is dropped
    assert(PatternMatcher.matchPairs(g, idx, targets).size === 1)
    // a strictly CONTAINED span is suppressed too
    val long = pat(3, ":token|string|founded", ":token|string|in", Grid.Target)
    val short = pat(4, ":token|string|in", Grid.Target)
    val idx2 = PatternMatcher.buildIndex(Seq(long, short))
    val g2 = gridOf("Acme was founded in 1997")
    val hits2 = PatternMatcher.matchAll(g2, idx2)
    assert(hits2.size === 1 && hits2.head.pattern.profileId === 3)
  }

  test("trailing punct trim and all-caps guard") {
    assert(PatternMatcher.trimTrailingPunct("1997,") === "1997")
    assert(PatternMatcher.trimTrailingPunct("Acme Corp") === "Acme Corp")
    assert(PatternMatcher.isAllCapsSentence(gridOf("NYSE IPO NOW")))
    assert(!PatternMatcher.isAllCapsSentence(gridOf("NYSE lists Acme")))
  }
}
