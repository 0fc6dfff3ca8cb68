package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.align.Grid
import graft.extract.PatternMatcher
import graft.model.Pattern
import graft.nlp.Tokenizer

class PatternMatcherSpec extends AnyFunSuite {

  private def gridOf(text: String): Grid = {
    val anns = Tokenizer.annotate("u", text)
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

  test("cascaded extraction: pattern B fires only after pattern A's target inserted") {
    val g = gridOf("founded in 1999 by Acme")
    val a = Pattern(1, Vector(":token|string|in", Grid.Target), "year", 0, "g", 1, 0, 0, 1)
    // B references A's extraction via the inserted ":year" label
    val b = Pattern(2, Vector(":year", ":token|string|by", Grid.Target),
      "founder", 0, "g", 1, 0, 0, 1)
    val idx = PatternMatcher.buildIndex(Seq(a, b))
    // single pass: only A fires (no :year label exists yet)
    val single = PatternMatcher.matchAllCascaded(g, idx,
      PatternMatcher.Params(cascadeRounds = 1))
    assert(single.map(_.pattern.annotType).toSet === Set("year"))
    // cascade: round 2 sees the inserted :year and B fires on "Acme"
    val casc = PatternMatcher.matchAllCascaded(g, idx,
      PatternMatcher.Params(cascadeRounds = 3))
    assert(casc.map(h => (h.pattern.annotType, h.value)).toSet ===
      Set(("year", "1999"), ("founder", "Acme")))
  }

  test("cascaded pair matching reaches fixpoint and dedups across rounds") {
    val g = gridOf("founded in 1999 by Acme")
    val a = Pattern(1, Vector(":token|string|in", Grid.Target), "year", 0, "g", 1, 0, 0, 1)
    val b = Pattern(2, Vector(":year", ":token|string|by", Grid.Target),
      "founder", 0, "g", 1, 0, 0, 1)
    val tNum = Pattern(11, Vector(":number"), "year", 1, "g", 1, 0, 0, 1)
    val tCap = Pattern(12, Vector(":token|orth|upperinitial"), "founder", 1, "g", 1, 0, 0, 1)
    val idx = PatternMatcher.buildIndex(Seq(a, b))
    val targets = Map(
      "year" -> IndexedSeq(PatternMatcher.compile(tNum)),
      "founder" -> IndexedSeq(PatternMatcher.compile(tCap)))
    val hits = PatternMatcher.matchPairsCascaded(g, idx, targets,
      PatternMatcher.Params(cascadeRounds = 4))
    assert(hits.map(h => (h.context.annotType, h.value)).toSet ===
      Set(("year", "1999"), ("founder", "Acme")))
    assert(hits.size === 2, "cross-round dedup failed")
  }

  test("lenient mode: a missing literal is tolerated within the miss budget") {
    // pattern expects "was officially founded in" but the sentence omits "officially"
    val p = pat(1, ":token|string|was", ":token|string|officially",
      ":token|string|founded", ":token|string|in", Grid.Target)
    val g = gridOf("Acme was founded in 1997")
    val c = PatternMatcher.compile(p)
    // strict: no match — recall 0 on this site
    assert(spans(g, c, PatternMatcher.Params()).isEmpty)
    // lenient budget 1: literal skipped (deletion), target extracted — the recall the
    // reference's hits >= size - maxGaps - 3 gate buys
    val hits = spans(g, c,
      PatternMatcher.Params(maxMissedLiterals = 1))
    assert(hits.contains((20, 24)))
    // substitution variant: a different word in the pattern's slot position
    val gSub = gridOf("Acme was quietly founded in 1997")
    assert(spans(gSub, c, PatternMatcher.Params()).isEmpty)
    assert(spans(gSub, c,
      PatternMatcher.Params(maxMissedLiterals = 1)).contains((28, 32)))
  }

  test("lenient mode: index forwards candidates missing a literal; never literal-free") {
    val p = pat(1, ":token|string|zzz", ":token|string|founded",
      ":token|string|in", Grid.Target)
    val g = gridOf("Acme was founded in 1997")
    val idx = PatternMatcher.buildIndex(Seq(p))
    assert(idx.candidates(g.labelSet).isEmpty)            // strict: zzz absent
    assert(idx.candidates(g.labelSet, missSlack = 1).size === 1)
    // all literals missing stays non-candidate even with slack (floor at 1 present)
    val gNone = gridOf("other words entirely here")
    assert(idx.candidates(gNone.labelSet, missSlack = 2).isEmpty)
    // and matchAll under the lenient budget extracts end-to-end
    val hits = PatternMatcher.matchAll(g, idx,
      PatternMatcher.Params(maxMissedLiterals = 1))
    assert(hits.exists(_.value == "1997"))
  }

  test("pair exclusion list: an excluded high-precision pair never matches") {
    // the reference's `filter` table (sql/ie-mysql.sql:16-20): standing exclusions
    // beat every other gate, including explicit allow-listing
    val ctx = pat(1, ":token|string|founded", ":token|string|in", Grid.Target)
    val tgt = Pattern(11L, Vector(":number"), "T", 1, "g", 1.0, 0, 0, 1)
    val g = gridOf("Acme was founded in 1997")
    val idx = PatternMatcher.buildIndex(Seq(ctx))
    val tgts = Map("T" -> IndexedSeq(PatternMatcher.compile(tgt)))
    val open = PatternMatcher.matchPairs(g, idx, tgts)
    assert(open.exists(_.value == "1997"))
    val excluded = PatternMatcher.matchPairs(g, idx, tgts,
      allowedPairs = Some(Set((1L, 11L))), excludedPairs = Set((1L, 11L)))
    assert(excluded.isEmpty)
    val cascadeExcluded = PatternMatcher.matchPairsCascaded(g, idx, tgts,
      excludedPairs = Set((1L, 11L)))
    assert(cascadeExcluded.isEmpty)
  }

  test("W3 containment mode keeps staggered overlaps; overlap mode drops them") {
    // two contexts produce staggered spans sharing one token: "b c" and "c d"
    val g = gridOf("x a b c d y")
    val ctx1 = pat(1, ":token|string|a", Grid.Target)
    val ctx2 = pat(2, Grid.Target, ":token|string|y")
    val tWW = Pattern(21, Vector(":token|kind|word", ":token|kind|word"),
      "T", 1, "g", 1.0, 0, 0, 1)
    val idx = PatternMatcher.buildIndex(Seq(ctx1, ctx2))
    val targets = Map("T" -> IndexedSeq(PatternMatcher.compile(tWW)))
    // default (overlap) rule: the second staggered span collides and is dropped
    assert(PatternMatcher.matchPairs(g, idx, targets).size === 1)
    // reference rule (containment only, ProfileMatcher.java:705-730): both survive
    val both = PatternMatcher.matchPairs(g, idx, targets,
      PatternMatcher.Params(containmentSuppression = true))
    assert(both.map(_.value).toSet === Set("b c", "c d"))
    // …but a strictly CONTAINED span is still suppressed in containment mode
    val long = pat(3, ":token|string|founded", ":token|string|in", Grid.Target)
    val short = pat(4, ":token|string|in", Grid.Target)
    val idx2 = PatternMatcher.buildIndex(Seq(long, short))
    val g2 = gridOf("Acme was founded in 1997")
    val hits2 = PatternMatcher.matchAll(g2, idx2,
      PatternMatcher.Params(containmentSuppression = true))
    assert(hits2.size === 1 && hits2.head.pattern.profileId === 3)
  }

  test("trailing punct trim and all-caps guard") {
    assert(PatternMatcher.trimTrailingPunct("1997,") === "1997")
    assert(PatternMatcher.trimTrailingPunct("Acme Corp") === "Acme Corp")
    assert(PatternMatcher.isAllCapsSentence(gridOf("NYSE IPO NOW")))
    assert(!PatternMatcher.isAllCapsSentence(gridOf("NYSE lists Acme")))
  }
}
