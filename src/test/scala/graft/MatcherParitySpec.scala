package graft

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.{forAll, propBoolean}
import graft.align.{Grid, GridCol}
import graft.extract.PatternMatcher
import graft.model.Pattern

/**
 * Reference-semantics parity harness (SURVEY.md §5): an independently-written
 * brute-force matcher — no inverted index, no backtracker, no pruning — serves as the
 * single-threaded oracle for PatternMatcher's raw span enumeration, the role the
 * reference's own matching loop would play. Property-checked over randomized grids and
 * patterns so divergence in gap/target/adjacency semantics cannot hide in fixtures.
 */
object NaiveMatcher {

  /** All (targetBegin, targetEnd) char spans where `elems` matches `grid`, by direct
    * enumeration of every (start column, per-element consumption) assignment. */
  def spans(grid: Grid, elems: Vector[String], maxGapSpan: Int,
      maxTargetLen: Int): Set[(Int, Int)] = {
    val cols = grid.cols
    val n = cols.size
    def real(i: Int): Boolean = !(cols(i).has(Grid.Start) || cols(i).has(Grid.End))
    // enumerate: assignment = list of (elemIdx, fromCol, untilCol); returns target spans
    def go(k: Int, ci: Int, anchored: Boolean, tspan: Option[(Int, Int)]): Set[(Int, Int)] =
      if (k == elems.length) tspan.toSet
      else elems(k) match {
        case Grid.Gap =>
          (0 to maxGapSpan).flatMap(skip =>
            if (ci + skip <= n) go(k + 1, ci + skip, anchored = true, tspan)
            else Set.empty[(Int, Int)]).toSet
        case Grid.Target =>
          val starts = if (anchored) Seq(ci) else 0 until n
          starts.flatMap { s =>
            (1 to maxTargetLen).flatMap { len =>
              if (s + len <= n && (s until s + len).forall(real))
                go(k + 1, s + len, anchored = true,
                  Some((cols(s).begin, cols(s + len - 1).end)))
              else Set.empty[(Int, Int)]
            }
          }.toSet
        case lit =>
          val starts = if (anchored) Seq(ci) else 0 until n
          starts.flatMap(s =>
            if (s < n && cols(s).has(lit)) go(k + 1, s + 1, anchored = true, tspan)
            else Set.empty[(Int, Int)]).toSet
      }
    go(0, 0, anchored = false, None)
  }
}

class MatcherParitySpec extends Properties("MatcherParity") {

  private val labelPool = Vector(":a", ":b", ":c", ":d")

  private val gridGen: Gen[Grid] = for {
    nCols <- Gen.choose(2, 9)
    cols <- Gen.listOfN(nCols, Gen.someOf(labelPool).map(_.toVector))
  } yield {
    val body = cols.zipWithIndex.map { case (ls, i) =>
      // every column is a real token (begin < end), labels possibly empty
      GridCol(i * 2, i * 2 + 1, ls.toArray, s"t$i")
    }.toVector
    Grid("u", 0, nCols * 2,
      GridCol(0, 0, Array(Grid.Start)) +: body :+ GridCol(nCols * 2, nCols * 2, Array(Grid.End)))
  }

  private val patternGen: Gen[Vector[String]] = for {
    nPre <- Gen.choose(0, 2)
    pre <- Gen.listOfN(nPre, Gen.oneOf(labelPool :+ Grid.Gap))
    nPost <- Gen.choose(0, 2)
    post <- Gen.listOfN(nPost, Gen.oneOf(labelPool :+ Grid.Gap))
  } yield (pre :+ Grid.Target) ++: post.toVector

  property("raw enumeration == independent brute-force oracle") =
    forAll(gridGen, patternGen) { (grid: Grid, toks: Vector[String]) =>
      val p = Pattern(1L, toks, "T", 0, "g", 1.0, 0, 0, 1)
      val prm = PatternMatcher.Params(maxGapSpan = 2, maxTargetLen = 3)
      val got = PatternMatcher
        .matchOneFull(grid, PatternMatcher.compile(p), prm, minimalTarget = false)
        .map(s => (s.tb, s.te)).toSet
      val want = NaiveMatcher.spans(grid,
        PatternMatcher.compile(p).elems, prm.maxGapSpan, prm.maxTargetLen)
      (got == want) :| s"got=$got want=$want pattern=$toks"
    }

  /** Independent target-coverage check (BFS over (elemIdx, colIdx) states — a
    * different implementation style from targetMatches' recursion). */
  private def naiveCovers(grid: Grid, from: Int, until: Int, elems: Vector[String],
      maxGap: Int): Boolean = {
    if (from >= until) return false
    var states = Set((0, from))
    var seen = states
    while (states.nonEmpty) {
      states = states.flatMap { case (k, ci) =>
        if (k == elems.length) Set.empty[(Int, Int)]
        else elems(k) match {
          case Grid.Gap => (1 to maxGap).map(sk => (k + 1, ci + sk))
            .filter(_._2 <= until).toSet
          case l if ci < until && grid.cols(ci).has(l) => Set((k + 1, ci + 1))
          case _ => Set.empty[(Int, Int)]
        }
      } -- seen
      seen ++= states
    }
    seen.contains((elems.length, until))
  }

  private val targetPatGen: Gen[Vector[String]] = for {
    n <- Gen.choose(1, 3)
    ts <- Gen.listOfN(n, Gen.oneOf(labelPool :+ Grid.Gap))
  } yield ts.toVector

  // NOTE: context patterns need ≥1 literal label — the inverted index deliberately
  // never yields literal-free patterns as candidates (a bare ":target" would match
  // every token of every sentence; the reference's index has the same property since
  // a profile with no indexable tokens cannot be posted).
  private val ctxPatGen: Gen[Vector[String]] =
    patternGen.suchThat(ts => ts.exists(t => t != Grid.Gap && t != Grid.Target))

  property("pair matching == raw spans filtered by independent target coverage") =
    forAll(gridGen, ctxPatGen, targetPatGen) {
      (grid: Grid, ctxToks: Vector[String], tgtToks: Vector[String]) =>
        val prm = PatternMatcher.Params(maxGapSpan = 2, maxTargetLen = 3)
        val ctx = Pattern(1L, ctxToks, "T", 0, "g", 1.0, 0, 0, 1)
        val tgt = Pattern(2L, tgtToks, "T", 1, "g", 1.0, 0, 0, 1)
        val got = PatternMatcher.matchPairs(grid, PatternMatcher.buildIndex(Seq(ctx)),
            Map("T" -> IndexedSeq(PatternMatcher.compile(tgt))), prm,
            suppressOverlaps = false)
          .map(h => (h.targetBegin, h.targetEnd)).toSet
        val cols = grid.cols
        val want = NaiveMatcher.spans(grid, PatternMatcher.compile(ctx).elems,
            prm.maxGapSpan, prm.maxTargetLen)
          .filter { case (tb, te) =>
            val from = cols.indexWhere(c => c.begin == tb && c.end > c.begin)
            val until = cols.lastIndexWhere(c => c.end == te && c.end > c.begin) + 1
            from >= 0 && until > from &&
              naiveCovers(grid, from, until, PatternMatcher.compile(tgt).elems,
                prm.maxGapSpan)
          }
        (got == want) :| s"got=$got want=$want ctx=$ctxToks tgt=$tgtToks"
    }
}
