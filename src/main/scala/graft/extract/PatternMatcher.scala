package graft.extract

import scala.collection.mutable
import graft.align.{Grid, GridCol}
import graft.model.Pattern

/**
 * Pattern → sentence matching, the extraction kernel. Capability-equivalent to the
 * reference's ProfileMatcher.matchProfile / MSAUtils.matchProfile2
 * (/root/reference/src/msa/ProfileMatcher.java:98-858, src/msa/MSAUtils.java:207-501):
 * a pattern is a label sequence with one `:target` slot and `:gap` wildcards; matching
 * enumerates every assignment of pattern elements to increasing grid columns where
 * non-gap neighbours are consecutive, a `:gap` spans 1..maxGapSpan columns, and the
 * target slot consumes 1..maxTargetLen columns. Candidate pruning uses a counting
 * inverted index over labels (ref ProfileInvertedIndex.java:147-336 semantics: a pattern
 * is only attempted when all its literal labels occur in the sentence). Overlapping
 * matches are suppressed longest-pattern-first then leftmost-shortest (ref
 * ProfileMatcher.java:705-730 + longest-first ordering ProfileReader.java:354-383).
 *
 * Pure Scala, deterministic; runs inside mapPartitions with the compiled pattern set
 * broadcast (the north rule's executor-side automaton).
 */
object PatternMatcher {

  /** @param cascadeRounds extraction fixpoint bound: accepted targets are re-inserted
    *        into the grid as annotation labels and matching repeats, so patterns may
    *        reference earlier extractions (ref ProfileMatcher.java:773-820, do-while
    *        :205-848). 1 = single pass (no cascade).
    * @param maxMissedLiterals the reference's LENIENT mode (candidate gate
    *        `hits >= size - maxGaps - 3`, ProfileInvertedIndex.java:308-333, with the
    *        aligner tolerating unmatched pattern tokens inside `matchCoords >=
    *        gridSize - maxGaps`, MSAUtils.java:471): up to N literal elements may go
    *        unmatched — skipped outright or consuming one non-matching column — and
    *        the inverted index forwards candidates missing up to N literals. At least
    *        one literal must still match. 0 (default) = strict exact matching.
    * @param containmentSuppression W3 suppression rule: false (default) drops a hit
    *        whose target span OVERLAPS an accepted one; true replays the reference's
    *        exact rule — drop only when the span is CONTAINED in an accepted span
    *        (ref targetRangeList, /root/reference/src/msa/ProfileMatcher.java:705-730),
    *        so partially-overlapping staggered hits survive. */
  final case class Params(maxGapSpan: Int = 3, maxTargetLen: Int = 5, maxGridLen: Int = 300,
      cascadeRounds: Int = 1, maxMissedLiterals: Int = 0,
      containmentSuppression: Boolean = false)

  /** W3 suppression predicate between an accepted span [ab,ae) and a new span [b,e). */
  private def collides(prm: Params, ab: Int, ae: Int, b: Int, e: Int): Boolean =
    if (prm.containmentSuppression) ab <= b && ae >= e
    else ab < e && ae > b

  final case class Compiled(pattern: Pattern, elems: Vector[String], literals: Vector[String])

  final case class Hit(pattern: Pattern, targetBegin: Int, targetEnd: Int, value: String,
      subjBegin: Int = -1, subjEnd: Int = -1, subjValue: String = "")

  /** One full match: target span + optional subject span (char offsets). */
  final case class Span(tb: Int, te: Int, sb: Int, se: Int)

  def compile(p: Pattern): Compiled = {
    // collapse consecutive :target labels to one slot
    val elems = p.toks.foldLeft(Vector.empty[String]) { (acc, t) =>
      if (t == Grid.Target && acc.lastOption.contains(Grid.Target)) acc else acc :+ t
    }
    val lits = elems.filter(t =>
      t != Grid.Target && t != Grid.Gap && t != Grid.Subject).toVector
    Compiled(p, elems, lits)
  }

  /** Counting inverted index: label → pattern ordinals; candidate when every literal
    * label of the pattern occurs in the grid. CONTRACT: literal-free patterns (bare
    * `:target`/`:gap` sequences) are never candidates — they would match every token
    * of every sentence; the reference's index shares this property (a profile with no
    * indexable tokens cannot be posted). Property-tested in MatcherParitySpec. */
  final class Index(val compiled: IndexedSeq[Compiled]) extends Serializable {
    private val postings: Map[String, Array[Int]] = {
      val m = mutable.HashMap.empty[String, mutable.ArrayBuffer[Int]]
      compiled.zipWithIndex.foreach { case (c, i) =>
        c.literals.distinct.foreach(l => m.getOrElseUpdate(l, mutable.ArrayBuffer.empty) += i)
      }
      m.iterator.map { case (k, v) => (k, v.toArray) }.toMap
    }
    private val required: Array[Int] = compiled.map(_.literals.distinct.size).toArray

    /** Does any pattern reference a chunker/parser label? When false, extraction-time
      * grids can skip the chunking pass entirely (its labels could never match). */
    lazy val needsSyntax: Boolean = PatternMatcher.needsSyntax(compiled)

    /** @param missSlack lenient-mode slack: forward candidates missing up to this
      *        many literals (ref `hits >= size − maxGaps − 3`,
      *        ProfileInvertedIndex.java:308-333), floored at one present literal so
      *        literal-free candidacy stays impossible. */
    def candidates(labels: Set[String], missSlack: Int = 0): Vector[Compiled] = {
      val counts = new Array[Int](compiled.size)
      labels.foreach { l =>
        postings.get(l).foreach(_.foreach(i => counts(i) += 1))
      }
      val out = Vector.newBuilder[Compiled]
      var i = 0
      while (i < counts.length) {
        if (required(i) > 0 && counts(i) >= math.max(1, required(i) - missSlack))
          out += compiled(i)
        i += 1
      }
      out.result()
    }
  }

  /** Does any of `cs` reference a chunker/parser label? */
  def needsSyntax(cs: Iterable[Compiled]): Boolean =
    cs.exists(_.pattern.toks.exists(_.startsWith(":syntaxtreenode")))

  def buildIndex(patterns: Seq[Pattern]): Index = {
    // longest-pattern-first match priority (ref ProfileReader.java:354-383), ties by
    // canonical key for determinism
    val sorted = patterns.sortBy(p => (-p.toks.size, p.annotType, p.toks.mkString("")))
    new Index(sorted.map(compile).toIndexedSeq)
  }

  /** All raw target spans (char offsets) for one compiled pattern on one grid. */
  def matchOne(grid: Grid, c: Compiled, prm: Params = Params()): Vector[(Int, Int)] =
    matchOneFull(grid, c, prm).map(s => (s.tb, s.te))

  /** Full matches incl. the subject span of two-slot relation patterns.
    * @param minimalTarget apply the minimal-target/maximal-subject collapse (single-
    *        pattern mode). Pair matching passes false: the target EXTENT is decided by
    *        which target profile matches the candidate span, the reference's semantics
    *        (/root/reference/src/msa/MSAUtils.java:443-491), so every candidate length
    *        must be enumerated. */
  def matchOneFull(grid: Grid, c: Compiled, prm: Params = Params(),
      minimalTarget: Boolean = true): Vector[Span] = {
    val cols = grid.cols
    val n = cols.size
    if (n > prm.maxGridLen) return Vector.empty // ref maxGridLen cap, ProfileMatcher.java:32,121
    val results = mutable.LinkedHashSet.empty[Span]

    def realToken(t: Int): Boolean =
      !(cols(t).has(Grid.Start) || cols(t).has(Grid.End))
    def hasLookup(t: Int): Boolean =
      cols(t).labels.exists(_.startsWith(":lookup|"))

    // backtracking: place elems(k) starting at column index ci.
    // `missed` = lenient-mode budget of skippable literals left; `lits` = literals
    // actually matched so far (≥1 required at completion when the pattern has any)
    def place(k: Int, ci: Int, mustBeAdjacent: Boolean,
        tb: Int, te: Int, sb: Int, se: Int,
        missed: Int = prm.maxMissedLiterals, lits: Int = 0): Unit = {
      if (k == c.elems.length) {
        if (tb >= 0 && (c.literals.isEmpty || lits > 0)) results += Span(tb, te, sb, se)
        return
      }
      val elem = c.elems(k)
      if (elem == Grid.Gap) {
        // gap consumes 0..maxGapSpan columns before the next element (lenient at match
        // time; precision is enforced downstream by the stats gate)
        var skip = 0
        while (skip <= prm.maxGapSpan && ci + skip <= n) {
          place(k + 1, ci + skip, mustBeAdjacent = true, tb, te, sb, se, missed, lits)
          skip += 1
        }
        // note: the skipped columns start at ci; next element must start at ci+skip
      } else if (elem == Grid.Target || elem == Grid.Subject) {
        val isSubj = elem == Grid.Subject
        // slot columns: real tokens; subject slots additionally require a gazetteer
        // Lookup label on every consumed column AND the whole span to be an exact
        // Lookup annotation extent (a run of adjacent distinct entities is not one
        // subject mention)
        def colOk(t: Int): Boolean = realToken(t) && (!isSubj || hasLookup(t))
        val starts: Seq[Int] =
          if (mustBeAdjacent) Seq(ci)
          else (ci until n) // leading slot: anchor anywhere (same rule as first literal)
        starts.foreach { s =>
          var len = 1
          while (len <= prm.maxTargetLen && s + len <= n) {
            var ok = true
            var t = s
            while (ok && t < s + len) { if (!colOk(t)) ok = false; t += 1 }
            if (ok) {
              val (b, e) = (cols(s).begin, cols(s + len - 1).end)
              if (isSubj) {
                if (grid.lookupSpans.contains((b, e)))
                  place(k + 1, s + len, mustBeAdjacent = true, tb, te, b, e, missed, lits)
              }
              else place(k + 1, s + len, mustBeAdjacent = true, b, e, sb, se, missed, lits)
            }
            len += 1
          }
        }
      } else {
        // literal: anchors at the FIRST column of the emitting annotation and
        // consumes its full extent — the matcher-side twin of the aligner's
        // multi-token advance, so a single `:lookup|…` pattern token covers a whole
        // multi-token entity (induction and extraction agree on element granularity)
        if (mustBeAdjacent) {
          if (ci < n) anchoredSpans(cols(ci), elem, n - ci).foreach(sp =>
            place(k + 1, ci + sp, mustBeAdjacent = true, tb, te, sb, se, missed, lits + 1))
        } else {
          // first literal: try every start column
          var s = ci
          while (s < n) {
            anchoredSpans(cols(s), elem, n - s).foreach(sp =>
              place(k + 1, s + sp, mustBeAdjacent = true, tb, te, sb, se, missed, lits + 1))
            s += 1
          }
        }
        // lenient mode: this literal may go unmatched — skipped outright, or
        // consuming one non-matching column (ref alignment gaps inside
        // `matchCoords >= gridSize − maxGaps`, MSAUtils.java:471)
        if (missed > 0) {
          place(k + 1, ci, mustBeAdjacent, tb, te, sb, se, missed - 1, lits)
          if (mustBeAdjacent && ci < n)
            place(k + 1, ci + 1, mustBeAdjacent = true, tb, te, sb, se, missed - 1, lits)
        }
      }
    }
    place(0, 0, mustBeAdjacent = false, -1, -1, -1, -1)
    if (!minimalTarget)
      results.toVector.sortBy(s => (s.tb, s.te, s.sb, s.se))
    else
      // Minimal-target / maximal-subject rule: among spans sharing a target start, keep
      // the shortest valid target (a right-context anchor already forces the exact span;
      // with no right anchor the unbounded tail would otherwise enumerate 1..maxTargetLen
      // FP spans per site — the reference ties target extent to a separate target pattern
      // instead, src/msa/MSAUtils.java:443-491; minimal-span is our deterministic
      // equivalent, pair matching the faithful one) and the LONGEST subject (the full
      // entity mention: subject columns are all Lookup-labelled, so the maximal run is
      // the whole gazetteer span).
      results.toVector.groupBy(_.tb).valuesIterator
        .map(_.minBy(s => (s.te, -(s.se - s.sb), s.sb)))
        .toVector.sortBy(s => (s.tb, s.te, s.sb, s.se))
  }

  /**
   * Does a TARGET pattern (profileType 1 — literal labels, optional `:gap`s, no slots)
   * match the grid columns [from, until) EXACTLY (full coverage, in order)? The pair
   * model's per-span check: a context-pattern candidate span is only extracted when
   * some target profile matches its content — the reference's matchGrids-within-
   * candidate-span (/root/reference/src/msa/ProfileMatcher.java:459-631).
   */
  def targetMatches(grid: Grid, from: Int, until: Int, tc: Compiled,
      prm: Params = Params()): Boolean = {
    val cols = grid.cols
    def step(k: Int, ci: Int): Boolean = {
      if (k == tc.elems.length) ci == until
      else tc.elems(k) match {
        case Grid.Gap =>
          var skip = 1
          var ok = false
          while (!ok && skip <= prm.maxGapSpan && ci + skip <= until) {
            ok = step(k + 1, ci + skip); skip += 1
          }
          ok
        case l =>
          ci < until && anchoredSpans(cols(ci), l, until - ci)
            .exists(sp => step(k + 1, ci + sp))
      }
    }
    from < until && step(0, from)
  }

  /** One (context-pattern, target-pattern) pair match. */
  final case class PairHit(context: Pattern, target: Pattern,
      targetBegin: Int, targetEnd: Int, value: String,
      subjBegin: Int = -1, subjEnd: Int = -1, subjValue: String = "")

  /**
   * Pair matching — the faithful reference semantics: context patterns enumerate
   * candidate target spans (ALL lengths, no minimal collapse); a span is accepted only
   * when a target profile of the same annotType matches it exactly; the unit of match
   * (and of all downstream statistics) is the (profileId, targetId) PAIR
   * (ref index/final tables, /root/reference/sql/ie-mysql.sql:24-43;
   * per-pair gates ProfileReader.java:257-279).
   *
   * @param allowedPairs extraction-time per-pair gate (the `final` table read); None =
   *        all pairs (stats-collection mode).
   * @param excludedPairs standing per-pair EXCLUSION set — the reference's `filter`
   *        table (/root/reference/sql/ie-mysql.sql:16-20, read
   *        src/msa/ProfileReader.java:411-437): a pair listed here never matches, even
   *        when allowed/high-precision.
   * @param suppressOverlaps drop hits whose target span overlaps an accepted one
   *        (longest-context-first priority) — extraction mode; stats mode passes false.
   */
  def matchPairs(grid: Grid, ctxIndex: Index, targetsByType: Map[String, IndexedSeq[Compiled]],
      prm: Params = Params(), allowedPairs: Option[Set[(Long, Long)]] = None,
      suppressOverlaps: Boolean = true,
      excludedPairs: Set[(Long, Long)] = Set.empty): Vector[PairHit] = {
    val cands = ctxIndex.candidates(grid.labelSet, prm.maxMissedLiterals)
    val cols = grid.cols
    val accepted = mutable.ArrayBuffer.empty[PairHit]
    val seen = mutable.HashSet.empty[(Long, Long, Int, Int)]
    cands.foreach { c =>
      val targets = targetsByType.getOrElse(c.pattern.annotType, IndexedSeq.empty)
      if (targets.nonEmpty) {
        matchOneFull(grid, c, prm, minimalTarget = false)
          .sortBy(s => (s.tb, s.te - s.tb))
          .foreach { s =>
            // column range of the candidate target span; zero-width sentinel columns
            // (:start/:end share a char offset with adjacent tokens) must not count
            val from = cols.indexWhere(c => c.begin == s.tb && c.end > c.begin)
            val until = cols.lastIndexWhere(c => c.end == s.te && c.end > c.begin) + 1
            if (from >= 0 && until > from) targets.foreach { tc =>
              val pairKey = (c.pattern.profileId, tc.pattern.profileId)
              val allowed = allowedPairs.forall(_.contains(pairKey)) &&
                !excludedPairs.contains(pairKey)
              if (allowed && targetMatches(grid, from, until, tc, prm)) {
                val overlaps = suppressOverlaps &&
                  accepted.exists(h => collides(prm, h.targetBegin, h.targetEnd, s.tb, s.te))
                val key = (pairKey._1, pairKey._2, s.tb, s.te)
                if (!overlaps && !seen.contains(key)) {
                  seen += key
                  val value = coveredText(grid, s.tb, s.te)
                  val subjValue = if (s.sb >= 0) coveredText(grid, s.sb, s.se) else ""
                  accepted += PairHit(c.pattern, tc.pattern, s.tb, s.te, value,
                    s.sb, s.se, subjValue)
                }
              }
            }
          }
      }
    }
    accepted.toVector
  }

  /**
   * Match a full (indexed) pattern set against one grid with overlap suppression:
   * patterns tried longest-first; a hit whose target span is contained within an
   * already-accepted hit's span is dropped (ref ProfileMatcher.java:705-730).
   */
  def matchAll(grid: Grid, index: Index, prm: Params = Params()): Vector[Hit] = {
    val cands = index.candidates(grid.labelSet, prm.maxMissedLiterals)
    val accepted = mutable.ArrayBuffer.empty[Hit]
    cands.foreach { c =>
      matchOneFull(grid, c, prm)
        .sortBy(s => (s.tb, s.te - s.tb)) // leftmost, then shortest
        .foreach { s =>
          // drop any hit colliding with an already-accepted span: higher-priority
          // (longer) patterns own their sites (ref targetRangeList,
          // ProfileMatcher.java:527-540); collision = overlap by default, exact
          // containment in reference-faithful mode (prm.containmentSuppression)
          if (!accepted.exists(h => collides(prm, h.targetBegin, h.targetEnd, s.tb, s.te))) {
            val value = coveredText(grid, s.tb, s.te)
            val subjValue = if (s.sb >= 0) coveredText(grid, s.sb, s.se) else ""
            accepted += Hit(c.pattern, s.tb, s.te, value, s.sb, s.se, subjValue)
          }
        }
    }
    accepted.toVector
  }

  /** Re-insert accepted target spans as annotation labels (`:` + annotType, the same
    * label Grid.build gives any non-Lookup annotation type) onto the covered columns —
    * the cascade step (ref ProfileMatcher.java:773-820). */
  def insertTargets(g: Grid, spans: Seq[(String, Int, Int)]): Grid =
    if (spans.isEmpty) g
    else g.copy(cols = g.cols.map { c =>
      val add = spans.collect {
        case (t, b, e) if b <= c.begin && e >= c.end && c.end > c.begin =>
          ":" + t.toLowerCase
      }.distinct.filterNot(c.has)
      if (add.isEmpty) c
      else c.copy(labels = c.labels ++ add,
        // keep the span tracks parallel: cascade-inserted labels are per-column
        spans = if (c.spans == null) null
                else c.spans ++ Array.fill(add.size)(1),
        offs = if (c.offs == null) null
               else c.offs ++ Array.fill(add.size)(0))
    })

  /**
   * Cascaded extraction: match, re-insert each accepted target as a grid annotation,
   * and repeat until fixpoint (bounded by prm.cascadeRounds) — the reference's
   * extraction-mode do-while (/root/reference/src/msa/ProfileMatcher.java:205-848,
   * re-insert :773-820). Patterns referencing `:` + annotType labels fire on later
   * rounds once an earlier pattern has extracted that type. Hits are deduped across
   * rounds by (profile, span); overlap suppression applies within a round only (an
   * inserted target MUST remain matchable by cascade consumers).
   */
  def matchAllCascaded(grid: Grid, index: Index, prm: Params = Params()): Vector[Hit] = {
    var g = grid
    val all = mutable.LinkedHashMap.empty[(Long, Int, Int), Hit]
    val maxRounds = math.max(1, prm.cascadeRounds)
    var round = 0
    var changed = true
    while (changed && round < maxRounds) {
      changed = false
      val fresh = matchAll(g, index, prm)
        .filterNot(h => all.contains((h.pattern.profileId, h.targetBegin, h.targetEnd)))
      if (fresh.nonEmpty) {
        fresh.foreach(h => all((h.pattern.profileId, h.targetBegin, h.targetEnd)) = h)
        round += 1
        // rebuilding the grid is pointless when no further round will run
        if (round < maxRounds) {
          g = insertTargets(g, fresh.map(h =>
            (h.pattern.annotType, h.targetBegin, h.targetEnd)))
          changed = true
        }
      } else round += 1
    }
    all.values.toVector
  }

  /** Pair-model variant of [[matchAllCascaded]]. */
  def matchPairsCascaded(grid: Grid, ctxIndex: Index,
      targetsByType: Map[String, IndexedSeq[Compiled]], prm: Params = Params(),
      allowedPairs: Option[Set[(Long, Long)]] = None,
      excludedPairs: Set[(Long, Long)] = Set.empty): Vector[PairHit] = {
    var g = grid
    val all = mutable.LinkedHashMap.empty[(Long, Long, Int, Int), PairHit]
    val maxRounds = math.max(1, prm.cascadeRounds)
    var round = 0
    var changed = true
    while (changed && round < maxRounds) {
      changed = false
      val fresh = matchPairs(g, ctxIndex, targetsByType, prm, allowedPairs,
          excludedPairs = excludedPairs)
        .filterNot(h => all.contains(
          (h.context.profileId, h.target.profileId, h.targetBegin, h.targetEnd)))
      if (fresh.nonEmpty) {
        fresh.foreach(h => all(
          (h.context.profileId, h.target.profileId, h.targetBegin, h.targetEnd)) = h)
        round += 1
        if (round < maxRounds) {
          g = insertTargets(g, fresh.map(h =>
            (h.context.annotType, h.targetBegin, h.targetEnd)))
          changed = true
        }
      } else round += 1
    }
    all.values.toVector
  }

  private def coveredText(grid: Grid, b: Int, e: Int): String =
    grid.cols.filter(c => c.begin >= b && c.end <= e && c.end > c.begin)
      .sortBy(_.begin).map(_.text).filter(_.nonEmpty).mkString(" ")

  /** Column-spans of annotations labeled `l` ANCHORED (first covered column) at this
    * column, bounded by the columns remaining — the matcher-side multi-token element
    * rule. Single-token labels yield span 1; a label shared by overlapping annotations
    * can yield several candidate spans (all tried, backtracking). */
  private def anchoredSpans(c: GridCol, l: String, remaining: Int): List[Int] = {
    var out = List.empty[Int]
    var k = 0
    while (k < c.labels.length) {
      if (c.labels(k) == l && c.offOf(k) == 0) {
        val sp = c.spanOf(k)
        if (sp <= remaining && !out.contains(sp)) out = sp :: out
      }
      k += 1
    }
    out
  }

  /** Strip a final non-letter from an extracted value (ref AutoAnnotate.java:622-629). */
  def trimTrailingPunct(v: String): String =
    if (v.nonEmpty && !v.last.isLetter && !v.last.isDigit) v.dropRight(1).trim else v

  /** All-caps sentence guard (ref AutoAnnotate.java:459-484): true when every alpha
    * token is all-caps — such sentences are skipped at extraction time. */
  def isAllCapsSentence(grid: Grid): Boolean = {
    val wordCols = grid.cols.filter(_.labels.exists(_.startsWith(":token|orth|")))
    wordCols.nonEmpty && wordCols.forall(_.has(":token|orth|allcaps"))
  }
}
