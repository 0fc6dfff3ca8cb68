package graft.align

/**
 * Multi-track local sequence alignment over sentence grids — the pattern-induction
 * kernel, capability-equivalent to the reference's SmithWatermanDim
 * (/root/reference/src/align/SmithWatermanDim.java:155-625): a DP over grid columns
 * where a "match" is any pair of stacked labels that are equal (ref matchGridColumns2,
 * :550-625), per-label match weights from a fixed ladder (the reference reads its
 * scoreList from configuration, setScoreMap :116-138), `:target` matches
 * weighted overwhelmingly (ref 10^6 at :15,:270-271) so alignments always anchor on
 * the target slot, multi-token annotations advancing BOTH indices by their column span
 * and scoring weight × span (ref :233-245 — without this, alignments through
 * multi-token gazetteer entities re-anchor on every replicated column and over-count),
 * and `:relation.…|idx`-suffixed labels held to a consistent index mapping across the
 * whole alignment (ref relationIndexMap, :602-610: first binding wins, conflicting
 * matches are skipped).
 *
 * Pure Scala, deterministic (ties broken by fixed preference diag > up > left; the
 * relation-index map binds in row-major scan order, mirroring the reference's
 * build-order greediness), used inside mapGroups/mapPartitions — never a Catalyst
 * expression, by design: it operates on whole-sentence objects (SURVEY.md §7.3).
 */
object SmithWaterman {

  private val GapPenalty = 1.0

  private val TargetScore = 1e6

  /** The match weight of one shared label. */
  def weight(label: String): Double =
    if (label == Grid.Target) TargetScore
    else if (label == Grid.Start || label == Grid.End) 3.0
    else if (label.startsWith(":token|string|")) 10.0
    else if (label.startsWith(":token|root|")) 9.0
    else if (label.startsWith(":lookup|minortype|")) 8.0
    else if (label.startsWith(":lookup|majortype|")) 7.0
    else if (label == ":number" || label == ":date") 5.0
    else if (label.startsWith(":token|orth|")) 2.0
    else if (label.startsWith(":syntaxtreenode|")) 1.5 // phrase shape: weak
    // POS generalization: the reference scores Token.category near-zero
    // (ie.properties scoreList — string 10, root 9, category 0.01) but has no
    // kind label at all; here it must outrank the bare :token|kind|word default
    // (1.0) or a shared category could never become the anchor, while staying
    // below orth/phrase so more specific shape labels still win
    else if (label.startsWith(":token|category|")) 1.2
    else 1.0

  private val RelationMark = ":relation."

  /** Strip the trailing `|idx` of a relation label; (base, idx). Non-relation labels
    * return (label, 0) — index 0 means "unconstrained" (ref :602: index1 != 0 guard). */
  private def relationParts(label: String): (String, Int) =
    if (!label.startsWith(RelationMark)) (label, 0)
    else {
      val i = label.lastIndexOf('|')
      if (i < 0) (label, 0)
      else {
        val idx = label.substring(i + 1)
        if (idx.nonEmpty && idx.forall(_.isDigit)) (label.substring(0, i), idx.toInt)
        else (label, 0)
      }
    }

  /** One aligned anchor: the match ends at columns i (g1) / j (g2), covering iSpan /
    * jSpan columns backwards (1 = single-column match). `label` is the g1-side label. */
  final case class Anchor(i: Int, j: Int, label: String, w: Double,
      iSpan: Int = 1, jSpan: Int = 1) {
    def iFirst: Int = i - iSpan + 1
    def jFirst: Int = j - jSpan + 1
  }

  final case class Alignment(score: Double, anchors: Vector[Anchor]) {
    def coversTarget: Boolean = anchors.exists(_.label == Grid.Target)
    /** Count of skipped columns ("|||" gap sentinels in the reference's align rows,
      * SmithWatermanDim.java:445-517) — the interior of a multi-column anchor is
      * consumed by the anchor, never a gap. */
    def gapCount: Int = {
      var g = 0
      var k = 1
      while (k < anchors.length) {
        g += (anchors(k).iFirst - anchors(k - 1).i - 1) +
          (anchors(k).jFirst - anchors(k - 1).j - 1)
        k += 1
      }
      g
    }
  }

  /** Smith-Waterman local alignment of two grids. O(|g1|·|g2|·stackHeight). */
  def align(g1: Grid, g2: Grid): Alignment = {
    val n = g1.cols.size
    val m = g2.cols.size
    val h = Array.ofDim[Double](n + 1, m + 1)
    // 0=stop, 1=diag-match, 2=up(gap in g2), 3=left(gap in g1)
    val bt = Array.ofDim[Byte](n + 1, m + 1)
    val lbl = Array.ofDim[String](n + 1, m + 1)
    val bsi = Array.ofDim[Int](n + 1, m + 1) // matched i-span at diag cells
    val bsj = Array.ofDim[Int](n + 1, m + 1)
    // relation-index consistency: first binding wins, in row-major build order
    // (ref relationIndexMap, SmithWatermanDim.java:602-610)
    val relMap = scala.collection.mutable.HashMap.empty[Int, Int]
    var bestI = 0; var bestJ = 0; var best = 0.0
    var i = 1
    while (i <= n) {
      val colA = g1.cols(i - 1)
      var j = 1
      while (j <= m) {
        val colB = g2.cols(j - 1)
        // best diag candidate over all shared (anchorable) label tracks: value is
        // h(i-si)(j-sj) + w·max(si,sj), the multi-token advance (ref :233-245)
        var dV = Double.NegativeInfinity
        var dL: String = null; var dSi = 1; var dSj = 1
        var dRel1 = 0; var dRel2 = 0
        var k = 0
        while (k < colA.labels.length) {
          val la = colA.labels(k)
          // a multi-column label anchors the alignment at the annotation's LAST
          // column, pulling from before its first column (ref :233-245); interior
          // occurrences never anchor
          val sa = colA.spanOf(k)
          if (colA.offOf(k) == sa - 1 && sa <= i) {
            val (baseA, relA) = relationParts(la)
            var k2 = 0
            while (k2 < colB.labels.length) {
              val lb = colB.labels(k2)
              val sb = colB.spanOf(k2)
              if (colB.offOf(k2) == sb - 1 && sb <= j) {
                val (baseB, relB) = relationParts(lb)
                if (baseA == baseB) {
                  val consistent = relA == 0 || (relMap.get(relA) match {
                    case Some(bound) => bound == relB
                    case None => true
                  })
                  if (consistent) {
                    val cand = h(i - sa)(j - sb) + weight(la) * math.max(sa, sb)
                    if (cand > dV) {
                      dV = cand; dL = la; dSi = sa; dSj = sb
                      dRel1 = relA; dRel2 = relB
                    }
                  }
                }
              }
              k2 += 1
            }
          }
          k += 1
        }
        val diag = if (dL != null) dV else h(i - 1)(j - 1) - GapPenalty
        val up = h(i - 1)(j) - GapPenalty
        val left = h(i)(j - 1) - GapPenalty
        var v = 0.0; var d: Byte = 0
        if (diag > v) {
          v = diag; d = 1
          if (dL != null) {
            lbl(i)(j) = dL; bsi(i)(j) = dSi; bsj(i)(j) = dSj
            if (dRel1 != 0 && !relMap.contains(dRel1)) relMap(dRel1) = dRel2
          } else { bsi(i)(j) = 1; bsj(i)(j) = 1 }
        }
        if (up > v) { v = up; d = 2 }
        if (left > v) { v = left; d = 3 }
        h(i)(j) = v; bt(i)(j) = d
        if (v > best) { best = v; bestI = i; bestJ = j }
        j += 1
      }
      i += 1
    }
    // backtrack
    var anchors = List.empty[Anchor]
    var ci = bestI; var cj = bestJ
    while (ci > 0 && cj > 0 && bt(ci)(cj) != 0 && h(ci)(cj) > 0) {
      bt(ci)(cj) match {
        case 1 =>
          val (si, sj) = (math.max(bsi(ci)(cj), 1), math.max(bsj(ci)(cj), 1))
          if (lbl(ci)(cj) != null)
            anchors = Anchor(ci - 1, cj - 1, lbl(ci)(cj),
              weight(lbl(ci)(cj)), si, sj) :: anchors
          ci -= si; cj -= sj
        case 2 => ci -= 1
        case 3 => cj -= 1
      }
    }
    Alignment(best, anchors.toVector)
  }
}
