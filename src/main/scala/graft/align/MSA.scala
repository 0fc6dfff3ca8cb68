package graft.align

/**
 * Pattern induction from pairwise alignments — the reference's
 * MultipleSequenceAlignment (/root/reference/src/msa/MultipleSequenceAlignment.java:9-260)
 * re-expressed: an alignment's matched anchor labels, with `-` fillers where either
 * sequence skipped columns, render a pattern; identical patterns across pairs accumulate
 * multiplicity ("rows", ref GenMSA.java:597-615), and only patterns seen ≥ minRows times
 * survive (ref getTotal() >= msaMinRows, GenMSA.java:636).
 *
 * Golden semantics (ref MultipleSequenceAlignment.main :355-374):
 * rows "there is a ##" + "is a large and big ##" → profile "is a - ##".
 */
object MSA {

  /** Alignment quality gates — the reference's countGaps limit and minimum anchor
    * count (/root/reference/src/msa/MSAUtils.java:17-55, applied GenMSA.java:514-541).
    * The reference's limits on syntax-only and phrase anchors are not carried. */
  final case class Gates(maxGaps: Int = 4, minAnchors: Int = 2)

  /**
   * Render the pattern token sequence from an alignment: anchors in order; a single
   * `:gap` filler wherever consecutive anchors skip ≥1 column on either side.
   * Returns None when gates fail or the target slot is not anchored.
   *
   * @param requireTarget context patterns must anchor the `:target` slot; TARGET
   *        profiles (profileType 1 — alignments of the target spans themselves,
   *        ref src/msa/GenMSADriver.java:763) have no target slot and pass false.
   */
  def toPattern(al: SmithWaterman.Alignment, gates: Gates = Gates(),
      requireTarget: Boolean = true): Option[Vector[String]] = {
    if (requireTarget && !al.coversTarget) return None
    if (al.anchors.length < gates.minAnchors) return None
    if (al.gapCount > gates.maxGaps) return None
    val out = Vector.newBuilder[String]
    var k = 0
    while (k < al.anchors.length) {
      if (k > 0) {
        val prev = al.anchors(k - 1); val cur = al.anchors(k)
        // gap = columns skipped between the previous anchor's END and this anchor's
        // FIRST column (a multi-column anchor's interior is consumed, not skipped)
        if (cur.iFirst - prev.i > 1 || cur.jFirst - prev.j > 1) out += Grid.Gap
      }
      out += al.anchors(k).label
      k += 1
    }
    Some(out.result())
  }
}
