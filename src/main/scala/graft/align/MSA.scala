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

  /** Alignment quality gates — the reference's countGaps/countSyntax/countPhrase
    * limits (/root/reference/src/msa/MSAUtils.java:17-55, applied GenMSA.java:514-541).
    * maxSyntax bounds anchors that are ONLY syntax-level (`:syntaxtreenode…`);
    * maxPhrase bounds phrase-node anchors — both unlimited by default (this pipeline
    * produces no parser annotations unless a chunker stage adds them). */
  final case class Gates(maxGaps: Int = 4, minAnchors: Int = 2, minScore: Double = 0.0,
      maxSyntax: Int = Int.MaxValue, maxPhrase: Int = Int.MaxValue)

  /** Anchors whose matched label is syntax-level — POS category, orth, or phrase
    * shape (ref MSAUtils.countSyntax's class list, MSAUtils.java:41-55: a column is
    * "syntax-only" when EVERY label is category/orth/syntaxtreenode/dependency; one
    * anchor carries one matched label here, so the per-anchor test is prefix
    * membership in that class). */
  def countSyntax(al: SmithWaterman.Alignment): Int =
    al.anchors.count(a => a.label.startsWith(":syntaxtreenode") ||
      a.label.startsWith(":token|category|") || a.label.startsWith(":token|orth|"))

  /** Phrase-node anchors (ref MSAUtils.countPhrase: `:syntaxtreenode|cat|…` phrases). */
  def countPhrase(al: SmithWaterman.Alignment): Int =
    al.anchors.count(_.label.startsWith(":syntaxtreenode|cat|"))

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
    if (countSyntax(al) > gates.maxSyntax) return None
    if (countPhrase(al) > gates.maxPhrase) return None
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
