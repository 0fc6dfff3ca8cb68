package graft.align

import graft.extract.PageKernel
import graft.model.Annotation

/**
 * Sentence-as-grid representation for alignment and pattern matching.
 *
 * Re-expresses the reference's AnnotationSequenceGrid
 * (/root/reference/src/align/AnnotationSequenceGrid.java:8-15, built by
 * GenAnnotationGrid.java:129-374): columns = token positions, each column a stack of
 * pattern-token labels for every annotation covering that token. Multi-token annotations
 * (Lookups) are replicated onto each covered column (ref postProcess,
 * GenAnnotationGrid.java:447-475). `:start`/`:end` sentinel columns are added
 * (ref :173-189). Target-centred grids are trimmed to ±trimSize columns around the
 * target (ref :376-396).
 *
 * Label format follows the reference exactly (AnnotationSequence.java:300-347):
 * ":" + type + "|" + feature + "|" + lowered value (Locale.ROOT), spaces → dashes.
 */
/**
 * @param spans parallel to `labels`: the total column-span of the annotation that
 *        emitted each label (1 for single-column labels), on EVERY covered column.
 * @param offs  parallel to `labels`: this column's 0-based offset inside the emitting
 *        annotation (0 = the annotation's first column).
 *
 * `null` arrays ⇒ all labels single-column. The pair is what lets BOTH kernels treat a
 * multi-token annotation as one element: the aligner anchors it at its LAST column and
 * advances i/j by its span (ref SmithWatermanDim.java:233-245), the matcher anchors it
 * at its FIRST column and consumes its full extent — so a learned pattern token like
 * `:lookup|majortype|org` covers the whole entity in both induction and extraction.
 * The same label may appear twice with different (span, off) when overlapping
 * annotations share it.
 */
final case class GridCol(begin: Int, end: Int, labels: Array[String], text: String = "",
    spans: Array[Int] = null, offs: Array[Int] = null) {
  def has(label: String): Boolean = {
    var i = 0
    while (i < labels.length) { if (labels(i) == label) return true; i += 1 }
    false
  }
  def spanOf(k: Int): Int = if (spans == null) 1 else spans(k)
  def offOf(k: Int): Int = if (offs == null) 0 else offs(k)
}

final case class Grid(url: String, sentBegin: Int, sentEnd: Int, cols: IndexedSeq[GridCol],
    lookupSpans: Set[(Int, Int)] = Set.empty) {
  /** All distinct labels in this grid (for inverted-index candidate pruning). */
  lazy val labelSet: Set[String] = cols.iterator.flatMap(_.labels).toSet
  def size: Int = cols.size
}

object Grid {
  val Start = ":start"
  val End = ":end"
  val Target = ":target"
  val Gap = ":gap" // rendered "-" in profile strings
  /** Two-slot (relation) patterns: binds the subject span directly in the match —
    * slot columns must carry a gazetteer Lookup label. Spark-side extension beyond the
    * reference (whose subjects come from the frame join, PopulateFrame.java:336-376). */
  val Subject = ":subject"

  def label(annotType: String, feature: String, value: String): String =
    ":" + PageKernel.lowered(annotType) + "|" + PageKernel.lowered(feature) + "|" +
      labelValue(value)

  /** `PageKernel.lowered(value).replace(' ', '-')` with an allocation-free fast path
    * for the overwhelmingly common case (pure lowercase-ASCII token values): byte-identical
    * to the slow path — any char that is uppercase-ASCII, a space, or non-ASCII
    * routes to the original expression. */
  private def labelValue(value: String): String = {
    var i = 0
    val n = value.length
    while (i < n) {
      val c = value.charAt(i)
      if (c >= 'A' && c <= 'Z' || c == ' ' || c >= 0x80)
        return PageKernel.lowered(value).replace(' ', '-')
      i += 1
    }
    value
  }

  /** Precomputed token-feature label prefixes — [[label]]'s constant-argument half,
    * hoisted out of the per-token hot loop in [[build]]. */
  private val TokStringPfx = ":token|string|"
  private val TokRootPfx = ":token|root|"
  private val TokOrthPfx = ":token|orth|"
  private val TokCategoryPfx = ":token|category|"
  private val TokKindPfx = ":token|kind|"

  /** A sentence's grid holds its first this-many tokens, so a long sentence is learnt
    * and matched on its head, at bounded cost. The reference skips a longer sentence
    * instead (ProfileMatcher.java:32,121). */
  private val MaxTokens = 300

  /**
   * Build the grid for one sentence from its annotations. Token annotations define the
   * columns (the first [[MaxTokens]], plus the two sentinels); Lookup/Number/target
   * annotations stack labels onto every column whose token lies inside their span.
   *
   * @param targetSpans spans to label `:target` (training time: gold spans).
   */
  def build(url: String, sentBegin: Int, sentEnd: Int, annots: Seq[Annotation],
      targetSpans: Seq[(Int, Int)] = Nil): Grid = {
    val tokens = annots.filter(_.annotType == "Token").sortBy(_.begin).take(MaxTokens)
      .toIndexedSeq
    val others = annots.filter(a => a.annotType != "Token" && a.annotType != "Sentence")
    // column range [lo, hi] of each covering span (covered tokens are contiguous)
    def colRange(b: Int, e: Int): Option[(Int, Int)] = {
      val lo = tokens.indexWhere(t => b <= t.begin && e >= t.end)
      if (lo < 0) None
      else {
        var hi = lo
        while (hi + 1 < tokens.size && b <= tokens(hi + 1).begin && e >= tokens(hi + 1).end)
          hi += 1
        Some((lo, hi))
      }
    }
    val otherRanges = others.flatMap(a => colRange(a.begin, a.end).map(r => (a, r._1, r._2)))
    val targetRanges = targetSpans.flatMap(s => colRange(s._1, s._2))
    val cols = tokens.zipWithIndex.map { case (t, ci) =>
      // (label, span, off) entries; exact duplicates collapse, but the same label from
      // two OVERLAPPING annotations keeps both entries (different span/off).
      // Flat parallel buffers with a linear dedup scan: this runs per token of every
      // page — no boxed tuples or hash sets in the hot kernel (stacks are ≤~10 deep)
      val lblB = new collection.mutable.ArrayBuffer[String](8)
      val spnB = new collection.mutable.ArrayBuffer[Int](8)
      val offB = new collection.mutable.ArrayBuffer[Int](8)
      def add(l: String, lo: Int, hi: Int): Unit = {
        val span = hi - lo + 1
        val off = ci - lo
        var i = 0
        while (i < lblB.length) {
          if (spnB(i) == span && offB(i) == off && lblB(i) == l) return
          i += 1
        }
        lblB += l; spnB += span; offB += off
      }
      // token feature tracks, most specific first (prefixes precomputed — label()'s
      // constant half would otherwise re-lowercase "token"/"string"/… per token)
      t.features.get("string").foreach(v => add(TokStringPfx + labelValue(v), ci, ci))
      t.features.get("root").foreach(v => add(TokRootPfx + labelValue(v), ci, ci))
      t.features.get("orth").foreach(v => add(TokOrthPfx + labelValue(v), ci, ci))
      t.features.get("category").foreach(v => add(TokCategoryPfx + labelValue(v), ci, ci))
      t.features.get("kind").foreach(v => add(TokKindPfx + labelValue(v), ci, ci))
      otherRanges.foreach { case (a, lo, hi) =>
        if (lo <= ci && ci <= hi) {
          a.annotType match {
            case "Lookup" =>
              add(label("lookup", "majortype", a.features.getOrElse("majorType", "")), lo, hi)
              val mt = a.features.getOrElse("minorType", "")
              if (mt.nonEmpty) add(label("lookup", "minortype", mt), lo, hi)
            case "Number" => add(":number", lo, hi)
            case "Date"   => add(":date", lo, hi)
            case "SyntaxTreeNode" =>
              // parser/chunker phrase node: ":syntaxtreenode|cat|np" — the label shape
              // the reference's syntax gates key on (MSAUtils.java:17-55)
              add(label("syntaxtreenode", "cat", a.features.getOrElse("cat", "")), lo, hi)
            case other    => add(":" + PageKernel.lowered(other), lo, hi)
          }
        }
      }
      targetRanges.foreach { case (lo, hi) =>
        if (lo <= ci && ci <= hi) add(Target, lo, hi)
      }
      GridCol(t.begin, t.end, lblB.toArray, t.value, spnB.toArray, offB.toArray)
    }
    val withSentinels =
      GridCol(sentBegin, sentBegin, Array(Start)) +:
      cols :+
      GridCol(sentEnd, sentEnd, Array(End))
    // exact Lookup annotation extents: the `:subject` slot binds only spans that ARE
    // an entity mention (a run of adjacent distinct entities is not one subject)
    val lookupSpans = others.iterator.filter(_.annotType == "Lookup")
      .map(a => (a.begin, a.end)).toSet
    Grid(url, sentBegin, sentEnd, withSentinels, lookupSpans)
  }

  /** Trim a grid to ±trim columns around the (first) target column — the reference's
    * target-centred grid (GenAnnotationGrid.java:376-396). None if no target column. */
  def trimAroundTarget(g: Grid, trim: Int = 10): Option[Grid] = {
    val ti = g.cols.indexWhere(_.has(Target))
    if (ti < 0) None
    else {
      val tj = g.cols.lastIndexWhere(_.has(Target))
      val lo = math.max(0, ti - trim)
      val hi = math.min(g.cols.size, tj + 1 + trim)
      Some(g.copy(cols = g.cols.slice(lo, hi)))
    }
  }
}
