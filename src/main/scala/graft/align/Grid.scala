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

  /** The token features a column's label tracks come from, most specific first; a
    * track's label is its prefix + [[labelValue]] of the feature value. */
  val TokenFeatures: Array[String] = Array("string", "root", "orth", "category", "kind")
  private val TrackPrefixes: Array[String] = TokenFeatures.map(f => ":token|" + f + "|")

  /** The label of track `k` for feature value `value`, memoized. The page kernel's scan
    * shares one across a page's sentences, so a repeated token builds its labels once
    * and the matcher hashes each label string once. Not thread-safe. */
  private[graft] final class TrackLabels {
    private val memo = Array.fill(TokenFeatures.length)(new java.util.HashMap[String, String])
    def apply(k: Int, value: String): String = {
      var l = memo(k).get(value)
      if (l == null) { l = TrackPrefixes(k) + labelValue(value); memo(k).put(value, l) }
      l
    }
  }

  /** The labels a covering annotation stacks on every column it covers. */
  def coverLabels(annotType: String, features: Map[String, String]): Array[String] =
    annotType match {
      case "Lookup" =>
        val mt = features.getOrElse("minorType", "")
        val major = label("lookup", "majortype", features.getOrElse("majorType", ""))
        if (mt.nonEmpty) Array(major, label("lookup", "minortype", mt)) else Array(major)
      case "Number" => Array(":number")
      case "Date"   => Array(":date")
      // parser/chunker phrase node: ":syntaxtreenode|cat|np" — the label shape the
      // reference's syntax gates key on (MSAUtils.java:17-55)
      case "SyntaxTreeNode" => Array(label("syntaxtreenode", "cat", features.getOrElse("cat", "")))
      case other    => Array(":" + PageKernel.lowered(other))
    }

  /** A sentence's grid holds its first this-many tokens, so a long sentence is learnt
    * and matched on its head, at bounded cost. The reference skips a longer sentence
    * instead (ProfileMatcher.java:32,121). */
  val MaxTokens = 300

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
    val cover = others.flatMap(a => colRange(a.begin, a.end)
        .map(r => (r, coverLabels(a.annotType, a.features)))) ++
      targetSpans.flatMap(s => colRange(s._1, s._2).map(r => (r, Array(Target))))
    val features = tokens.flatMap(t => TokenFeatures.map(t.features.getOrElse(_, null)))
    // exact Lookup annotation extents: the `:subject` slot binds only spans that ARE
    // an entity mention (a run of adjacent distinct entities is not one subject)
    val lookupSpans = others.iterator.filter(_.annotType == "Lookup")
      .map(a => (a.begin, a.end)).toSet
    assemble(url, sentBegin, sentEnd, tokens.map(_.begin).toArray, tokens.map(_.end).toArray,
      tokens.map(_.value).toArray, 0, tokens.size, features.toArray, new TrackLabels,
      cover.size, cover.map(_._1._1).toArray, cover.map(_._1._2).toArray,
      cover.map(_._2).toArray, lookupSpans)
  }

  /**
   * The one column assembly of a sentence grid, which [[build]] and the page kernel's
   * token scan both call: `n` columns for tokens `from` until `from + n` of `begins`,
   * `ends` and `texts`, plus the `:start`/`:end` sentinels.
   *
   * A column's entries, in order: its label tracks (`features(c * 5 + k)` is column
   * `c`'s value of [[TokenFeatures]]`(k)`, null when absent; labelled through
   * `trackLabels`), then the labels of each
   * covering span `i < nCover` that covers it (columns `coverLo(i)` to `coverHi(i)`,
   * labels `coverLabels(i)`), in span order. Each entry carries the span's column count
   * and the column's offset inside it; an exact (label, span, offset) duplicate
   * collapses, but the same label from two OVERLAPPING spans keeps both entries.
   */
  private[graft] def assemble(url: String, sentBegin: Int, sentEnd: Int,
      begins: Array[Int], ends: Array[Int], texts: Array[String], from: Int, n: Int,
      features: Array[String], trackLabels: TrackLabels, nCover: Int, coverLo: Array[Int],
      coverHi: Array[Int], coverLabels: Array[Array[String]],
      lookupSpans: Set[(Int, Int)]): Grid = {
    val tracks = TokenFeatures.length
    val size = new Array[Int](n)
    var c = 0
    while (c < n) {
      var k = 0
      while (k < tracks) { if (features(c * tracks + k) != null) size(c) += 1; k += 1 }
      c += 1
    }
    var i = 0
    while (i < nCover) {
      c = coverLo(i)
      while (c <= coverHi(i)) { size(c) += coverLabels(i).length; c += 1 }
      i += 1
    }
    val labels = new Array[Array[String]](n)
    val spans = new Array[Array[Int]](n)
    val offs = new Array[Array[Int]](n)
    c = 0
    while (c < n) {
      labels(c) = new Array[String](size(c))
      spans(c) = new Array[Int](size(c))
      offs(c) = new Array[Int](size(c))
      size(c) = 0
      c += 1
    }
    // flat per-column buffers with a linear dedup scan: stacks are ≤~10 deep
    def add(c: Int, l: String, span: Int, off: Int): Unit = {
      val ls = labels(c)
      val ss = spans(c)
      val os = offs(c)
      var j = 0
      while (j < size(c)) {
        if (ss(j) == span && os(j) == off && ls(j) == l) return
        j += 1
      }
      ls(size(c)) = l; ss(size(c)) = span; os(size(c)) = off
      size(c) += 1
    }
    c = 0
    while (c < n) {
      var k = 0
      while (k < tracks) {
        val v = features(c * tracks + k)
        if (v != null) add(c, trackLabels(k, v), 1, 0)
        k += 1
      }
      c += 1
    }
    i = 0
    while (i < nCover) {
      val lo = coverLo(i)
      val span = coverHi(i) - lo + 1
      val ls = coverLabels(i)
      c = lo
      while (c <= coverHi(i)) {
        var k = 0
        while (k < ls.length) { add(c, ls(k), span, c - lo); k += 1 }
        c += 1
      }
      i += 1
    }
    val cols = new Array[GridCol](n + 2)
    cols(0) = GridCol(sentBegin, sentBegin, Array(Start))
    c = 0
    while (c < n) {
      val m = size(c)
      cols(c + 1) = if (m == labels(c).length)
          GridCol(begins(from + c), ends(from + c), labels(c), texts(from + c), spans(c), offs(c))
        else GridCol(begins(from + c), ends(from + c), java.util.Arrays.copyOf(labels(c), m),
          texts(from + c), java.util.Arrays.copyOf(spans(c), m), java.util.Arrays.copyOf(offs(c), m))
      c += 1
    }
    cols(n + 1) = GridCol(sentEnd, sentEnd, Array(End))
    Grid(url, sentBegin, sentEnd, collection.immutable.ArraySeq.unsafeWrapArray(cols),
      lookupSpans)
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
