package graft.mention

import graft.model.{Annotation, SentenceAnnots}

/**
 * Group one page's annotations into sentence units — the reference's per-sentence
 * annotation query (interval containment `a.start >= s.start and a.start < s.end`,
 * ref src/msa/db/MySQLDBInterface.java:136-138) realized as one in-page
 * interval sweep instead of per-sentence JDBC round trips. Every caller groups a page
 * in the task that annotated it ([[graft.nlp.Annotate.annotateSentences]], the page
 * kernel), so no annotation row is shuffled.
 *
 * Sentences overrunning into later annotations are merged with following sentences,
 * mirroring ref GenSentences.java:351-366.
 */
object Sentences {

  /** Pure in-group sentence assignment (unit-testable). */
  def group(url: String, all: Vector[Annotation]): Vector[SentenceAnnots] = {
    val sents = all.filter(_.annotType == "Sentence").sortBy(_.begin)
    val rest = all.filter(_.annotType != "Sentence").sortBy(a => (a.begin, a.end))
    if (sents.isEmpty) return Vector.empty
    // merge sentences whose span is overrun by a multi-token annotation
    // (ref GenSentences.java:351-366). `rest` is sorted by begin, so the annotations
    // beginning in [cb, ce) are one run of it: binary-search its start when a new
    // sentence opens, then extend it as ce grows (cb is fixed within a merge)
    val merged = Vector.newBuilder[(Int, Int)]
    var cb = sents.head.begin
    var ce = sents.head.end
    var ri = firstAtOrAfter(rest, cb)
    var runMaxEnd = ce
    var i = 1
    while (i < sents.length) {
      while (ri < rest.length && rest(ri).begin < ce) {
        runMaxEnd = math.max(runMaxEnd, rest(ri).end); ri += 1
      }
      val maxAnnotEnd = math.max(runMaxEnd, ce)
      if (maxAnnotEnd > ce && sents(i).begin < maxAnnotEnd) {
        ce = math.max(maxAnnotEnd, sents(i).end)
      } else {
        merged += ((cb, ce)); cb = sents(i).begin; ce = sents(i).end
        ri = firstAtOrAfter(rest, cb); runMaxEnd = ce
      }
      i += 1
    }
    merged += ((cb, ce))
    val spans = merged.result()
    // interval sweep: both lists sorted by begin
    val out = Vector.newBuilder[SentenceAnnots]
    var ai = 0
    spans.foreach { case (sb, se) =>
      while (ai < rest.length && rest(ai).begin < sb) ai += 1
      val buf = Vector.newBuilder[Annotation]
      var k = ai
      while (k < rest.length && rest(k).begin < se) { buf += rest(k); k += 1 }
      val annots = buf.result()
      if (annots.nonEmpty) out += SentenceAnnots(url, sb, se, annots)
      ai = k
    }
    out.result()
  }

  /** Index of the first annotation of `sorted` (ascending begin) with begin ≥ `b`. */
  private def firstAtOrAfter(sorted: Vector[Annotation], b: Int): Int = {
    var lo = 0
    var hi = sorted.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (sorted(mid).begin < b) lo = mid + 1 else hi = mid
    }
    lo
  }
}
