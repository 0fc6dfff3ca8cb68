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
    val spans = merge(sents.map(a => (a.begin, a.end)), rest.length, rest(_).begin,
      rest(_).end)
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

  /**
   * The sentence spans of [[group]]: `sents` (ascending) with each sentence whose span
   * is overrun by an annotation beginning inside it merged with the following
   * sentences the annotation reaches (ref GenSentences.java:351-366). The `n`
   * annotations are given by `begin(k)` and `end(k)`, ascending in begin.
   */
  def merge(sents: Seq[(Int, Int)], n: Int, begin: Int => Int,
      end: Int => Int): Vector[(Int, Int)] = {
    if (sents.isEmpty) return Vector.empty
    // index of the first annotation with begin ≥ b
    def firstAtOrAfter(b: Int): Int = {
      var lo = 0
      var hi = n
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (begin(mid) < b) lo = mid + 1 else hi = mid
      }
      lo
    }
    // the annotations beginning in [cb, ce) are one run: binary-search its start when a
    // new sentence opens, then extend it as ce grows (cb is fixed within a merge)
    val merged = Vector.newBuilder[(Int, Int)]
    var (cb, ce) = sents.head
    var ri = firstAtOrAfter(cb)
    var runMaxEnd = ce
    sents.iterator.drop(1).foreach { case (b, e) =>
      while (ri < n && begin(ri) < ce) {
        runMaxEnd = math.max(runMaxEnd, end(ri)); ri += 1
      }
      val maxAnnotEnd = math.max(runMaxEnd, ce)
      if (maxAnnotEnd > ce && b < maxAnnotEnd) ce = math.max(maxAnnotEnd, e)
      else {
        merged += ((cb, ce)); cb = b; ce = e
        ri = firstAtOrAfter(cb); runMaxEnd = ce
      }
    }
    merged += ((cb, ce))
    merged.result()
  }
}
