package graft.extract

import scala.collection.mutable
import org.apache.spark.unsafe.types.UTF8String
import graft.align.Grid
import graft.mention.Sentences
import graft.model.{Annotation, Mention, Pattern, Provenance, SentenceAnnots, Triple}
import graft.nlp.{AhoCorasick, Annotate, Gazetteer}

/**
 * One page → raw triples: the whole corpus-extraction pass for one page, as a pure
 * function — the reference's per-document AutoAnnotate → PopulateFrame (ref
 * AutoAnnotate.java, PopulateFrame.java:60-314), where every step is local to the page.
 * Every corpus job runs it: [[graft.pipeline.KGPipeline]], [[graft.pipeline.ExtractJob]]
 * (the scaling gate) and [[graft.streaming.StreamExtract]].
 *
 * Per page, [[extract]] annotates the normalized text (tokens, gazetteer Lookups, and
 * chunks only when a compiled pattern can match a syntax label) and groups it into
 * sentences. Per sentence, ONE grid serves every matcher step:
 *  - two-slot relation patterns → triples with the subject bound by the match;
 *  - plain context patterns → mentions (subject resolved below), pair-gated, scored by
 *    the pair's precision, then the value-prior veto;
 *  - all-caps sentences skip both pattern passes;
 *  - the dictionary pass (trusted prior values, every occurrence) is neither vetoed
 *    nor skipped on all-caps sentences.
 * Both pattern passes are one [[PatternMatcher.matchPairs]] call: a single pass (the
 * reference's cascade re-insertion is not carried), a pattern tried only when every
 * literal occurs, and a span overlapping an accepted one dropped.
 * Per page: the same-span dedup winner, the W4 adjacent merge, and sentence-local
 * subject resolution against entity Lookups.
 *
 * The relational [[Extract]] functions are Dataset wrappers over the per-sentence
 * helpers in the companion object, so each step has one implementation; the kernel's
 * output equals that relational chain row for row (PageKernelSpec).
 */
final class PageKernel(
    relIndex: PatternMatcher.Index,
    ctxIndex: PatternMatcher.Index,
    targets: Map[String, IndexedSeq[PatternMatcher.Compiled]],
    allowedPairs: Map[(Long, Long), Double],
    priorVeto: Map[(String, String), Long],
    dictionary: PageKernel.Dictionary,
    gaz: Gazetteer,
    prm: PatternMatcher.Params) extends Serializable {

  /** Chunk the page only when some relation, context or target pattern can match a
    * syntax label: otherwise the per-page chunk scan buys nothing. */
  private val withChunks = relIndex.needsSyntax || ctxIndex.needsSyntax ||
    targets.valuesIterator.exists(PatternMatcher.needsSyntax)

  /** Raw auto triples of one page from its url and normalized text. */
  def extract(url: String, text: String): Vector[Triple] =
    apply(url, Sentences.group(url, Annotate.annotateOne(url, text, gaz, withChunks)))

  /** Raw auto triples of one page from its sentences (any order): [[extract]] after
    * grouping, public so PageKernelSpec can compare it with the relational chain. */
  def apply(url: String, sentences: Seq[SentenceAnnots]): Vector[Triple] = {
    val sents = sentences.sortBy(_.sentBegin)
    val rel = Vector.newBuilder[Triple]
    val cands = mutable.ArrayBuffer.empty[Mention]
    sents.foreach { s =>
      PageKernel.matchableGrid(s).foreach { grid =>
        rel ++= PageKernel.pairRelations(s, grid, relIndex, targets, allowedPairs, prm)
        cands ++= PageKernel.pairMentions(s, grid, ctxIndex, targets, allowedPairs, prm)
          .filterNot(PageKernel.vetoed(priorVeto))
      }
      cands ++= dictionary.mentions(s)
    }
    val mentions = PageKernel.mergeAdjacent(PageKernel.dedupMentions(cands))
    val subjects = PageKernel.Subjects(url, sents)
    mentions.map(subjects.resolve(_)) ++ rel.result()
  }
}

object PageKernel {

  /** Compile the extraction model. `dictEntries` are (annotType, value, priorBp);
    * `gaz` annotates the Lookups of every page [[PageKernel.extract]] reads. */
  def apply(relPatterns: Seq[Pattern], plainPatterns: Seq[Pattern],
      targetPatterns: Seq[Pattern], allowedPairs: Map[(Long, Long), Double],
      priorVeto: Map[(String, String), Long], dictEntries: Seq[(String, String, Long)],
      gaz: Gazetteer, prm: PatternMatcher.Params): PageKernel =
    new PageKernel(PatternMatcher.buildIndex(relPatterns),
      PatternMatcher.buildIndex(plainPatterns), compileTargets(targetPatterns),
      allowedPairs, priorVeto, Dictionary(dictEntries), gaz, prm)

  /** Compiled target profiles grouped by annotType, longest-first. */
  def compileTargets(
      targetPatterns: Seq[Pattern]): Map[String, IndexedSeq[PatternMatcher.Compiled]] =
    targetPatterns.groupBy(_.annotType).map { case (t, ps) =>
      t -> ps.sortBy(p => (-p.toks.size, p.toks.mkString("")))
        .map(PatternMatcher.compile).toIndexedSeq
    }

  /** The sentence's grid, or None for an all-caps sentence (skipped by the pattern
    * passes, ref AutoAnnotate.java:459-484). */
  def matchableGrid(s: SentenceAnnots): Option[Grid] = {
    val grid = Grid.build(s.url, s.sentBegin, s.sentEnd, s.annots)
    if (PatternMatcher.isAllCapsSentence(grid)) None else Some(grid)
  }

  private def pairHits(grid: Grid, index: PatternMatcher.Index,
      targets: Map[String, IndexedSeq[PatternMatcher.Compiled]],
      pairs: Map[(Long, Long), Double],
      prm: PatternMatcher.Params): Vector[PatternMatcher.PairHit] =
    PatternMatcher.matchPairs(grid, index, targets, prm, allowedPairs = Some(pairs.keySet))

  /** Pair-model single-slot mentions of one sentence, scored by the pair's precision
    * (see [[Extract.mentionsPaired]]). */
  def pairMentions(s: SentenceAnnots, grid: Grid, index: PatternMatcher.Index,
      targets: Map[String, IndexedSeq[PatternMatcher.Compiled]],
      pairs: Map[(Long, Long), Double], prm: PatternMatcher.Params): Vector[Mention] =
    pairHits(grid, index, targets, pairs, prm).filter(_.subjBegin < 0)
      .map { h =>
        Mention(s.url, h.context.annotType, h.targetBegin, h.targetEnd,
          PatternMatcher.trimTrailingPunct(h.value), h.context.profileId,
          pairs((h.context.profileId, h.target.profileId)))
      }

  /** Pair-model two-slot relation triples of one sentence (see
    * [[Extract.relationTriplesPaired]]). */
  def pairRelations(s: SentenceAnnots, grid: Grid, index: PatternMatcher.Index,
      targets: Map[String, IndexedSeq[PatternMatcher.Compiled]],
      pairs: Map[(Long, Long), Double], prm: PatternMatcher.Params): Vector[Triple] =
    pairHits(grid, index, targets, pairs, prm).filter(_.subjBegin >= 0)
      .map { h =>
        Triple(h.subjValue, h.context.annotType,
          PatternMatcher.trimTrailingPunct(h.value),
          s.url, h.targetBegin, h.targetEnd, h.context.profileId,
          pairs((h.context.profileId, h.target.profileId)), Provenance.Auto)
      }

  /** The lowercasing of every value-prior key, dictionary entry and token stream:
    * locale-independent, as Spark's `lower`. The JVM default locale must not decide
    * whether a corpus token meets its gold value (under `tr`, "TITAN" would lower to
    * "tıtan"). */
  def lowered(s: String): String = s.toLowerCase(java.util.Locale.ROOT)

  /** Value-prior veto predicate: prior −1 for (annotType, lowercased value). */
  def vetoed(priors: Map[(String, String), Long])(m: Mention): Boolean =
    priors.getOrElse((m.annotType, lowered(m.value)), 0L) == -1L

  /** Dictionary single-entity pass (see [[Extract.dictionaryMentions]]): entries are
    * (annotType, value, priorBp), matched case-insensitively on token streams. */
  final class Dictionary private (entries: IndexedSeq[(String, String, Long)],
      ac: AhoCorasick) extends Serializable {
    def mentions(s: SentenceAnnots): Vector[Mention] =
      if (entries.isEmpty) Vector.empty
      else {
        val toks = s.annots.filter(_.annotType == "Token").sortBy(_.begin).toIndexedSeq
        ac.findAll(toks.map(a => lowered(a.value))).map { case (b0, e0, dictId) =>
          val (annotType, _, priorBp) = entries(dictId)
          Mention(s.url, annotType, toks(b0).begin, toks(e0 - 1).end,
            toks.slice(b0, e0).map(_.value).mkString(" "), -2L, priorBp / 10000.0)
        }
      }
  }

  object Dictionary {
    def apply(entries: Seq[(String, String, Long)]): Dictionary = {
      val dict = entries.sortBy(e => (e._1, e._2)).toIndexedSeq
      new Dictionary(dict, AhoCorasick.build(dict.map(e => lowered(e._2).split("\\s+").toSeq)))
    }
  }

  /** Does `a` beat `b` for one (url, annotType, begin, end) site? The max of (score,
    * −profileId, value) — [[Extract.dedupMentions]]' struct order: doubles with
    * −0.0 == 0.0, strings in UTF-8 byte order. */
  private def beats(a: Mention, b: Mention): Boolean = {
    val bySc = if (a.score == b.score) 0 else java.lang.Double.compare(a.score, b.score)
    if (bySc != 0) bySc > 0
    else if (a.profileId != b.profileId) a.profileId < b.profileId
    else UTF8String.fromString(a.value).compareTo(UTF8String.fromString(b.value)) > 0
  }

  /** One mention per (url, annotType, begin, end): the [[beats]] winner, whole. */
  def dedupMentions(ms: Iterable[Mention]): Vector[Mention] = {
    val best = mutable.LinkedHashMap.empty[(String, String, Int, Int), Mention]
    ms.foreach { m =>
      val k = (m.url, m.annotType, m.begin, m.end)
      best.get(k) match {
        case Some(cur) if !beats(m, cur) =>
        case _ => best(k) = m
      }
    }
    best.values.toVector
  }

  /** W4 adjacent merge on one page's mentions: per type, in (begin, end) order, a
    * mention starting at most one char past the group's running maximum end joins the
    * group (ref AutoAnnotate.java:929-1034). */
  def mergeAdjacent(mentions: Seq[Mention]): Vector[Mention] =
    mentions.groupBy(_.annotType).toVector.flatMap { case (_, ms) =>
      val sorted = ms.sortBy(m => (m.begin, m.end))
      val out = Vector.newBuilder[Mention]
      var cur: Mention = null
      sorted.foreach { m =>
        if (cur == null) cur = m
        else if (m.begin <= cur.end + 1)
          cur = cur.copy(end = math.max(cur.end, m.end),
            value = cur.value + " " + m.value,
            profileId = math.min(cur.profileId, m.profileId),
            score = math.max(cur.score, m.score))
        else { out += cur; cur = m }
      }
      if (cur != null) out += cur
      out.result()
    }

  private val HostRe = "^[a-z]+://([^/]+)".r

  /** The url's host, the subject of a mention with no entity in its sentence. */
  private def host(url: String): String =
    HostRe.findFirstMatchIn(url).map(_.group(1)).getOrElse("")

  /**
   * Sentence-local subject resolution for one page. A mention's candidates are the
   * entity Lookups of every sentence whose span contains the mention's begin, minus
   * the mention's own span; the nearest preceding one wins, else the first following
   * one, else the host — min (dist, ab), ties in annotation order.
   *
   * @param begins sentence begins, ascending
   * @param reach  running maximum of sentence ends (sentences may overlap when a
   *        merge stopped inside an overrunning annotation), bounding the backward scan
   */
  final class Subjects private (url: String, begins: Array[Int], ends: Array[Int],
      reach: Array[Int], cands: Array[Array[(Int, Int, String)]]) {
    private val hostName = host(url)

    def resolve(m: Mention, provenance: String = Provenance.Auto): Triple = {
      // last sentence beginning at or before the mention
      var lo = 0
      var hi = begins.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (begins(mid) <= m.begin) lo = mid + 1 else hi = mid
      }
      var first = lo // sentences [first, lo) may contain m.begin
      while (first > 0 && reach(first - 1) > m.begin) first -= 1
      var bestDist = Long.MaxValue
      var bestAb = Int.MaxValue
      var bestVal: String = null
      var k = first
      while (k < lo) {
        if (m.begin < ends(k)) cands(k).foreach { case (ab, ae, v) =>
          if (!(ab == m.begin && ae == m.end)) {
            val dist: Long = if (ae <= m.begin) (m.begin - ae).toLong
                             else 1000000L + (ab - m.begin)
            if (dist < bestDist || (dist == bestDist && ab < bestAb)) {
              bestDist = dist; bestAb = ab; bestVal = v
            }
          }
        }
        k += 1
      }
      Triple(if (bestVal != null) bestVal else hostName, m.annotType, m.value,
        m.url, m.begin, m.end, m.profileId, m.score, provenance)
    }
  }

  object Subjects {
    /** From one page's sentences (ascending begin). */
    def apply(url: String, sents: Seq[SentenceAnnots]): Subjects =
      of(url, sents.map(s => (s.sentBegin, s.sentEnd,
        s.annots.iterator.filter(isSubject)
          .map(a => (a.begin, a.end, a.value)).toArray)))

    /** Is `a` a subject candidate: an entity Lookup? */
    private[extract] def isSubject(a: Annotation): Boolean =
      a.annotType == "Lookup" && a.features.getOrElse("majorType", "") == "entity"

    /** From one page's (sentBegin, sentEnd, subjBegin, subjEnd, subjValue) rows, in
      * sentence then annotation order. */
    def fromRows(url: String, rows: Iterator[(Int, Int, Int, Int, String)]): Subjects = {
      val bySent = mutable.LinkedHashMap.empty[(Int, Int), mutable.ArrayBuilder[(Int, Int, String)]]
      rows.foreach { case (sb, se, ab, ae, v) =>
        bySent.getOrElseUpdate((sb, se), Array.newBuilder[(Int, Int, String)]) += ((ab, ae, v))
      }
      of(url, bySent.toVector.map { case ((sb, se), b) => (sb, se, b.result()) }
        .sortBy(_._1))
    }

    private def of(url: String, sents: Seq[(Int, Int, Array[(Int, Int, String)])]): Subjects = {
      val begins = sents.map(_._1).toArray
      val ends = sents.map(_._2).toArray
      val reach = ends.scanLeft(Int.MinValue)(math.max).tail
      new Subjects(url, begins, ends, reach, sents.map(_._3).toArray)
    }
  }
}
