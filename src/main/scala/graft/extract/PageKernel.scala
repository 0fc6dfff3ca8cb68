package graft.extract

import scala.collection.mutable
import org.apache.spark.unsafe.types.UTF8String
import graft.align.Grid
import graft.mention.Sentences
import graft.model.{Annotation, Mention, Pattern, Provenance, SentenceAnnots, Triple}
import graft.nlp.{AhoCorasick, Chunker, Gazetteer, PosTagger, Tokenizer}

/**
 * One page → raw triples: the whole corpus-extraction pass for one page, as a pure
 * function — the reference's per-document AutoAnnotate → PopulateFrame (ref
 * AutoAnnotate.java, PopulateFrame.java:60-314), where every step is local to the page.
 * Every corpus job runs it: [[graft.pipeline.KGPipeline]], [[graft.pipeline.ExtractJob]]
 * (the scaling gate) and [[graft.streaming.StreamExtract]].
 *
 * Per page, [[extract]] reads the normalized text through one token scan
 * ([[PageKernel.scan]]): the gazetteer automaton, and the chunker only when a compiled
 * pattern can match a syntax label, run over the scan's lowered token stream; sentences
 * are split and merged as `Sentences.group` does; and each sentence's grid, token
 * stream and entity Lookups are built from token indices, with no `Annotation` row.
 * [[apply]] reads the same sentences from annotation rows (`annotateOne` →
 * `Sentences.group`, grids by `Grid.build`), the adapter the relational chain, the
 * battery and the parity specs use; both grids come from one column assembly
 * (`Grid.assemble`). Per sentence, ONE grid serves every matcher step:
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

  /** Raw auto triples of one page from its url and normalized text, read through
    * one token scan ([[PageKernel.scan]]). */
  def extract(url: String, text: String): Vector[Triple] =
    triples(url, PageKernel.scan(url, text, gaz, withChunks))

  /** Raw auto triples of one page from its sentences (any order): [[extract]] over
    * annotation rows, public so the specs can compare it with the relational chain and
    * with [[extract]]. */
  def apply(url: String, sentences: Seq[SentenceAnnots]): Vector[Triple] =
    triples(url, sentences.sortBy(_.sentBegin).map(PageKernel.sentenceOf))

  private def triples(url: String, sents: Seq[PageKernel.Sentence]): Vector[Triple] = {
    val rel = Vector.newBuilder[Triple]
    val cands = mutable.ArrayBuffer.empty[Mention]
    sents.foreach { s =>
      if (!s.allCaps) {
        rel ++= PageKernel.pairRelations(s.url, s.grid, relIndex, targets, allowedPairs, prm)
        cands ++= PageKernel.pairMentions(s.url, s.grid, ctxIndex, targets, allowedPairs, prm)
          .filterNot(PageKernel.vetoed(priorVeto))
      }
      cands ++= dictionary.mentions(s)
    }
    val mentions = PageKernel.mergeAdjacent(PageKernel.dedupMentions(cands))
    val subjects = PageKernel.Subjects.of(url, sents)
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
  def pairMentions(url: String, grid: Grid, index: PatternMatcher.Index,
      targets: Map[String, IndexedSeq[PatternMatcher.Compiled]],
      pairs: Map[(Long, Long), Double], prm: PatternMatcher.Params): Vector[Mention] =
    pairHits(grid, index, targets, pairs, prm).filter(_.subjBegin < 0)
      .map { h =>
        Mention(url, h.context.annotType, h.targetBegin, h.targetEnd,
          PatternMatcher.trimTrailingPunct(h.value), h.context.profileId,
          pairs((h.context.profileId, h.target.profileId)))
      }

  /** Pair-model two-slot relation triples of one sentence (see
    * [[Extract.relationTriplesPaired]]). */
  def pairRelations(url: String, grid: Grid, index: PatternMatcher.Index,
      targets: Map[String, IndexedSeq[PatternMatcher.Compiled]],
      pairs: Map[(Long, Long), Double], prm: PatternMatcher.Params): Vector[Triple] =
    pairHits(grid, index, targets, pairs, prm).filter(_.subjBegin >= 0)
      .map { h =>
        Triple(h.subjValue, h.context.annotType,
          PatternMatcher.trimTrailingPunct(h.value),
          url, h.targetBegin, h.targetEnd, h.context.profileId,
          pairs((h.context.profileId, h.target.profileId)), Provenance.Auto)
      }

  /**
   * One sentence as the kernel reads it: its span, its grid, whether it is all caps,
   * its tokens `from` until `until` of the page's token arrays (begin, end, value and
   * lowered value) and its entity Lookups (begin, end, value) in annotation order.
   * [[scan]] builds it from a page's text, [[sentenceOf]] from a sentence's annotation
   * rows; the grid is built when first asked for.
   */
  final class Sentence private[extract] (val url: String, val begin: Int, val end: Int,
      gridOf: () => Grid, capsOf: Sentence => Boolean,
      val tokBegins: Array[Int], val tokEnds: Array[Int], val values: Array[String],
      val lowered: IndexedSeq[String], val from: Int, val until: Int,
      val entities: Array[(Int, Int, String)]) {
    lazy val grid: Grid = gridOf()
    /** An all-caps sentence skips both pattern passes (ref AutoAnnotate.java:459-484). */
    lazy val allCaps: Boolean = capsOf(this)
  }

  private val AllCaps: Sentence => Boolean = _ => true
  private val NotAllCaps: Sentence => Boolean = _ => false
  private val CapsOfGrid: Sentence => Boolean = s => PatternMatcher.isAllCapsSentence(s.grid)

  /** The kernel's view of one sentence's annotation rows: what [[PageKernel.apply]]
    * reads, and the oracle [[scan]] is held to. */
  def sentenceOf(s: SentenceAnnots): Sentence = {
    val toks = s.annots.filter(_.annotType == "Token").sortBy(_.begin).toArray
    val values = toks.map(_.value)
    new Sentence(s.url, s.sentBegin, s.sentEnd,
      () => Grid.build(s.url, s.sentBegin, s.sentEnd, s.annots), CapsOfGrid,
      toks.map(_.begin), toks.map(_.end), values,
      collection.immutable.ArraySeq.unsafeWrapArray(values.map(lowered)), 0, toks.length,
      Subjects.entities(s.annots))
  }

  private val NumberLabels = Grid.coverLabels("Number", Map.empty)
  private val ChunkLabels: Map[String, Array[String]] =
    Chunker.Cats.map(c => c -> Grid.coverLabels("SyntaxTreeNode", Map("cat" -> c))).toMap

  /** One page's sentences from one token scan, equal to [[sentenceOf]] over
    * `Sentences.group(url, Annotate.annotateOne(url, text, gaz, withChunks))` with no
    * annotation row built (see [[PageScan]]). */
  private[graft] def scan(url: String, text: String, gaz: Gazetteer,
      withChunks: Boolean): Vector[Sentence] =
    new PageScan(url, text, gaz, withChunks).sentences

  /**
   * One page read through one token scan. Tokens live in page arrays. The gazetteer
   * automaton, and the chunker when `withChunks`, read the scan's lowered token
   * stream once. The Number, Lookup and chunk spans that cover tokens are merged into
   * one list in the annotation rows' order: (first token, end token), then Number
   * before Lookup before chunk. That list also decides the sentence merges, as
   * `Sentences.group` does. So each sentence reads one run of the page's tokens and
   * one run of the list, and fills its grid's label stacks by token index.
   */
  private final class PageScan(url: String, text: String, gaz: Gazetteer,
      withChunks: Boolean) {
    private val toks = Tokenizer.scan(text)
    private val n = toks.length
    private val begins = new Array[Int](n)
    private val ends = new Array[Int](n)
    private val kinds = new Array[String](n)
    private val values = new Array[String](n)
    private val lows = new Array[String](n)
    locally {
      var i = 0
      toks.foreach { t =>
        begins(i) = t.begin; ends(i) = t.end; kinds(i) = t.kind
        values(i) = Tokenizer.safeValue(text, t.begin, t.end)
        lows(i) = lowered(values(i))
        i += 1
      }
    }
    /** `orth` of the word tokens a grid keeps, as [[Tokenizer.orthCode]]. */
    private val orth = new Array[Int](n)
    /** The page's track labels and POS tags by token value: a token repeats often. */
    private val trackLabels = new Grid.TrackLabels
    private val tags = new java.util.HashMap[String, String]

    // covering spans: tokens [coverS, coverE), their labels and Lookup dictId (else -1)
    private val (coverS, coverE, coverL, coverDict) = {
      // the automaton's and the chunker's stream lowers whole tokens, so it differs
      // from the lowered values only on a token of more than 500 chars
      val stream = collection.immutable.ArraySeq.unsafeWrapArray(
        Array.tabulate(n)(i => if (values(i).length < ends(i) - begins(i))
          lowered(text.substring(begins(i), ends(i))) else lows(i)))
      // the automaton reports by end token; the rows are ordered by first token
      val found = gaz.matches(stream)
      val lookups = if (found.iterator.zip(found.iterator.drop(1)).forall {
          case ((s0, e0, _), (s1, e1, _)) => s0 < s1 || s0 == s1 && e0 <= e1 }) found
        else found.sortBy(m => (m._1, m._2))
      val chunks = if (withChunks) Chunker.chunk(toks, stream) else Vector.empty
      val m = kinds.count(_ == "number") + lookups.size + chunks.size
      val (cs, ce, cl, cd) =
        (new Array[Int](m), new Array[Int](m), new Array[Array[String]](m), new Array[Int](m))
      var num = 0
      var li = 0
      var ci = 0
      var p = 0
      while (p < m) {
        while (num < n && kinds(num) != "number") num += 1
        // the least head by (first token, end token); a tie keeps the earlier origin
        var best = -1
        var bs = Int.MaxValue
        var be = Int.MaxValue
        if (num < n) { best = 0; bs = num; be = num + 1 }
        if (li < lookups.size && (lookups(li)._1 < bs ||
            lookups(li)._1 == bs && lookups(li)._2 < be)) {
          best = 1; bs = lookups(li)._1; be = lookups(li)._2
        }
        if (ci < chunks.size && (chunks(ci).from < bs ||
            chunks(ci).from == bs && chunks(ci).until < be)) {
          best = 2; bs = chunks(ci).from; be = chunks(ci).until
        }
        cs(p) = bs; ce(p) = be; cd(p) = -1
        best match {
          case 0 => cl(p) = NumberLabels; num += 1
          case 1 => cd(p) = lookups(li)._3; cl(p) = gaz.labels(cd(p)); li += 1
          case _ => cl(p) = ChunkLabels(chunks(ci).cat); ci += 1
        }
        p += 1
      }
      (cs, ce, cl, cd)
    }

    def sentences: Vector[Sentence] = {
      val spans = Sentences.merge(Tokenizer.sentences(text), coverS.length,
        k => begins(coverS(k)), k => ends(coverE(k) - 1))
      // the sweep of Sentences.group: a token, and a span by its first token, belongs
      // to the first sentence its begin falls in that no earlier one took
      val out = Vector.newBuilder[Sentence]
      var t = 0
      var p = 0
      spans.foreach { case (sb, se) =>
        while (t < n && begins(t) < sb) t += 1
        val t0 = t
        while (t < n && begins(t) < se) t += 1
        while (p < coverS.length && coverS(p) < t0) p += 1
        val p0 = p
        while (p < coverS.length && coverS(p) < t) p += 1
        if (t > t0) out += sentence(sb, se, t0, t, p0, p)
      }
      out.result()
    }

    /** Sentence [sb, se) of tokens [t0, t1) and covering spans [p0, p1). */
    private def sentence(sb: Int, se: Int, t0: Int, t1: Int, p0: Int, p1: Int): Sentence = {
      val kept = math.min(t1 - t0, Grid.MaxTokens)
      var words = 0
      var caps = 0
      var k = t0
      while (k < t0 + kept) {
        if (kinds(k) == "word") {
          orth(k) = Tokenizer.orthCode(values(k))
          words += 1
          if (orth(k) == Tokenizer.AllCaps) caps += 1
        }
        k += 1
      }
      var lookupSpans = Set.empty[(Int, Int)]
      val entities = Array.newBuilder[(Int, Int, String)]
      k = p0
      while (k < p1) {
        if (coverDict(k) >= 0) {
          val (b, e) = (begins(coverS(k)), ends(coverE(k) - 1))
          lookupSpans += ((b, e))
          if (Subjects.isEntity(gaz.entry(coverDict(k)).majorType))
            entities += ((b, e, Tokenizer.safeValue(text, b, e)))
        }
        k += 1
      }
      new Sentence(url, sb, se, () => grid(sb, se, t0, kept, p0, p1, lookupSpans),
        if (words > 0 && caps == words) AllCaps else NotAllCaps,
        begins, ends, values, collection.immutable.ArraySeq.unsafeWrapArray(lows), t0, t1,
        entities.result())
    }

    /** The grid of sentence [sb, se): its first `kept` tokens from `t0`, with the
      * covering spans [p0, p1) clipped to them (a span starting past them covers
      * none). */
    private def grid(sb: Int, se: Int, t0: Int, kept: Int, p0: Int, p1: Int,
        lookupSpans: Set[(Int, Int)]): Grid = {
      val tracks = Grid.TokenFeatures.length
      val features = new Array[String](kept * tracks)
      var c = 0
      while (c < kept) {
        val t = t0 + c
        features(c * tracks) = values(t)
        features(c * tracks + 1) = lows(t)
        if (kinds(t) == "word") features(c * tracks + 2) = Tokenizer.OrthNames(orth(t))
        // a token's kind, and so its tag, is a function of its text
        var tag = tags.get(values(t))
        if (tag == null) {
          tag = PosTagger.tag(kinds(t), values(t))
          tags.put(values(t), tag)
        }
        features(c * tracks + 3) = tag
        features(c * tracks + 4) = kinds(t)
        c += 1
      }
      val lo = new Array[Int](p1 - p0)
      val hi = new Array[Int](p1 - p0)
      val labels = new Array[Array[String]](p1 - p0)
      var m = 0
      var p = p0
      while (p < p1) {
        if (coverS(p) < t0 + kept) {
          lo(m) = coverS(p) - t0
          hi(m) = math.min(coverE(p), t0 + kept) - 1 - t0
          labels(m) = coverL(p)
          m += 1
        }
        p += 1
      }
      Grid.assemble(url, sb, se, begins, ends, values, t0, kept, features, trackLabels, m, lo,
        hi, labels, lookupSpans)
    }
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
      if (entries.isEmpty) Vector.empty else mentions(sentenceOf(s))

    /** Matched on the sentence's lowered token stream; a mention's value is its
      * tokens' values joined by spaces. */
    def mentions(s: Sentence): Vector[Mention] =
      if (entries.isEmpty) Vector.empty
      else ac.findAll(s.lowered, s.from, s.until).map { case (b0, e0, dictId) =>
        val (annotType, _, priorBp) = entries(dictId)
        Mention(s.url, annotType, s.tokBegins(b0), s.tokEnds(e0 - 1),
          s.values.slice(b0, e0).mkString(" "), -2L, priorBp / 10000.0)
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
      of(url, sents.iterator.map(s => (s.sentBegin, s.sentEnd, entities(s.annots))))

    /** From one page's kernel sentences (ascending begin). */
    def of(url: String, sents: Seq[Sentence]): Subjects =
      of(url, sents.iterator.map(s => (s.begin, s.end, s.entities)))

    /** Is a Lookup of this major type a subject candidate? */
    def isEntity(majorType: String): Boolean = majorType == "entity"

    /** The subject candidates among a sentence's annotations, (begin, end, value) in
      * annotation order: its entity Lookups. */
    private[extract] def entities(annots: Seq[Annotation]): Array[(Int, Int, String)] =
      annots.iterator.filter(a => a.annotType == "Lookup" &&
          isEntity(a.features.getOrElse("majorType", "")))
        .map(a => (a.begin, a.end, a.value)).toArray

    /** From one page's (sentBegin, sentEnd, subjBegin, subjEnd, subjValue) rows, in
      * sentence then annotation order. */
    def fromRows(url: String, rows: Iterator[(Int, Int, Int, Int, String)]): Subjects = {
      val bySent = mutable.LinkedHashMap.empty[(Int, Int), mutable.ArrayBuilder[(Int, Int, String)]]
      rows.foreach { case (sb, se, ab, ae, v) =>
        bySent.getOrElseUpdate((sb, se), Array.newBuilder[(Int, Int, String)]) += ((ab, ae, v))
      }
      of(url, bySent.iterator.map { case ((sb, se), b) => (sb, se, b.result()) }.toVector
        .sortBy(_._1).iterator)
    }

    private def of(url: String, sents: Iterator[(Int, Int, Array[(Int, Int, String)])]): Subjects = {
      val all = sents.toVector
      val begins = all.map(_._1).toArray
      val ends = all.map(_._2).toArray
      val reach = ends.scanLeft(Int.MinValue)(math.max).tail
      new Subjects(url, begins, ends, reach, all.map(_._3).toArray)
    }
  }
}
