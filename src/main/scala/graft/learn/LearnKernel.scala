package graft.learn

import scala.collection.mutable
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.types.UTF8String
import graft.extract.{PageKernel, PatternMatcher}
import graft.model.{Annotation, Mention, Pattern, PatternMatch, SentenceAnnots, Triple}
import graft.nlp.AhoCorasick

/**
 * Learning on the validated training slice as plain functions: MSA patterns, per-pair
 * precision stats and the pair gate, value priors, and the triples of the gold spans.
 * The reference learns single-threaded on its small validated sample and extracts at
 * scale (SURVEY.md §7.4.2, ref IEDriver.java); [[graft.pipeline.KGPipeline]] collects
 * its training slice once and runs these functions on the driver.
 *
 * Each rule has this one implementation. The Dataset operators that stored tables and
 * the oracle queries use ([[GenMSA.learn]], [[PatternStats]], [[ValueProbs.compute]])
 * are wrappers that group their rows per block, per url or per value and call the
 * per-group functions here. Where a rule orders or hashes strings it does so as Spark
 * does (UTF-8 byte order, `xxhash64` seed 42), so the learned ids and blocks equal
 * those of any Spark formulation.
 */
object LearnKernel {

  /** Spark's string order: unsigned UTF-8 bytes. It differs from `String.compareTo`
    * (UTF-16 code units) where a character above U+FFFF meets one in U+E000–U+FFFF. */
  val Utf8Order: Ordering[String] =
    (a, b) => UTF8String.fromString(a).compareTo(UTF8String.fromString(b))

  // ---- (1) MSA patterns ----

  /** The annotTypes `s` is a training sentence of: those of its gold spans whose
    * provenance is in `goldProvenances`. */
  def trainingTypes(s: SentenceAnnots, goldProvenances: Set[String]): Seq[String] =
    s.annots.filter(a => goldProvenances(a.provenance)).map(_.annotType).distinct

  /** One annotType's training sentences cut into MSA blocks: ranked by (url in UTF-8
    * byte order, sentBegin), every `blockSize` consecutive sentences one block
    * (ref msaBlockSize; cross-block pairs never align, GenMSADriver.java:539-586). */
  def blocks(sents: Seq[SentenceAnnots], blockSize: Int): Iterator[Vector[SentenceAnnots]] =
    sents.sortBy(s => (s.url, s.sentBegin))(Ordering.Tuple2(Utf8Order, Ordering.Int))
      .toVector.grouped(blockSize)

  /** A profile's id: Spark's `xxhash64` (seed 42) over the UTF-8 bytes of
    * `concat_ws("\u0001", annotType, profileType, concat_ws("\u0001", toks))`, a
    * content hash identical at any parallelism (SURVEY.md §7.4.4). */
  def profileId(annotType: String, profileType: Int, toks: Seq[String]): Long =
    XXH64.hashUTF8String(UTF8String.fromString(
      Seq(annotType, profileType.toString, toks.mkString("\u0001")).mkString("\u0001")), 42L)

  /** The pattern of an aligned token sequence seen `rows` times, or None below
    * `minRows` (ref GenMSA.java:636). */
  def pattern(annotType: String, toks: Seq[String], profileType: Int, rows: Long,
      minRows: Int): Option[Pattern] =
    if (rows < minRows) None
    else Some(Pattern(profileId(annotType, profileType, toks), toks, annotType, profileType,
      "msa", 0.0, 0L, 0L, rows))

  /** Every pattern learned from `sents`: per annotType its [[blocks]], each aligned
    * all-pairs by [[GenMSA.alignBlock]], identical sequences counted, then
    * [[pattern]]. Ordered by profileId. */
  def patterns(sents: Seq[SentenceAnnots], goldProvenances: Set[String],
      cfg: GenMSA.Config): Seq[Pattern] = {
    val byType = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[SentenceAnnots]]
    sents.foreach(s => trainingTypes(s, goldProvenances).foreach(t =>
      byType.getOrElseUpdate(t, mutable.ArrayBuffer.empty) += s))
    val rows = mutable.HashMap.empty[(String, Seq[String], Int), Long]
    for ((t, ss) <- byType; block <- blocks(ss.toSeq, cfg.blockSize);
         aligned <- GenMSA.alignBlock(t, block, goldProvenances))
      rows(aligned) = rows.getOrElse(aligned, 0L) + 1
    rows.iterator.flatMap { case ((t, toks, pType), n) =>
      pattern(t, toks, pType, n, cfg.minRows)
    }.toVector.sortBy(_.profileId)
  }

  // ---- (2) pair stats and the pair gate ----

  /** Per-doc cap on counted matches of one pair (ref BestPatterns.java:441-443). */
  val DocCap = 50L

  /** Per-(context, target) pair statistics: the reference's `final` table
    * (ref sql/ie-mysql.sql:24-33). */
  final case class PairStat(profileId: Long, targetId: Long, tp: Long, fp: Long,
      total: Long, prec: Double)

  /** One training sentence's raw pair matches: none on an all-caps sentence, else every
    * [[PatternMatcher.matchPairs]] hit without overlap suppression (the reference
    * computes precision before overlap filtering). */
  def sentenceMatches(s: SentenceAnnots, index: PatternMatcher.Index,
      targets: Map[String, IndexedSeq[PatternMatcher.Compiled]],
      prm: PatternMatcher.Params): Iterator[PatternMatch] =
    PageKernel.matchableGrid(s).iterator.flatMap { grid =>
      PatternMatcher.matchPairs(grid, index, targets, prm,
        suppressOverlaps = false).iterator.map { h =>
        PatternMatch(h.context.profileId, h.target.profileId, s.url, h.targetBegin,
          h.targetEnd, PatternMatcher.trimTrailingPunct(h.value))
      }
    }

  /** J5 gold-span snap (ref BestPatterns.java:1332-1358): a span widened to the least
    * begin and greatest end of the tokens it intersects; unchanged when it intersects
    * none. `tokens` are one url's (begin, end). */
  def snap(begin: Int, end: Int, tokens: Iterable[(Int, Int)]): (Int, Int) = {
    var b = Int.MaxValue
    var e = Int.MinValue
    tokens.foreach { case (tb, te) =>
      if (tb < end && te > begin) { b = math.min(b, tb); e = math.max(e, te) }
    }
    if (e == Int.MinValue) (begin, end) else (b, e)
  }

  /** The annotTypes of each profile id in `patterns`. */
  def profileTypes(patterns: Iterable[Pattern]): Map[Long, Set[String]] =
    patterns.groupMapReduce(_.profileId)(p => Set(p.annotType))(_ ++ _)

  /**
   * One url's per-pair (tp, fp), each capped at [[DocCap]]. Matches are judged once
   * per distinct (pair, begin, end) site: a site is a true positive when one of its
   * ±`tolerance` boundary variants is a gold key (annotType, begin, end) of the url
   * whose type is one of the context profile's types.
   */
  def judgeDoc(matches: Iterator[PatternMatch], goldKeys: Set[(String, Int, Int)],
      typesOf: Map[Long, Set[String]], tolerance: Int): Iterator[((Long, Long), (Long, Long))] = {
    val sites = mutable.LinkedHashSet.empty[(Long, Long, Int, Int)]
    matches.foreach(m => sites += ((m.profileId, m.targetId, m.begin, m.end)))
    val counts = mutable.LinkedHashMap.empty[(Long, Long), Array[Long]]
    sites.foreach { case (c, t, b, e) =>
      val types = typesOf.getOrElse(c, Set.empty)
      val isTp = goldKeys.nonEmpty && types.nonEmpty &&
        (-tolerance to tolerance).exists(db => (-tolerance to tolerance).exists(de =>
          types.exists(ty => goldKeys.contains((ty, b + db, e + de)))))
      counts.getOrElseUpdate((c, t), Array(0L, 0L))(if (isTp) 0 else 1) += 1
    }
    counts.iterator.map { case (pair, tf) =>
      (pair, (math.min(tf(0), DocCap), math.min(tf(1), DocCap)))
    }
  }

  /** Precision with the reference's correction, which subtracts 1 from the NEGATIVE
    * count only: tp / (tp + max(fp − 1, 0)), 0 when that is 0 — never above 1.0
    * (ref BestPatterns.java:525-531). */
  def precision(tp: Long, fp: Long): Double = {
    val denom = corrected(tp, fp)
    if (denom > 0) tp.toDouble / denom else 0.0
  }

  /** [[precision]] in basis points: floor(tp·10000 / (tp + max(fp − 1, 0))), 0 when
    * that denominator is 0. */
  def precisionBp(tp: Long, fp: Long): Long = {
    val denom = corrected(tp, fp)
    if (denom > 0) math.floor(tp * 10000.0 / denom).toLong else 0L
  }

  private def corrected(tp: Long, fp: Long): Long = tp + math.max(fp - 1, 0L)

  /** A pair's stats from its per-url (tp, fp). */
  def pairStat(pair: (Long, Long), perDoc: Iterator[(Long, Long)]): PairStat = {
    var tp = 0L
    var fp = 0L
    perDoc.foreach { case (t, f) => tp += t; fp += f }
    PairStat(pair._1, pair._2, tp, fp, tp + fp, precision(tp, fp))
  }

  /** The promotion gate (ref ProfileReader.readFinal, ProfileReader.java:257-279):
    * precision ≥ posThreshold and total ≥ minCount. */
  def kept(total: Long, prec: Double, cfg: PatternStats.Config): Boolean =
    prec >= cfg.posThreshold && total >= cfg.minCount

  /** A3 active check: a context profile stays active when its best pair precision
    * reaches activeThreshold (ref BestPatterns.java:561-565,612-620). */
  def active(bestPrec: Double, cfg: PatternStats.Config): Boolean =
    bestPrec >= cfg.activeThreshold

  /** The pair gate: pairs [[kept]] whose context profile is [[active]], with their
    * precision. */
  def allowedPairs(stats: Seq[PairStat], cfg: PatternStats.Config): Map[(Long, Long), Double] = {
    val activeIds = stats.groupMapReduce(_.profileId)(_.prec)(math.max)
      .collect { case (id, best) if active(best, cfg) => id }.toSet
    stats.collect {
      case s if activeIds(s.profileId) && kept(s.total, s.prec, cfg) =>
        (s.profileId, s.targetId) -> s.prec
    }.toMap
  }

  /** Pair stats of context patterns `ctx` paired with target profiles `tgt` over the
    * training sentences, judged against `gold` snapped to each url's tokens; `learned`
    * gives each profile id its types. Ordered by (profileId, targetId). */
  def pairStats(sents: Seq[SentenceAnnots], ctx: Seq[Pattern], tgt: Seq[Pattern],
      learned: Seq[Pattern], gold: Seq[Annotation], cfg: PatternStats.Config): Seq[PairStat] = {
    val index = PatternMatcher.buildIndex(ctx)
    val targets = PageKernel.compileTargets(tgt)
    val typesOf = profileTypes(learned)
    val goldByUrl = gold.groupBy(_.url)
    val perDoc = mutable.HashMap.empty[(Long, Long), mutable.ArrayBuffer[(Long, Long)]]
    sents.groupBy(_.url).foreach { case (url, ss) =>
      val matches = ss.iterator.flatMap(sentenceMatches(_, index, targets, cfg.matcher))
      if (matches.hasNext) {
        val tokens = ss.flatMap(_.annots.iterator.filter(_.annotType == "Token")
          .map(a => (a.begin, a.end)))
        val keys = goldByUrl.getOrElse(url, Nil).map { a =>
          val (b, e) = snap(a.begin, a.end, tokens)
          (a.annotType, b, e)
        }.toSet
        judgeDoc(matches, keys, typesOf, cfg.evalTolerance).foreach { case (pair, tf) =>
          perDoc.getOrElseUpdate(pair, mutable.ArrayBuffer.empty) += tf
        }
      }
    }
    perDoc.iterator.map { case (pair, docs) => pairStat(pair, docs.iterator) }
      .toVector.sortBy(s => (s.profileId, s.targetId))
  }

  // ---- (3) value priors ----

  /** One row of the A6 prior table; priorBp ∈ {floor(prob·10000), −1, 0}. */
  final case class Prior(annotType: String, value: String, goldCnt: Long, totalCnt: Long,
      priorBp: Long)

  /** A gold (annotType, value) row's prior key: the value lowercased. */
  def goldKey(annotType: String, value: String): (String, String) =
    (annotType, PageKernel.lowered(value))

  /** The capped vocabulary: the top `maxVocabulary` values by gold count summed over
    * annotTypes, ties by value (UTF-8 order). Overflow is logged, never silent. */
  def vocabulary(goldCnt: Map[(String, String), Long], maxVocabulary: Int): IndexedSeq[String] = {
    val ranked = goldCnt.groupMapReduce(_._1._2)(_._2)(_ + _).toVector
      .sortBy { case (v, g) => (-g, v) }(Ordering.Tuple2(Ordering.Long, Utf8Order))
    if (ranked.length > maxVocabulary)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"ValueProbs: gold vocabulary exceeds maxVocabulary=$maxVocabulary; " +
          "lowest-gold-count values are DROPPED from the prior table (no silent cap)")
    ranked.take(maxVocabulary).map(_._1).sorted(Utf8Order)
  }

  /** The automaton over the vocabulary's whitespace-split values; dictId = index. */
  def automaton(values: IndexedSeq[String]): AhoCorasick =
    AhoCorasick.build(values.map(_.split("\\s+").toSeq))

  /** The vocabulary values occurring in one sentence's lowercased token stream, one per
    * occurrence. */
  def occurrences(s: SentenceAnnots, ac: AhoCorasick,
      values: IndexedSeq[String]): Iterator[String] = {
    val stream = s.annots.filter(_.annotType == "Token").sortBy(_.begin)
      .map(a => PageKernel.lowered(a.value)).toIndexedSeq
    ac.findAll(stream).iterator.map { case (_, _, dictId) => values(dictId) }
  }

  /**
   * The gate ladder (ref AutoAnnotateNER.genValProbMap, AutoAnnotateNER.java:2475-2535)
   * for a value seen `goldCnt` times as gold and `occCnt` times in the corpus. Returns
   * (total, priorBp) with total = max(occ, gold):
   *  - occ < gold: the occurrence pass failed to find the value (e.g. a tokenization
   *    mismatch on a punctuated multi-word value), so the measurement is broken — 0,
   *    never a minted trusted prior;
   *  - total < minGlobalCount: too rare to judge — 0;
   *  - gold·10000 / total ≥ minGlobalPrec·10000, in double division as Spark's `/`:
   *    the floor of that quotient (trusted);
   *  - else −1 (veto: the value is usually not of this type).
   */
  def prior(goldCnt: Long, occCnt: Long, cfg: ValueProbs.Config): (Long, Long) = {
    val total = math.max(occCnt, goldCnt)
    val q = (goldCnt * 10000L).toDouble / total
    val bp =
      if (occCnt < goldCnt || total < cfg.minGlobalCount) 0L
      else if (q >= cfg.minGlobalPrec * 10000) math.floor(q).toLong
      else -1L
    (total, bp)
  }

  /** The prior rows of the vocabulary's values given their corpus occurrence counts;
    * with an empty vocabulary every gold row is neutral with total 0. Ordered by
    * (annotType, value). */
  def priors(goldCnt: Map[(String, String), Long], values: IndexedSeq[String],
      occ: String => Long, cfg: ValueProbs.Config): Seq[Prior] = {
    val rows =
      if (values.isEmpty) goldCnt.toVector.map { case ((t, v), g) => Prior(t, v, g, 0L, 0L) }
      else {
        val vocab = values.toSet
        goldCnt.toVector.collect { case ((t, v), g) if vocab(v) =>
          val (total, bp) = prior(g, occ(v), cfg)
          Prior(t, v, g, total, bp)
        }
      }
    rows.sortBy(p => (p.annotType, p.value))(Ordering.Tuple2(Utf8Order, Utf8Order))
  }

  /** The A6 prior table of gold (annotType, value) rows over the training sentences. */
  def valuePriors(sents: Seq[SentenceAnnots], gold: Seq[(String, String)],
      cfg: ValueProbs.Config): Seq[Prior] = {
    val goldCnt = gold.groupMapReduce { case (t, v) => goldKey(t, v) }(_ => 1L)(_ + _)
    val values = vocabulary(goldCnt, cfg.maxVocabulary)
    val occ = mutable.HashMap.empty[String, Long]
    if (values.nonEmpty) {
      val ac = automaton(values)
      sents.foreach(s => occurrences(s, ac, values).foreach(v =>
        occ(v) = occ.getOrElse(v, 0L) + 1))
    }
    priors(goldCnt, values, occ.getOrElse(_, 0L), cfg)
  }

  // ---- (4) gold triples ----

  /** Triples of the validated gold spans themselves (ref PopulateFrame's
    * targetProvenance scan, PopulateFrame.java:144-192): each gold annotation of
    * provenance class `src` becomes a mention, subject-resolved sentence-locally on its
    * page by [[PageKernel.Subjects]] and stamped with the class's provenance `prov`. */
  def goldTriples(sents: Seq[SentenceAnnots], gold: Seq[Annotation],
      classes: Seq[(String, String)]): Seq[Triple] = {
    val byUrl = sents.groupBy(_.url)
    val subjects = mutable.HashMap.empty[String, PageKernel.Subjects]
    for ((src, prov) <- classes; a <- gold if a.provenance == src) yield {
      val subj = subjects.getOrElseUpdate(a.url, PageKernel.Subjects(a.url,
        byUrl.getOrElse(a.url, Nil).sortBy(_.sentBegin)))
      subj.resolve(Mention(a.url, a.annotType, a.begin, a.end, a.value, -1L, a.score), prov)
    }
  }
}
