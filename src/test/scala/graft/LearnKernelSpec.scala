package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.align.Grid
import graft.extract.Extract
import graft.learn.{GenMSA, LearnKernel, PatternStats, ValueProbs}
import graft.learn.LearnKernel.{PairStat, Prior}
import graft.mention.Sentences
import graft.model.{Annotation, Mention, Pattern, Provenance, SentenceAnnots, Triple}
import graft.nlp.Annotate
import graft.pipeline.KGPipeline
import graft.testgen.CorpusGen

/**
 * [[LearnKernel]], which `KGPipeline` runs on the driver over the collected training
 * slice, against the Spark operators: the public Dataset wrappers over the kernel, and
 * [[LearnOracle]], the same rules as column expressions (Spark's own string order,
 * `xxhash64`, joins and `groupBy`s). Patterns are compared on all nine
 * columns, pair stats on all six, then the pair gate, the prior rows and the gold
 * triples — on `LearnedModel`'s CorpusGen slice and on edge inputs.
 */
class LearnKernelSpec extends AnyFunSuite with SparkTest {

  private val Gold = Set("gold")
  private val StatsCfg = PatternStats.Config()

  private def gold(url: String, text: String, annotType: String, begin: Int, end: Int,
      provenance: String = "gold"): Annotation =
    Annotation(url, 10000 + begin, annotType, begin, end, text.substring(begin, end),
      Map.empty, provenance, 1.0)

  /** One page's sentences, annotated like a training page, gold spans merged in. */
  private def page(url: String, text: String, golds: Seq[Annotation]): Vector[SentenceAnnots] =
    Sentences.group(url, Annotate.annotateOne(url, text, CorpusGen.gazetteer) ++ golds)

  private def assertPatternsAgree(sents: Seq[SentenceAnnots], cfg: GenMSA.Config): Seq[Pattern] = {
    import spark.implicits._
    val ds = spark.createDataset(sents)
    val kernel = LearnKernel.patterns(sents, Gold, cfg)
    val oracle = LearnOracle.patterns(ds, Gold, cfg).collect().toSeq.sortBy(_.profileId)
    val wrapper = GenMSA.learn(ds, Gold, cfg).collect().toSeq.sortBy(_.profileId)
    assert(kernel === oracle)
    assert(wrapper === oracle)
    kernel
  }

  private def statsOf(df: DataFrame): Seq[PairStat] = {
    import spark.implicits._
    df.select("profileId", "targetId", "tp", "fp", "total", "prec").as[PairStat].collect()
      .toSeq.sortBy(s => (s.profileId, s.targetId))
  }

  /** Pair stats and the pair gate three ways; returns the kernel's stats. */
  private def assertPairStatsAgree(sents: Seq[SentenceAnnots], golds: Seq[Annotation],
      ctx: Seq[Pattern], tgt: Seq[Pattern], learned: Seq[Pattern],
      cfg: PatternStats.Config): Seq[PairStat] = {
    import spark.implicits._
    val ds = spark.createDataset(sents)
    val kernel = LearnKernel.pairStats(sents, ctx, tgt, learned, golds, cfg)
    val matches = PatternStats.applyPatternsPaired(ds, ctx, tgt, cfg)
    val tokens = ds.flatMap(s => s.annots.filter(_.annotType == "Token")
      .map(a => (a.url, a.begin, a.end))).toDF("url", "begin", "end")
    val goldDF = spark.createDataset(golds).toDF().select("url", "annotType", "begin", "end")
    val learnedDS = spark.createDataset(learned)
    val oracle = LearnOracle.pairStats(matches, LearnOracle.snap(goldDF, tokens), learnedDS, cfg)
    val wrapper = PatternStats.scorePairs(matches,
      PatternStats.snapGoldToTokens(goldDF, tokens), learnedDS, cfg)
    assert(kernel === statsOf(oracle))
    assert(statsOf(wrapper) === statsOf(oracle))
    val allowed = LearnOracle.allowedPairs(oracle, cfg)
    assert(LearnKernel.allowedPairs(kernel, cfg) === allowed)
    val wrapperAllowed = PatternStats.keptPairs(wrapper, cfg)
      .join(PatternStats.activeProfiles(wrapper, cfg), Seq("profileId"), "left_semi")
      .select($"profileId", $"targetId", $"prec")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(wrapperAllowed === allowed)
    kernel
  }

  private def priorsOf(df: DataFrame): Seq[Prior] =
    df.select("annot_type", "value", "gold_cnt", "total_cnt", "prior_bp").collect()
      .map(r => Prior(r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSeq.sortBy(p => (p.annotType, p.value))

  /** Prior rows three ways; returns the kernel's. */
  private def assertPriorsAgree(sents: Seq[SentenceAnnots], golds: Seq[(String, String)],
      cfg: ValueProbs.Config): Seq[Prior] = {
    import spark.implicits._
    val ds = spark.createDataset(sents)
    val goldDF = golds.toDF("annotType", "value")
    val kernel = LearnKernel.valuePriors(sents, golds, cfg)
    val oracle = priorsOf(LearnOracle.priors(ds, goldDF, cfg))
    assert(kernel.sortBy(p => (p.annotType, p.value)) === oracle)
    assert(priorsOf(ValueProbs.compute(ds, goldDF, cfg)) === oracle)
    kernel
  }

  test("patterns: kernel == Spark operators on the CorpusGen slice, all 9 columns") {
    val (sents, _) = LearnedModel.slice
    val ps = assertPatternsAgree(sents, GenMSA.Config())
    assert(ps.exists(_.profileType == 0) && ps.exists(_.profileType == 1))
  }

  test("pair stats, the pair gate and the priors: kernel == Spark operators on the " +
    "CorpusGen slice") {
    val (sents, golds) = LearnedModel.slice
    val learned = LearnKernel.patterns(sents, Gold, GenMSA.Config())
    val ctx = GenMSA.subsumptionFilter(
      learned.filter(_.profileType == 0))
    val stats = assertPairStatsAgree(sents, golds, ctx, learned.filter(_.profileType == 1),
      learned, StatsCfg)
    assert(stats.nonEmpty && LearnKernel.allowedPairs(stats, StatsCfg).nonEmpty)
    val priors = assertPriorsAgree(sents, golds.map(a => (a.annotType, a.value)),
      ValueProbs.Config())
    assert(priors.exists(_.priorBp > 0))
  }

  test("gold triples: kernel == Extract.triples per provenance class") {
    import spark.implicits._
    val (sents, golds) = LearnedModel.slice
    // both provenance classes, and a gold span on a page with no sentence (host subject)
    val classed = golds.zipWithIndex.map { case (a, i) =>
      if (i % 3 == 0) a.copy(provenance = "dup-propagated") else a
    } :+ Annotation("http://nowhere.example/p", 1, "founded-year", 0, 4, "1999", Map.empty,
      "gold", 1.0)
    val classes = Seq("gold" -> Provenance.Gold, "dup-propagated" -> Provenance.Propagated)
    val ds = spark.createDataset(sents)
    val want = classes.map { case (src, prov) =>
      val ms = classed.filter(_.provenance == src).map(a =>
        Mention(a.url, a.annotType, a.begin, a.end, a.value, -1L, a.score))
      Extract.triples(ds, spark.createDataset(ms), provenance = prov)
    }.reduce(_ unionByName _).collect().toSeq
    val got = LearnKernel.goldTriples(sents, classed, classes)
    def key(t: Triple) = (t.url, t.begin, t.end, t.pred, t.provenance, t.subj, t.obj)
    assert(got.sortBy(key) === want.sortBy(key))
    assert(got.exists(t => t.subj == "nowhere.example"))
    assert(got.map(_.provenance).toSet === Set(Provenance.Gold, Provenance.Propagated))
  }

  test("MSA blocks rank urls in UTF-8 byte order across a block boundary; non-ASCII " +
    "tokens in a profile key") {
    // "u｡" (U+FF61) sorts before "u😀" (U+1F600) in UTF-8 bytes but after it in UTF-16
    // code units: with blocks of two, Spark pairs "ua" with "u｡", never with "u😀"
    val texts = Seq(
      "u😀" -> "Acme opened its doors during 1970 under Grüner.",
      "u｡" -> "Zürich Bank was founded in 1961 by investors.",
      "ua" -> "Zürich Corp was founded in 1959 by investors.")
    val sents = texts.flatMap { case (url, text) =>
      val b = text.indexOf("19")
      page(url, text, Seq(gold(url, text, "founded-year", b, b + 4)))
    }
    assert(LearnKernel.blocks(sents, 2).map(_.map(_.url)).toList ===
      List(Vector("ua", "u｡"), Vector("u😀")))
    val ps = assertPatternsAgree(sents, GenMSA.Config(blockSize = 2, minRows = 1))
    assert(ps.exists(_.toks.contains(":token|string|founded")), "ua and u｡ did not align")
    assert(ps.exists(_.toks.exists(_.exists(_ > 127))), "no non-ASCII token in a profile")
  }

  test("profile ids are Spark's xxhash64 over the UTF-8 key") {
    import spark.implicits._
    val keys = Seq(
      ("founded-year", 0, Seq(":token|string|zürich", Grid.Target)),
      ("東京", 3, Seq(":token|string|😀", ":token|string|｡")),
      ("t", 1, Seq.empty[String]))
    val want = keys.toDF("annotType", "profileType", "toks")
      .select(xxhash64(concat_ws("\u0001", $"annotType", $"profileType",
        concat_ws("\u0001", $"toks")))).as[Long].collect().toSeq
    assert(keys.map { case (t, pt, toks) => LearnKernel.profileId(t, pt, toks) } === want)
  }

  test("pair stats: a per-url cap of 50, a pair with fp = 1, ragged gold spans") {
    // url "cap": 60 matches of (merge, word), 55 of them gold → tp capped at 50, fp 5
    val capText = Seq.fill(60)("merge alpha.").mkString(" ")
    val capGold = Seq.tabulate(55)(i => gold("cap", capText, "T", i * 13 + 6, i * 13 + 11))
    // url "one": (join, word) matches gamma (gold, ragged: snaps to the token), delta
    // (gold) and omega (not) → tp 2, fp 1, precision 2 / (2 + 0) = 1.0
    val oneText = "join gamma. join delta. join omega."
    val g = oneText.indexOf("gamma")
    val d = oneText.indexOf("delta")
    val oneGold = Seq(gold("one", oneText, "T", g + 2, g + 5), gold("one", oneText, "T", d, d + 5))
    val sents = page("cap", capText, capGold) ++ page("one", oneText, oneGold)
    val merge = Pattern(1L, Seq(":token|string|merge", Grid.Target), "T", 0, "g", 1, 0, 0, 1)
    val join = Pattern(2L, Seq(":token|string|join", Grid.Target), "T", 0, "g", 1, 0, 0, 1)
    val word = Pattern(11L, Seq(":token|kind|word"), "T", 1, "g", 1, 0, 0, 1)
    val stats = assertPairStatsAgree(sents, capGold ++ oneGold, Seq(merge, join), Seq(word),
      Seq(merge, join, word), StatsCfg)
    assert(stats === Seq(PairStat(1L, 11L, 50L, 5L, 55L, 50.0 / 54),
      PairStat(2L, 11L, 2L, 1L, 3L, 1.0)))
    assert(LearnKernel.allowedPairs(stats, StatsCfg) === Map((1L, 11L) -> 50.0 / 54,
      (2L, 11L) -> 1.0))
  }

  test("value priors: occ < gold is neutral, an empty vocabulary, ties cut in UTF-8 order") {
    val text = "new york new york new york"
    val toks = graft.nlp.Tokenizer.annotate("u", text, graft.nlp.Tokenizer.scan(text))
      .filter(_.annotType == "Token")
    val sents = Seq(SentenceAnnots("u", 0, 26, toks))
    // "new-york" never occurs as one token sequence: neutral, not a minted 1.0;
    // "york" occurs 3× and is gold once → 1/3 < 0.7 → veto
    val got = assertPriorsAgree(sents,
      Seq.fill(3)(("city", "new-york")) :+ (("city", "York")), ValueProbs.Config())
    assert(got === Seq(Prior("city", "new-york", 3, 3, 0), Prior("city", "york", 1, 3, -1)))
    assert(assertPriorsAgree(sents, Seq.empty, ValueProbs.Config()).isEmpty)
    // equal gold counts: the cap keeps the value first in UTF-8 byte order
    val capped = assertPriorsAgree(sents, Seq(("t", "x😀"), ("t", "x｡")),
      ValueProbs.Config(maxVocabulary = 1))
    assert(capped.map(_.value) === Seq("x｡"))
  }

  test("the training slice bound fails loudly, naming the limit and the slice size") {
    val limit = KGPipeline.MaxTrainingPages
    KGPipeline.checkSliceSize(limit)
    val e = intercept[IllegalArgumentException](KGPipeline.checkSliceSize(limit + 1))
    assert(e.getMessage.contains(s"${limit + 1} pages") &&
      e.getMessage.contains(s"limit of $limit pages"), e.getMessage)
  }
}
