package graft

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.align.Grid
import graft.extract.{Extract, PageKernel}
import graft.learn.{GenMSA, PatternStats, ValueProbs}
import graft.model.{Annotation, Pattern, SentenceAnnots, Triple}
import graft.nlp.Annotate
import graft.testgen.CorpusGen

/** An extraction model in its parts: two-slot relation patterns, plain context
  * patterns, target profiles, the pair gate, the value-prior veto and the dictionary
  * entries (annotType, value, priorBp). */
final case class LearnedModel(rel: Seq[Pattern], plain: Seq[Pattern], tgt: Seq[Pattern],
    allowed: Map[(Long, Long), Double], veto: Map[(String, String), Long],
    dict: Seq[(String, String, Long)]) {

  /** The model compiled into the page kernel every corpus job runs. */
  def kernel: PageKernel = PageKernel(rel, plain, tgt, allowed, veto, dict,
    CorpusGen.gazetteer, PatternStats.Config().matcher)

  /** Does [[kernel]] chunk its pages (some pattern can match a syntax label)? Chunks
    * can merge sentences, so a relational run over the kernel's own page reads must
    * annotate the same way. */
  def withChunks: Boolean =
    (rel ++ plain ++ tgt).exists(_.toks.exists(_.startsWith(":syntaxtreenode")))

  /** The same model as the relational chain: one Dataset operator per kernel step
    * (pair matching, prior veto, dictionary pass, same-span dedup, W4 merge, subject
    * resolution). */
  def relational(sents: Dataset[SentenceAnnots])(
      implicit spark: SparkSession): Seq[Triple] = {
    val prm = PatternStats.Config().matcher
    val relTriples = Extract.relationTriplesPaired(sents, rel, tgt, allowed, prm)
    val patMentions = Extract.applyPriors(
      Extract.mentionsPaired(sents, plain, tgt, allowed, prm), veto)
    val mentions = Extract.mergeAdjacent(Extract.dedupMentions(
      patMentions.unionByName(Extract.dictionaryMentions(sents, dict))))
    Extract.triples(sents, mentions).unionByName(relTriples).collect().toSeq
  }
}

object LearnedModel {

  /** The training slice the model is learned on: 40 CorpusGen pages annotated and
    * sentence-grouped with their gold spans merged in, and those gold spans. */
  lazy val slice: (Seq[SentenceAnnots], Seq[Annotation]) = {
    implicit val spark: SparkSession = SparkTestBase.spark
    import spark.implicits._
    val train = CorpusGen.pages(40)
    val goldRows = train.flatMap(CorpusGen.goldAnnotations)
    val sents = Annotate.annotateSentences(spark.createDataset(train.map(_.page)),
      CorpusGen.gazetteer, goldRows.groupBy(_.url)).collect().toSeq
    (sents, goldRows)
  }

  /** Model learned on [[slice]] through the public Dataset operators (wrappers over the
    * [[graft.learn.LearnKernel]] functions `KGPipeline.runAndWrite` calls), plus
    * hand-set parts: two seeded relation patterns, a veto on a city the patterns
    * extract, and dictionary entries that hit pattern sites (score ties broken on
    * profileId), the vetoed city (the dictionary pass is not vetoed) and adjacent
    * filler words (W4 merges). Learned once per test JVM. */
  lazy val model: LearnedModel = {
    implicit val spark: SparkSession = SparkTestBase.spark
    import spark.implicits._
    val (sents, goldRows) = slice
    val gold = spark.createDataset(goldRows)
    val ts = spark.createDataset(sents).cache()
    val statsCfg = PatternStats.Config()
    val patterns = GenMSA.learn(ts, Set("gold"))
    val learned = patterns.collect().toSeq
    val ctx = GenMSA.subsumptionFilter(
      learned.filter(_.profileType == 0))
    val tgt = learned.filter(_.profileType == 1)
    val tokenSpans = ts.flatMap(s =>
        s.annots.filter(_.annotType == "Token").map(a => (a.url, a.begin, a.end)))
      .toDF("url", "begin", "end")
    val snapped = PatternStats.snapGoldToTokens(
      gold.toDF().select($"url", $"annotType", $"begin", $"end"), tokenSpans)
    val pairStats = PatternStats.scorePairs(
      PatternStats.applyPatternsPaired(ts, ctx, tgt, statsCfg), snapped, patterns, statsCfg)
    val allowed = PatternStats.keptPairs(pairStats, statsCfg)
      .join(PatternStats.activeProfiles(pairStats, statsCfg), Seq("profileId"), "left_semi")
      .select($"profileId", $"targetId", $"prec")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val kept = allowed.keySet.map(_._1)
    val finalPatterns = ctx.filter(p => kept.contains(p.profileId)).map { p =>
      p.copy(score = allowed.collect { case ((c, _), prec) if c == p.profileId => prec }.max)
    }
    val priorRows = ValueProbs.compute(ts, gold.toDF()).collect()
    ts.unpersist()
    val upgraded = finalPatterns.map(p => p -> Extract.toRelationPattern(p))
    // two-slot relation patterns, paired with every learned target profile of their type
    val seededRel = Seq(
      Pattern(9001L, Seq(Grid.Subject, ":token|string|employs", Grid.Target),
        "employee-count", 0, "seed", 1.0, 0, 0, 0),
      Pattern(9002L, Seq(Grid.Subject, ":token|string|was", ":token|string|founded",
        ":token|string|in", Grid.Target), "founded-year", 0, "seed", 1.0, 0, 0, 0))
    val seededPairs = for (r <- seededRel; t <- tgt if t.annotType == r.annotType)
      yield (r.profileId, t.profileId) -> 0.875
    LearnedModel(upgraded.collect { case (_, Some(r)) => r } ++ seededRel,
      upgraded.collect { case (p, None) => p }, tgt, allowed ++ seededPairs,
      priorRows.map(r => ((r.getString(0), r.getString(1)), r.getLong(4))).toMap +
        (("hq-city", "gotham") -> -1L),
      Seq(("hq-city", "metropolis", 10000L), ("hq-city", "springfield", 9000L),
        ("hq-city", "gotham", 9000L), ("filler", "the", 5000L), ("filler", "market", 5000L),
        ("filler", "report", 5000L)))
  }
}
