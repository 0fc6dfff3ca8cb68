package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.learn.GenMSA
import graft.model.Pattern

/** Learning-stage post-processing: subsumption filter, pair gates, value priors. */
class LearnSpec extends AnyFunSuite with SparkTest {

  private def pat(id: Long, annot: String, tp: Long, fp: Long, toks: String*): Pattern =
    Pattern(id, toks.toVector, annot, 0, "msa", 0.9, tp, fp, 2)

  test("subsumption filter drops profiles containing a shorter surviving profile") {
    val short = pat(1, "T", 5, 0, ":token|string|founded", ":token|string|in", ":target")
    val longer = pat(2, "T", 3, 0,
      ":start", ":token|string|founded", ":token|string|in", ":target") // contains short
    val unrelated = pat(3, "T", 2, 0, ":token|string|born", ":target")
    val otherType = pat(4, "U", 2, 0,
      ":start", ":token|string|founded", ":token|string|in", ":target") // other annotType
    val kept = GenMSA.subsumptionFilter(Seq(short, longer, unrelated, otherType))
    assert(kept.map(_.profileId).toSet === Set(1L, 3L, 4L))
  }

  test("subsumption filter requires a CONTIGUOUS slice, not a subsequence") {
    val a = pat(1, "T", 5, 0, ":token|string|a", ":token|string|b")
    val gapped = pat(2, "T", 3, 0,
      ":token|string|a", ":token|string|x", ":token|string|b")
    assert(GenMSA.subsumptionFilter(Seq(a, gapped)).map(_.profileId).toSet === Set(1L, 2L))
  }

  test("value-prob ladder: trusted prior, veto, and neutral-when-rare") {
    import spark.implicits._
    // corpus: "paris" occurs 4×, gold as city 4× → prob 1.0 → trusted (10000)
    //         "may" occurs 5×, gold as month 1× → prob 0.2 < 0.7 → veto (−1)
    //         "rare" occurs 1×, gold 1× → below minGlobalCount → neutral (0)
    val texts = Seq(
      "paris in may is nice", "paris in may again", "visit paris in may",
      "paris weather in may or may not", "rare word here")
    val sents = spark.createDataset(texts.zipWithIndex.map { case (t, i) =>
      graft.model.SentenceAnnots(s"u$i", 0, t.length,
        graft.nlp.Tokenizer.annotate(s"u$i", t, graft.nlp.Tokenizer.scan(t))
          .filter(_.annotType == "Token"))
    })
    val gold = Seq(
      ("city", "paris"), ("city", "paris"), ("city", "paris"), ("city", "paris"),
      ("month", "may"), ("thing", "rare")).toDF("annotType", "value")
    val got = graft.learn.ValueProbs.compute(sents, gold).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(got(("city", "paris")) === ((4L, 4L, 10000L)))
    assert(got(("month", "may"))._3 === -1L)
    assert(got(("thing", "rare"))._3 === 0L)
  }

  test("value-prob vocabulary cap keeps the top-N by gold count; overflow dropped") {
    import spark.implicits._
    val texts = Seq("aa bb cc aa bb aa")
    val sents = spark.createDataset(texts.zipWithIndex.map { case (t, i) =>
      graft.model.SentenceAnnots(s"u$i", 0, t.length,
        graft.nlp.Tokenizer.annotate(s"u$i", t, graft.nlp.Tokenizer.scan(t))
          .filter(_.annotType == "Token"))
    })
    // gold counts: aa=3, bb=2, cc=1 → cap 2 keeps aa, bb; cc is dropped (logged)
    val gold = Seq.fill(3)(("t", "aa")) ++ Seq.fill(2)(("t", "bb")) :+ (("t", "cc"))
    val got = graft.learn.ValueProbs.compute(sents, gold.toDF("annotType", "value"),
      graft.learn.ValueProbs.Config(minGlobalCount = 1, maxVocabulary = 2))
      .select("value").collect().map(_.getString(0)).toSet
    assert(got === Set("aa", "bb"))
  }

  test("a gold value the occurrence pass cannot find gets the NEUTRAL prior, not 1.0") {
    import spark.implicits._
    // corpus tokens are "new" "york"; the gold value "new-york" tokenizes to ONE
    // automaton entry that never matches the stream → occurrence count 0. The old
    // clamp turned that into total=gold → a minted trusted prior of 1.0 for exactly
    // the value whose measurement failed; it must be neutral (0) instead.
    val text = "new york new york new york"
    val sents = spark.createDataset(Seq(graft.model.SentenceAnnots("u1", 0, 30,
      graft.nlp.Tokenizer.annotate("u1", text, graft.nlp.Tokenizer.scan(text))
        .filter(_.annotType == "Token"))))
    val gold = Seq.fill(3)(("city", "new-york")).toDF("annotType", "value")
    val row = graft.learn.ValueProbs.compute(sents, gold).collect().head
    assert(row.getLong(4) === 0L, s"minted prior: $row")
  }

  test("priors, the veto and the dictionary lowercase alike under any default locale") {
    import spark.implicits._
    // under a Turkish default locale a default-locale toLowerCase maps "TITAN" to
    // "tıtan" (dotless i), which never meets the gold value's "titan"
    val saved = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.forLanguageTag("tr"))
    try {
      val text = "TITAN TITAN TITAN TITAN"
      val sent = graft.model.SentenceAnnots("u", 0, text.length,
        graft.nlp.Tokenizer.annotate("u", text, graft.nlp.Tokenizer.scan(text))
          .filter(_.annotType == "Token"))
      val gold = Seq.fill(4)(("ship", "TITAN"))
      val row = graft.learn.ValueProbs.compute(spark.createDataset(Seq(sent)),
        gold.toDF("annotType", "value")).collect().head
      assert((row.getString(1), row.getLong(3), row.getLong(4)) === (("titan", 4L, 10000L)))
      assert(graft.learn.LearnKernel.valuePriors(Seq(sent), gold,
        graft.learn.ValueProbs.Config()).map(_.priorBp) === Seq(10000L))
      assert(graft.extract.PageKernel.vetoed(Map(("ship", "titan") -> -1L))(
        graft.model.Mention("u", "ship", 0, 5, "TITAN", 1L, 0.9)))
      assert(graft.extract.PageKernel.Dictionary(Seq(("ship", "Titan", 10000L)))
        .mentions(sent).length === 4)
    } finally java.util.Locale.setDefault(saved)
  }

  test("prior veto suppresses low-prior mentions; dictionary pass adds trusted values") {
    import spark.implicits._
    val ms = spark.createDataset(Seq(
      graft.model.Mention("u1", "month", 0, 3, "May", 1L, 0.9),
      graft.model.Mention("u1", "city", 4, 9, "Paris", 1L, 0.9)))
    val veto = Map(("month", "may") -> -1L, ("city", "paris") -> 10000L)
    val kept = graft.extract.Extract.applyPriors(ms, veto).collect()
    assert(kept.map(_.annotType).toSeq === Seq("city"))

    val text = "we love paris today"
    val sents = spark.createDataset(Seq(graft.model.SentenceAnnots("u2", 0, 20,
      graft.nlp.Tokenizer.annotate("u2", text, graft.nlp.Tokenizer.scan(text))
        .filter(_.annotType == "Token"))))
    val dict = graft.extract.Extract.dictionaryMentions(sents,
      Seq(("city", "paris", 10000L))).collect()
    assert(dict.length === 1)
    assert(dict.head.annotType === "city" && dict.head.value === "paris")
    assert(dict.head.profileId === -2L)
  }

  test("eval scorer: entity and token P/R/F1 with tolerance") {
    import spark.implicits._
    // tokens: "Acme Corp won" → (0,4) (5,9) (10,13)
    val tokens = Seq(("u", 0, 4), ("u", 5, 9), ("u", 10, 13)).toDF("url", "begin", "end")
    val gold = Seq(("u", "org", 0, 9)).toDF("url", "annotType", "begin", "end")
    // pred 1: off-by-one boundary (0,8); pred 2: spurious (10,13)
    val pred = Seq(("u", "org", 0, 8), ("u", "org", 10, 13))
      .toDF("url", "annotType", "begin", "end")
    val strict = graft.learn.Eval.score(pred, gold, tokens, tolerance = 0).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    // entity strict: no exact span match → tp 0, fp 2, fn 1
    assert(strict(("org", "entity")) === ((0L, 2L, 1L)))
    // token: pred (0,8) covers token (0,4) only; (10,13) covers its token.
    // gold covers (0,4),(5,9). tp=1 [(0,4)], fp=1 [(10,13)], fn=1 [(5,9)]
    assert(strict(("org", "token")) === ((1L, 1L, 1L)))
    val tol = graft.learn.Eval.score(pred, gold, tokens, tolerance = 1).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    // ±1 tolerance: (0,8) matches gold (0,9) → entity tp 1, fp 1, fn 0
    assert(tol(("org", "entity")) === ((1L, 1L, 0L)))
    val all = tol(("ALL", "entity"))
    assert(all === ((1L, 1L, 0L)))
  }

  test("gold-span snap aligns ragged boundaries to token extents") {
    import spark.implicits._
    // tokens "Acme Corp" → (0,4), (5,9); ragged gold (2,7) snaps to (0,9)
    val tokens = Seq(("u", 0, 4), ("u", 5, 9)).toDF("url", "begin", "end")
    val gold = Seq(("u", "org", 2, 7), ("u", "org", 20, 25))
      .toDF("url", "annotType", "begin", "end")
    val got = graft.learn.PatternStats.snapGoldToTokens(gold, tokens).collect()
      .map(r => (r.getAs[Int]("begin"), r.getAs[Int]("end"))).toSet
    assert(got === Set((0, 9), (20, 25))) // no-token span passes through
  }
}
