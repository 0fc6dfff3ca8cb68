package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.align.Grid
import graft.nlp.{Annotate, Chunker, Gazetteer, Tokenizer}

/** The shallow chunker: grammar, grid labels, and — the point of its existence — a
  * learned pattern anchored on a syntax label passing the pair gates end-to-end. */
class ChunkerSpec extends AnyFunSuite with SparkTest {

  test("grammar: NP with determiner, VP aux+participle, PP over NP") {
    val text = "the quick fox was running in the tall grass"
    val chunks = Chunker.chunk(Tokenizer.scan(text), text)
    val cats = chunks.map(c => (c.cat, c.from, c.until))
    assert(cats.contains(("np", 0, 3)))  // the quick fox
    assert(cats.contains(("vp", 3, 5)))  // was running
    assert(cats.contains(("pp", 5, 9)))  // in the tall grass
    assert(cats.contains(("np", 6, 9)))  // the tall grass
  }

  test("chunks are annotations and reach grids as :syntaxtreenode|cat|… labels") {
    val text = "the quick fox was running in the tall grass"
    val annots = Annotate.annotateOne("u", text, Gazetteer.build(Nil))
    val syn = annots.filter(_.annotType == "SyntaxTreeNode")
    assert(syn.nonEmpty && syn.forall(_.features.contains("cat")))
    val grid = Grid.build("u", 0, text.length, annots)
    val foxCol = grid.cols.find(_.text == "fox").get
    assert(foxCol.has(":syntaxtreenode|cat|np"))
    val runCol = grid.cols.find(_.text == "running").get
    assert(runCol.has(":syntaxtreenode|cat|vp"))
  }

  test("withChunks=false reproduces chunker-less grids") {
    val annots = Annotate.annotateOne("u", "the fox was running",
      Gazetteer.build(Nil), withChunks = false)
    assert(!annots.exists(_.annotType == "SyntaxTreeNode"))
  }

  test("a pattern anchored on a syntax label is learned and passes the pair gates") {
    import spark.implicits._
    import graft.learn.{GenMSA, PatternStats}
    // the subject noun varies in BOTH string and orth across sentences, so the only
    // label the aligner can anchor there (beyond bare kind|word) is the NP chunk —
    // syntax-anchored learning is the sole path to a shared pattern
    val docs = Seq(
      ("u1", "Revenue was reported in 2001"),
      ("u2", "profit was announced in 2002"),
      ("u3", "Income was posted in 2003"))
    val gaz = Gazetteer.build(Nil)
    val sents = spark.createDataset(docs.map { case (url, text) =>
      val base = Annotate.annotateOne(url, text, gaz)
      val num = base.find(_.annotType == "Number").get
      val gold = graft.model.Annotation(url, 9000, "year", num.begin, num.end,
        num.value, Map.empty, "gold", 1.0)
      graft.model.SentenceAnnots(url, 0, text.length, base :+ gold)
    })
    val learned = GenMSA.learn(sents, Set("gold")).collect()
    val ctxWithSyntax = learned.filter(p =>
      p.profileType == 0 && p.toks.exists(_.startsWith(":syntaxtreenode|cat|np")))
    assert(ctxWithSyntax.nonEmpty,
      s"no syntax-anchored context profile in ${learned.map(_.toks).toSeq}")
    val targets = learned.filter(_.profileType == 1)
    assert(targets.nonEmpty)

    // pair gates: the syntax-anchored context × the learned target profile must reach
    // the promotion thresholds on its own training slice
    val cfg = PatternStats.Config(evalTolerance = 0)
    val gold = sents.flatMap(s => s.annots.filter(_.provenance == "gold")
        .map(a => (a.url, a.annotType, a.begin, a.end)))
      .toDF("url", "annotType", "begin", "end")
    val matches = PatternStats.applyPatternsPaired(sents,
      ctxWithSyntax.toSeq, targets.toSeq, cfg)
    val stats = PatternStats.scorePairs(matches, gold,
      spark.createDataset((ctxWithSyntax ++ targets).toSeq), cfg)
    val kept = PatternStats.keptPairs(stats, cfg).collect()
    assert(kept.nonEmpty, s"no pair passed the gates: ${stats.collect().toSeq}")

    // and extraction with the gated pair generalizes to an unseen sentence
    val pairPrec = kept.map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("prec")).toMap
    val newSent = {
      val text = "cost was shipped in 2004"
      spark.createDataset(Seq(graft.model.SentenceAnnots("u9", 0, text.length,
        Annotate.annotateOne("u9", text, gaz))))
    }
    val got = graft.extract.Extract.mentionsPaired(newSent,
      ctxWithSyntax.toSeq, targets.toSeq, pairPrec).collect()
    assert(got.exists(m => m.value == "2004" && m.annotType == "year"),
      s"extraction failed: ${got.toSeq}")
  }
}
