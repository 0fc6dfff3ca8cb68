package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.align.Grid
import graft.nlp.{Annotate, Gazetteer, PosTagger}

/** The rule/lexicon POS tagger: tag rules, the `category` Token feature and its
  * `:token|category|*` grid track, and — the point of its existence — a learned
  * pattern anchored on a POS category passing the pair gates end-to-end
  * (the ChunkerSpec template, one abstraction level down). */
class PosTaggerSpec extends AnyFunSuite with SparkTest {

  test("tag precedence: kinds, lexicons, capitalization, suffixes, default") {
    assert(PosTagger.tag("number", "42") == "cd")
    assert(PosTagger.tag("punctuation", ",") == "punct")
    // closed classes beat every suffix/capitalization rule
    assert(PosTagger.tag("word", "The") == "dt")
    assert(PosTagger.tag("word", "his") == "prp")
    assert(PosTagger.tag("word", "and") == "cc")
    assert(PosTagger.tag("word", "could") == "md")
    assert(PosTagger.tag("word", "being") == "vb")   // lexicon, not vbg
    assert(PosTagger.tag("word", "during") == "in")  // lexicon, not vbg
    // capitalization beats suffixes
    assert(PosTagger.tag("word", "Running") == "nnp")
    // suffix ladder
    assert(PosTagger.tag("word", "quickly") == "rb")
    assert(PosTagger.tag("word", "running") == "vbg")
    assert(PosTagger.tag("word", "reported") == "vbd")
    assert(PosTagger.tag("word", "famous") == "jj")
    assert(PosTagger.tag("word", "tables") == "nns")
    assert(PosTagger.tag("word", "gas") == "nn")    // len 3: below the nns guard
    assert(PosTagger.tag("word", "glass") == "nn")  // -ss exclusion
    assert(PosTagger.tag("word", "table") == "nn")
    // short words skip short-suffix traps
    assert(PosTagger.tag("word", "fly") == "nn")
    assert(PosTagger.tag("word", "red") == "nn")
  }

  test("every token carries category; grids expose :token|category|* labels") {
    val text = "The quick fox ran in 2001 ."
    val annots = Annotate.annotateOne("u", text, Gazetteer.build(Nil))
    val toks = annots.filter(_.annotType == "Token")
    assert(toks.nonEmpty && toks.forall(_.features.contains("category")))
    val grid = Grid.build("u", 0, text.length, annots)
    assert(grid.cols.find(_.text == "The").get.has(":token|category|dt"))
    assert(grid.cols.find(_.text == "quick").get.has(":token|category|nn"))
    assert(grid.cols.find(_.text == "2001").get.has(":token|category|cd"))
    assert(grid.cols.find(_.text == ".").get.has(":token|category|punct"))
  }

  test("caseSql mirrors tag() rule-for-rule (generated from the same tables)") {
    val sql = PosTagger.caseSql("tok", "kind")
    // every lexicon word and suffix appears exactly as the Scala tables define it
    PosTagger.Lexicon.foreach { case (t, ws) =>
      assert(sql.contains(s"THEN '$t'"), t)
      ws.foreach(w => assert(sql.contains(s"'$w'"), w))
    }
    PosTagger.Suffix.foreach { case (t, inc, _, _) =>
      assert(sql.contains(s"THEN '$t'"), t)
      inc.foreach(s => assert(sql.contains(s"'$s'"), s))
    }
    assert(sql.contains("BETWEEN 'A' AND 'Z'") && sql.endsWith("ELSE 'nn' END"))
  }

  test("a pattern anchored on a POS category is learned and passes the pair gates") {
    import spark.implicits._
    import graft.learn.{GenMSA, PatternStats}
    // the pre-verb determiner varies in string, root AND (pairwise) orth, so with
    // chunking off the only label generalizing that slot beyond bare kind|word is
    // :token|category|dt — POS-anchored learning is the path to a shared pattern
    val docs = Seq(
      ("u1", "This was reported in 2001"),
      ("u2", "each was announced in 2002"),
      ("u3", "Some was posted in 2003"))
    val gaz = Gazetteer.build(Nil)
    val sents = spark.createDataset(docs.map { case (url, text) =>
      val base = Annotate.annotateOne(url, text, gaz, withChunks = false)
      val num = base.find(_.annotType == "Number").get
      val gold = graft.model.Annotation(url, 9000, "year", num.begin, num.end,
        num.value, Map.empty, "gold", 1.0)
      graft.model.SentenceAnnots(url, 0, text.length, base :+ gold)
    })
    val learned = GenMSA.learn(sents, Set("gold")).collect()
    val ctxWithPos = learned.filter(p =>
      p.profileType == 0 && p.toks.exists(_.startsWith(":token|category|dt")))
    assert(ctxWithPos.nonEmpty,
      s"no POS-anchored context profile in ${learned.map(_.toks).toSeq}")
    val targets = learned.filter(_.profileType == 1)
    assert(targets.nonEmpty)

    val cfg = PatternStats.Config(evalTolerance = 0)
    val gold = sents.flatMap(s => s.annots.filter(_.provenance == "gold")
        .map(a => (a.url, a.annotType, a.begin, a.end)))
      .toDF("url", "annotType", "begin", "end")
    val matches = PatternStats.applyPatternsPaired(sents,
      ctxWithPos.toSeq, targets.toSeq, cfg)
    val stats = PatternStats.scorePairs(matches, gold,
      spark.createDataset((ctxWithPos ++ targets).toSeq), cfg)
    val kept = PatternStats.keptPairs(stats, cfg).collect()
    assert(kept.nonEmpty, s"no pair passed the gates: ${stats.collect().toSeq}")

    // and extraction with the gated pair generalizes to an unseen determiner
    val pairPrec = kept.map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("prec")).toMap
    val newSent = {
      val text = "any was shipped in 2004"
      spark.createDataset(Seq(graft.model.SentenceAnnots("u9", 0, text.length,
        Annotate.annotateOne("u9", text, gaz, withChunks = false))))
    }
    val got = graft.extract.Extract.mentionsPaired(newSent,
      ctxWithPos.toSeq, targets.toSeq, pairPrec).collect()
    assert(got.exists(m => m.value == "2004" && m.annotType == "year"),
      s"extraction failed: ${got.toSeq}")
  }
}
