package graft

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.align.Grid
import graft.extract.{DocExtract, Extract, PageKernel, PatternMatcher}
import graft.model.{Mention, Pattern, SentenceAnnots, Triple}
import graft.nlp.{GazEntry, Gazetteer, Tokenizer}

/** Two-slot relation patterns: the `:subject` slot binds entity spans in the match. */
class RelationSpec extends AnyFunSuite with SparkTest {

  private val gaz = Gazetteer.build(Seq(
    GazEntry("acme corp", "entity", "org"), GazEntry("globex", "entity", "org")))

  private def gridOf(text: String): Grid = {
    val toks = Tokenizer.scan(text)
    val anns = Tokenizer.annotate("u", text, toks)
    val lookups = gaz.annotate("u", text, toks, firstId = anns.length)
    Grid.build("u", 0, text.length, (anns ++ lookups).filter(_.annotType != "Sentence"))
  }

  private def relPat(toks: String*): Pattern =
    Pattern(1L, toks.toVector, "founded_rel", 0, "g", 1.0, 0, 0, 1)

  test("cogroup subject resolution == join+window formulation on a real corpus") {
    import spark.implicits._
    val pages = spark.createDataset(
      graft.testgen.CorpusGen.pages(40).map(_.page))
    val sents = graft.nlp.Annotate.annotateSentences(pages,
      graft.testgen.CorpusGen.gazetteer)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // synthetic mentions: every Number annotation span becomes a mention, PLUS one
    // mention on a url with no subjects at all (host fallback path)
    val mentions = sents.flatMap { s =>
      s.annots.filter(_.annotType == "Number").map(a =>
        graft.model.Mention(s.url, "num", a.begin, a.end, a.value, 1L, 1.0))
    }.unionByName(spark.createDataset(Seq(
      graft.model.Mention("https://nohost.example.org/p", "num", 0, 2, "42", 1L, 1.0))))
    def canon(t: graft.model.Triple) = (t.subj, t.pred, t.obj, t.url, t.begin, t.end)
    val local = Extract.triples(sents, mentions).collect().map(canon).sorted
    val joined = RelationSpec.triplesViaJoin(sents, mentions).collect().map(canon).sorted
    assert(local.length > 40, s"too few triples: ${local.length}")
    assert(local.toSeq === joined.toSeq)
    sents.unpersist()
  }

  test("subject slot binds the entity span, target the object span") {
    val text = "Acme Corp was founded in 1987 today"
    val g = gridOf(text)
    val p = relPat(Grid.Subject, ":token|string|was", ":token|string|founded",
      ":token|string|in", Grid.Target)
    val hits = PatternMatcher.matchAll(g, PatternMatcher.buildIndex(Seq(p)))
    assert(hits.nonEmpty)
    val h = hits.head
    assert(h.subjValue === "Acme Corp", s"got subject '${h.subjValue}'")
    assert(h.value === "1987")
    assert(text.substring(h.subjBegin, h.subjEnd) === "Acme Corp")
  }

  test("subject slot requires a Lookup-labelled span — plain tokens never bind") {
    val g = gridOf("Plainword was founded in 1987")
    val p = relPat(Grid.Subject, ":token|string|was", ":token|string|founded",
      ":token|string|in", Grid.Target)
    assert(PatternMatcher.matchAll(g, PatternMatcher.buildIndex(Seq(p))).isEmpty)
  }

  test("toRelationPattern upgrades the entity literal before the target") {
    val p = Pattern(7L, Vector(":start", ":lookup|majortype|entity",
      ":token|string|was", ":token|string|founded", Grid.Target), "t", 0, "g", 1, 0, 0, 1)
    val rel = Extract.toRelationPattern(p)
    assert(rel.get.toks === Vector(":start", Grid.Subject,
      ":token|string|was", ":token|string|founded", Grid.Target))
    // no entity literal before target → None
    assert(Extract.toRelationPattern(p.copy(toks =
      Vector(":token|string|was", Grid.Target, ":lookup|majortype|entity"))).isEmpty)
  }

  test("relationTriples emits (matched subject, pred, obj) directly") {
    import spark.implicits._
    val gen = graft.testgen.CorpusGen.pages(30)
    val pages = spark.createDataset(gen.map(_.page))
    val sents = graft.nlp.Annotate.annotateSentences(pages,
      graft.testgen.CorpusGen.gazetteer)
    val p = relPat(Grid.Subject, ":token|string|was", ":token|string|founded",
      ":token|string|in", Grid.Target)
    val triples = RelationSpec.relationTriples(sents, Seq(p)).collect()
    assert(triples.nonEmpty)
    // every emitted subject must be one of the corpus entities; object a year
    val entities = graft.testgen.CorpusGen.entities.toSet
    triples.foreach { t =>
      assert(entities.contains(t.subj), s"subject '${t.subj}' not an entity")
      assert(t.obj.matches("\\d{4}"), s"object '${t.obj}' not a year")
    }
    // and they must agree with gold (founded-year) on those pages
    val gold = gen.flatMap(_.gold).filter(_.pred == "founded-year")
      .map(t => (t.subj, t.obj)).toSet
    val got = triples.map(t => (t.subj, t.obj)).toSet
    assert(got.subsetOf(gold), s"extra: ${got -- gold}")
  }

  test("pairStats over a direct sentence pass persists nothing") {
    import spark.implicits._
    val docs = Seq(
      (1L, "please merge alpha now"),
      (2L, "please merge beta now")).toDF("doc_id", "text")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val stats = DocExtract.pairStats(
      DocExtract.sentences(docs, "doc_id", "text", Seq("alpha", "beta")), "merge")
    // one row per (context, target) pair
    assert(stats.count() >= 2)
    assert(spark.sparkContext.getPersistentRDDs.keySet === before)
  }
}

object RelationSpec {

  /** Unpaired mention extraction: every pattern hit of the broadcast pattern set
    * becomes a mention. With [[relationTriples]], the Dataset formulation that
    * StreamingSpec checks `StreamExtract.extractPage` against. */
  def mentions(sentences: Dataset[SentenceAnnots], patterns: Seq[Pattern])(
      implicit spark: SparkSession): Dataset[Mention] = {
    import spark.implicits._
    val idxB = spark.sparkContext.broadcast(PatternMatcher.buildIndex(patterns))
    sentences.flatMap { s =>
      PageKernel.matchableGrid(s).toVector.flatMap { grid =>
        PatternMatcher.matchAll(grid, idxB.value).map { h =>
          Mention(s.url, h.pattern.annotType, h.targetBegin, h.targetEnd,
            PatternMatcher.trimTrailingPunct(h.value), h.pattern.profileId,
            h.pattern.score)
        }
      }
    }
  }

  /** Unpaired two-slot relation extraction: patterns with a `:subject` slot bind both
    * spans in one match, so each hit is emitted as a triple directly. */
  def relationTriples(sentences: Dataset[SentenceAnnots], relPatterns: Seq[Pattern])(
      implicit spark: SparkSession): Dataset[Triple] = {
    import spark.implicits._
    val idxB = spark.sparkContext.broadcast(PatternMatcher.buildIndex(relPatterns))
    sentences.flatMap { s =>
      PageKernel.matchableGrid(s).toVector.flatMap { grid =>
        PatternMatcher.matchAll(grid, idxB.value)
          .filter(_.subjBegin >= 0)
          .map { h =>
            Triple(h.subjValue, h.pattern.annotType,
              PatternMatcher.trimTrailingPunct(h.value),
              s.url, h.targetBegin, h.targetEnd, h.pattern.profileId, h.pattern.score,
              graft.model.Provenance.Auto)
          }
      }
    }
  }

  /** Join+window formulation of `Extract.triples`: the parity oracle of its cogroup
    * subject resolution. It shuffles the mention × subject product. */
  def triplesViaJoin(sentences: Dataset[SentenceAnnots], ms: Dataset[Mention])(
      implicit spark: SparkSession): Dataset[Triple] = {
    import spark.implicits._
    // candidate subjects per page: entity Lookup spans
    val subjects = sentences.flatMap { s =>
      s.annots.filter(a => a.annotType == "Lookup" &&
          a.features.getOrElse("majorType", "") == "entity")
        .map(a => (s.url, s.sentBegin, s.sentEnd, a.begin, a.end, a.value))
    }.toDF("url", "sb", "se", "ab", "ae", "subjVal")
    // subject = nearest preceding (or first following) entity lookup in the sentence
    // containing the mention; one window argmin after a per-page equi-join.
    val joined = ms.toDF().join(subjects, Seq("url"), "left")
      .withColumn("inSent",
        $"sb".isNotNull && $"begin" >= $"sb" && $"begin" < $"se" &&
          !($"ab" === $"begin" && $"ae" === $"end")) // a mention is not its own subject
      .withColumn("dist",
        when(!$"inSent", lit(2000000))
          .when($"ae" <= $"begin", $"begin" - $"ae")         // preceding: distance
          .otherwise(lit(1000000) + ($"ab" - $"begin")))     // following: penalized
    val w = Window.partitionBy($"url", $"annotType", $"begin", $"end")
      .orderBy($"dist".asc, $"ab".asc)
    joined.withColumn("rn", row_number().over(w)).filter($"rn" === 1)
      .select(
        when($"inSent", $"subjVal")
          .otherwise(regexp_extract($"url", "^[a-z]+://([^/]+)", 1)).as("subj"),
        $"annotType".as("pred"), $"value".as("obj"), $"url", $"begin", $"end",
        $"profileId", $"score", lit(graft.model.Provenance.Auto).as("provenance"))
      .as[Triple]
  }
}
