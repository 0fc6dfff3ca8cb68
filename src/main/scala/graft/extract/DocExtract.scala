package graft.extract

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.align.{Grid, GridCol}
import graft.model.{Pattern, SentenceAnnots}
import graft.nlp.{Annotate, GazEntry, Gazetteer}

/**
 * Document-table front doors for the extraction kernels: run the real broadcast
 * Aho-Corasick gazetteer and the real PatternMatcher over a plain (doc_id, text)
 * corpus. These are the oracle-checkable entry points — the same kernels the full KG
 * pipeline uses, applied to a generic documents table.
 *
 * Scale shape: dictionary/pattern sets are broadcast (small side), documents stream
 * through one narrow mapPartitions stage; the only shuffle is the final groupBy on the
 * (tiny) result. Every entry point returns its plan as built: this object holds no
 * state or cache and collects nothing to the driver (the priors' vocabulary counts in
 * [[graft.learn.ValueProbs]] aside).
 */
object DocExtract {

  /**
   * Dictionary mention counting: occurrences of each dict term (as a token-sequence
   * match, Aho-Corasick over the lowercased token stream) across the corpus.
   * Returns (term, n_docs, n_occ) — one row per term with >=1 hit.
   *
   * Runs on the NATIVE codegen expression `ahocorasick_matches`
   * ([[graft.functions.AhoCorasickMatches]]): the automaton is compiled at plan time
   * and the scan→explode→aggregate pipeline stays inside whole-stage codegen.
   */
  def mentionCounts(docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String])(implicit spark: SparkSession): DataFrame =
    docs.select(col(idCol).cast("long").as("id"),
        explode(call_function("ahocorasick_matches", col(textCol),
          array(terms.map(lit): _*))).as("m"))
      .groupBy(col("m.term").as("term"))
      .agg(countDistinct("id").as("n_docs"), count(lit(1)).as("n_occ"))
      .select("term", "n_docs", "n_occ")

  /** One document's sentences: its text normalized, annotated and grouped under the
    * url `synth://doc/<id>` (none when the text fails the normalize gate). */
  private def docSentences(id: Long, text: String, gaz: Gazetteer,
      withChunks: Boolean): Seq[SentenceAnnots] =
    graft.ingest.Normalize.normalize(text).toSeq.flatMap { norm =>
      val url = s"synth://doc/$id"
      graft.mention.Sentences.group(url, Annotate.annotateOne(url, norm, gaz, withChunks))
    }

  /** A hand-seeded two-slot relation pattern: gazetteer `:subject` immediately before
    * the trigger token, `:target` immediately after — minimal-span ⇒ single tokens. */
  def relationPattern(trigger: String, pred: String): Pattern =
    Pattern(1L, Seq(Grid.Subject, triggerLabel(trigger), Grid.Target),
      annotType = pred, profileType = 0, group = "seed",
      score = 1.0, truePos = 0, falsePos = 0, rows = 0)

  /**
   * Two-slot relation extraction over a documents table: (id, subj, pred, obj, n_hits)
   * with the subject bound by the match itself (entity Lookup slot). Same annotate →
   * sentence → matcher path as patternExtract.
   */
  def relationExtract(docs: DataFrame, idCol: String, textCol: String,
      patterns: Seq[Pattern], gazEntries: Seq[GazEntry])(
      implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val gazB = spark.sparkContext.broadcast(Gazetteer.build(gazEntries))
    val idxB = spark.sparkContext.broadcast(PatternMatcher.buildIndex(patterns))
    val hits = docs.select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val index = idxB.value
        val g = gazB.value
        it.flatMap { case (id, text) =>
          docSentences(id, text, g, index.needsSyntax).flatMap { s =>
            val grid = Grid.build(s.url, s.sentBegin, s.sentEnd, s.annots)
            PatternMatcher.matchAll(grid, index)
              .filter(_.subjBegin >= 0)
              .map(h => (id, h.subjValue, h.pattern.annotType, h.value))
          }
        }
      }.toDF("doc_id", "subj", "pred", "obj")
    hits.groupBy("doc_id", "subj", "pred", "obj").agg(count(lit(1)).as("n_hits"))
  }

  /**
   * Shared annotate→sentence pass for the documents-table statistics entry points:
   * normalize → tokenize → keyword gazetteer → sentence grouping, ONE narrow stage
   * (no shuffle). [[pairStats]]/[[valuePriors]]/[[evalScores]] take this sentence set
   * as built; `kws` become `:lookup|majortype|kw` labels, the keywords their gold spans
   * are read from. A caller that runs several of them shares one set and owns its
   * lifetime (the q30–q32 battery fixture in [[graft.SparkEntry]]).
   */
  def sentences(docs: DataFrame, idCol: String, textCol: String, kws: Seq[String])(
      implicit spark: SparkSession): Dataset[SentenceAnnots] = {
    import spark.implicits._
    val gazB = spark.sparkContext.broadcast(
      Gazetteer.build(kws.map(w => GazEntry(w, "kw", "kw"))))
    docs.select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val g = gazB.value
        // the statistics consumers match seeded token/lookup patterns only — chunk
        // labels could never match, so skip the per-doc chunk scan
        it.flatMap { case (id, text) => docSentences(id, text, g, withChunks = false) }
      }
  }

  /** The grid label of the token `trigger`. */
  private def triggerLabel(trigger: String): String =
    s":token|string|${PageKernel.lowered(trigger)}"

  /** The gazetteer-keyword label of the statistics entry points' `kws`. */
  private val KwLabel = ":lookup|majortype|kw"

  /** The columns after each `trigger` column of `s`'s grid, nearest first: the
    * statistics entry points read their gold and predicted spans from these. */
  private def afterTrigger(s: SentenceAnnots, trigger: String): Iterator[IndexedSeq[GridCol]] = {
    val label = triggerLabel(trigger)
    val cols = Grid.build(s.url, s.sentBegin, s.sentEnd, s.annots).cols
    cols.indices.iterator.filter(cols(_).has(label)).map(i => cols.drop(i + 1))
  }

  /**
   * (context × target) pair statistics over a documents table — the oracle-checkable
   * entry point for the pair model (the reference's `final` table,
   * /root/reference/sql/ie-mysql.sql:24-33, written src/msa/BestPatterns.java:515-609):
   * one seeded context pattern (trigger + `:target`) crossed with two seeded target
   * profiles — a gazetteer-keyword target (`:lookup|majortype|kw`) and a generic word
   * target (`:token|kind|word`), over the keyword-annotated [[sentences]]. Gold spans
   * are derived deterministically (the token after the trigger when it is a keyword),
   * so per-pair tp/fp/precision is exactly replayable in SQL. Returns (profile_id,
   * target_id, tp, fp, total, prec_bp) with the reference's per-doc cap 50 and
   * neg-only −1 correction.
   */
  def pairStats(sents: Dataset[SentenceAnnots], trigger: String)(
      implicit spark: SparkSession): DataFrame = {
    import graft.learn.{LearnKernel, PatternStats}
    import spark.implicits._
    val pred = s"after_$trigger"
    val ctx = triggerPattern(trigger).copy(annotType = pred)
    val tKw = Pattern(11L, Seq(KwLabel), pred, 1, "seed", 1.0, 0, 0, 0)
    val tWord = Pattern(12L, Seq(":token|kind|word"), pred, 1, "seed", 1.0, 0, 0, 0)
    val gold = sents.flatMap { s =>
      afterTrigger(s, trigger).collect {
        case b +: _ if b.has(KwLabel) => (s.url, pred, b.begin, b.end)
      }
    }.toDF("url", "annotType", "begin", "end")
    val cfg = PatternStats.Config(evalTolerance = 0)
    val matches = PatternStats.applyPatternsPaired(sents, Seq(ctx), Seq(tKw, tWord), cfg)
    PatternStats.scorePairs(matches, gold, spark.createDataset(Seq(ctx, tKw, tWord)), cfg)
      .as[LearnKernel.PairStat]
      .map(st => (st.profileId, st.targetId, st.tp, st.fp, st.total,
        LearnKernel.precisionBp(st.tp, st.fp)))
      .toDF("profile_id", "target_id", "tp", "fp", "total", "prec_bp")
  }

  /**
   * A6 value-probability priors over a documents table — oracle-checkable entry point
   * for [[graft.learn.ValueProbs]]: gold = the token after `trigger` when it is one of
   * the keywords of [[sentences]]; prior = the {prob·10000, −1, 0} ladder of
   * P(occurrence is gold) per value.
   */
  def valuePriors(sents: Dataset[SentenceAnnots], trigger: String)(
      implicit spark: SparkSession): DataFrame = {
    import graft.learn.ValueProbs
    import spark.implicits._
    val pred = s"after_$trigger"
    val gold = sents.flatMap { s =>
      afterTrigger(s, trigger).collect {
        case b +: _ if b.has(KwLabel) => (s.url, pred, b.text)
      }
    }.toDF("url", "annotType", "value")
    ValueProbs.compute(sents, gold, ValueProbs.Config())
  }

  /**
   * Eval-scorer entry point with a SQL twin: predicted = the token after `trigger`
   * when longer than 4 chars (always a single token); gold = the token after `trigger`
   * when it is one of the keywords of [[sentences]], EXTENDED over the following token
   * when that is also a keyword — so the corpus yields genuinely multi-token gold
   * spans. Predictions thus contain false positives (long non-keywords), false
   * negatives (short keywords like "join"), and partial overlaps (a single-token
   * prediction against a two-token gold span) — the case where entity-level counts
   * (exact-span: a miss) and token-level counts (per-token-unit: a partial hit) MUST
   * diverge, exercising both scoring arms of [[graft.learn.Eval.score]] distinctly.
   * Returns its full (annot_type × level) table.
   */
  def evalScores(sents: Dataset[SentenceAnnots], trigger: String)(
      implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val pred = s"after_$trigger"
    val tokens = sents.flatMap(s =>
        s.annots.filter(_.annotType == "Token").map(a => (a.url, a.begin, a.end)))
      .toDF("url", "begin", "end")
    val predicted = sents.flatMap { s =>
      afterTrigger(s, trigger).collect {
        case b +: _ if b.text.length > 4 => (s.url, pred, b.begin, b.end)
      }
    }.toDF("url", "annotType", "begin", "end")
    val gold = sents.flatMap { s =>
      afterTrigger(s, trigger).collect {
        case b +: rest if b.has(KwLabel) =>
          (s.url, pred, b.begin, rest.headOption.filter(_.has(KwLabel)).fold(b.end)(_.end))
      }
    }.toDF("url", "annotType", "begin", "end")
    graft.learn.Eval.score(predicted, gold, tokens, tolerance = 0)
  }

  /** A hand-seeded single-anchor pattern: ":token|string|<trigger>" followed by a
    * one-token `:target` (minimal-span rule ⇒ exactly the next token). */
  def triggerPattern(trigger: String): Pattern =
    Pattern(1L, Seq(triggerLabel(trigger), Grid.Target),
      annotType = s"follows_$trigger", profileType = 0, group = "seed",
      score = 1.0, truePos = 0, falsePos = 0, rows = 0)

  /**
   * Pattern-based extraction over a documents table with a seed pattern set, via the
   * full annotate → sentence-grid → PatternMatcher path. Returns
   * (id, pred, obj, n_hits) aggregated per extracted value.
   */
  def patternExtract(docs: DataFrame, idCol: String, textCol: String,
      patterns: Seq[Pattern], gazEntries: Seq[GazEntry] = Nil)(
      implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val gaz = Gazetteer.build(gazEntries)
    val gazB = spark.sparkContext.broadcast(gaz)
    val idxB = spark.sparkContext.broadcast(PatternMatcher.buildIndex(patterns))
    val hits = docs.select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val index = idxB.value
        val g = gazB.value
        it.flatMap { case (id, text) =>
          docSentences(id, text, g, index.needsSyntax).flatMap { s =>
            val grid = Grid.build(s.url, s.sentBegin, s.sentEnd, s.annots)
            PatternMatcher.matchAll(grid, index).map(h => (id, h.pattern.annotType, h.value))
          }
        }
      }.toDF("id", "pred", "obj")
    hits.groupBy("id", "pred", "obj").agg(count(lit(1)).as("n_hits"))
  }
}
