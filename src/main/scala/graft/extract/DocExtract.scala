package graft.extract

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.align.Grid
import graft.model.{Pattern, SentenceAnnots}
import graft.nlp.{AhoCorasick, Annotate, GazEntry, Gazetteer}

/**
 * Document-table front doors for the extraction kernels: run the real broadcast
 * Aho-Corasick gazetteer and the real PatternMatcher over a plain (doc_id, text)
 * corpus. These are the oracle-checkable entry points — the same kernels the full KG
 * pipeline uses, applied to a generic documents table.
 *
 * Scale shape: dictionary/pattern sets are broadcast (small side), documents stream
 * through one narrow mapPartitions stage; the only shuffle is the final groupBy on the
 * (tiny) result.
 */
object DocExtract {

  /**
   * Dictionary mention counting: occurrences of each dict term (as a token-sequence
   * match, Aho-Corasick over the lowercased token stream) across the corpus.
   * Returns (term, n_docs, n_occ) — one row per term with >=1 hit.
   *
   * Runs on the NATIVE codegen expression `ahocorasick_matches`
   * ([[graft.functions.AhoCorasickMatches]]): the automaton is compiled at plan time
   * and the scan→explode→aggregate pipeline stays inside whole-stage codegen — the
   * faster successor of the broadcast-closure formulation (still available as
   * [[mentionCountsClosure]] for sessions without GraftExtensions).
   */
  def mentionCounts(docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String])(implicit spark: SparkSession): DataFrame =
    docs.select(col(idCol).cast("long").as("id"),
        explode(call_function("ahocorasick_matches", col(textCol),
          array(terms.map(lit): _*))).as("m"))
      .groupBy(col("m.term").as("term"))
      .agg(countDistinct("id").as("n_docs"), count(lit(1)).as("n_occ"))
      .select("term", "n_docs", "n_occ")

  /** Broadcast-closure variant of [[mentionCounts]] (no session extensions needed). */
  def mentionCountsClosure(docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String])(implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val termsIdx = terms.toIndexedSeq
    val acB = spark.sparkContext.broadcast(
      AhoCorasick.build(termsIdx.map(_.toLowerCase.split("\\s+").toSeq)))
    val hits = docs.select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val ac = acB.value
        it.flatMap { case (id, text) =>
          val toks = graft.nlp.Tokenizer.scan(text)
          val stream = toks.map(t => text.substring(t.begin, t.end).toLowerCase)
          ac.findAll(stream).map { case (_, _, dictId) => (id, dictId) }
        }
      }.toDF("id", "dict_id")
    hits.groupBy("dict_id")
      .agg(countDistinct("id").as("n_docs"), count(lit(1)).as("n_occ"))
      .withColumn("term",
        element_at(array(termsIdx.map(lit): _*), col("dict_id") + 1))
      .select("term", "n_docs", "n_occ")
  }

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
    Pattern(1L, Seq(Grid.Subject, s":token|string|${trigger.toLowerCase}", Grid.Target),
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
   * (no shuffle). [[pairStats]]/[[valuePriors]]/[[evalScores]] all consume exactly
   * this sentence set; building it once (and optionally caching it across the three)
   * replaces the three independent annotate passes each entry point used to run.
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

  /** Session-scoped cache of persisted sentence sets, keyed by the caller (e.g.
    * "sfdir|kws"): lets a battery of statistics queries over the same corpus share ONE
    * annotate pass. Entries stay persisted until [[clearSentenceCache]] — callers that
    * run a battery (Verify/Bench mains) clear it on exit so no cached RDD outlives
    * the run. */
  private val sentCache =
    scala.collection.concurrent.TrieMap.empty[String, Dataset[SentenceAnnots]]

  def clearSentenceCache(): Unit = {
    sentCache.values.foreach(_.unpersist(blocking = false))
    sentCache.clear()
  }

  /** Test-only visibility: the number of live shared sentence passes (PlansSpec pins
    * that a q30→q32 battery computes the annotate pass ONCE, not per query). */
  private[graft] def sentenceCacheSize: Int = sentCache.size

  /**
   * Run `f` over the (persisted) sentence pass and return its result DETACHED: the
   * result is computed eagerly and re-created as a local relation, so the sentence
   * cache never leaks through returned lineage and uncached runs can unpersist in
   * `finally`. Sound here because every consumer returns a BOUNDED result (pair
   * stats, prior tables, score rollups — never corpus-sized).
   */
  private def withSentences(docs: DataFrame, idCol: String, textCol: String,
      kws: Seq[String], cacheKey: Option[String])(
      f: Dataset[SentenceAnnots] => DataFrame)(implicit spark: SparkSession): DataFrame =
    cacheKey match {
      case Some(k) =>
        // scope the entry to THIS SparkSession (applicationId): a cached Dataset must
        // never be served to a different/restarted session, where its plan is dead
        val key = spark.sparkContext.applicationId + "|" + k
        val sents = sentCache.getOrElseUpdate(key,
          sentences(docs, idCol, textCol, kws)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        detach(f(sents))
      case None =>
        val sents = sentences(docs, idCol, textCol, kws)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try detach(f(sents)) finally sents.unpersist(blocking = false)
    }

  /** Default ceiling for [[detach]] — overridable per session via the
    * `graft.detach.maxRows` conf (tests shrink it; a deliberate large consumer can
    * raise it, which is an explicit opt-in, never a silent driver-OOM). */
  private[graft] val DetachMaxRowsDefault: Long = 4L * 1000 * 1000

  private def detach(df: DataFrame)(implicit spark: SparkSession): DataFrame = {
    import scala.jdk.CollectionConverters._
    // Every withSentences consumer returns a BOUNDED result (pair stats, priors,
    // score rollups) — make that contract enforceable: pull at most bound+1 rows
    // (limit-pushdown, so an over-bound consumer stops after bound+1 rows instead
    // of materializing the full result) and fail fast with a clear message rather
    // than silently OOM-ing the driver on a future corpus-sized consumer.
    val bound = spark.conf.getOption("graft.detach.maxRows")
      .map(_.toLong).getOrElse(DetachMaxRowsDefault)
    val rows = df.limit((bound + 1).min(Int.MaxValue.toLong).toInt).collect()
    require(rows.length <= bound,
      s"DocExtract.detach: consumer produced more than $bound rows — the " +
        "bounded-result contract of withSentences is violated; materialize this " +
        "consumer to storage (sink.Materialize) or raise graft.detach.maxRows " +
        "explicitly instead of collecting a corpus-sized result to the driver")
    spark.createDataFrame(rows.toSeq.asJava, df.schema)
  }

  /**
   * (context × target) pair statistics over a documents table — the oracle-checkable
   * entry point for the pair model (the reference's `final` table,
   * /root/reference/sql/ie-mysql.sql:24-33, written src/msa/BestPatterns.java:515-609):
   * one seeded context pattern (trigger + `:target`) crossed with two seeded target
   * profiles — a gazetteer-keyword target (`:lookup|majortype|kw`) and a generic word
   * target (`:token|kind|word`). Gold spans are derived deterministically (the token
   * after the trigger when it is a gazetteer keyword), so per-pair tp/fp/precision is
   * exactly replayable in SQL. Returns (profile_id, target_id, tp, fp, total, prec_bp)
   * with the reference's per-doc cap 50 and neg-only −1 correction.
   */
  def pairStats(docs: DataFrame, idCol: String, textCol: String, trigger: String,
      kws: Seq[String], cacheKey: Option[String] = None)(
      implicit spark: SparkSession): DataFrame =
    withSentences(docs, idCol, textCol, kws, cacheKey) { sents =>
      import graft.learn.PatternStats
      import spark.implicits._
      val pred = s"after_$trigger"
      val ctx = Pattern(1L, Seq(s":token|string|${trigger.toLowerCase}", Grid.Target),
        pred, 0, "seed", 1.0, 0, 0, 0)
      val tKw = Pattern(11L, Seq(":lookup|majortype|kw"), pred, 1, "seed", 1.0, 0, 0, 0)
      val tWord = Pattern(12L, Seq(":token|kind|word"), pred, 1, "seed", 1.0, 0, 0, 0)
      val triggerLabel = s":token|string|${trigger.toLowerCase}"
      val gold = sents.flatMap { s =>
        val grid = Grid.build(s.url, s.sentBegin, s.sentEnd, s.annots)
        grid.cols.sliding(2).collect {
          case Seq(a, b) if a.has(triggerLabel) && b.has(":lookup|majortype|kw") =>
            (s.url, pred, b.begin, b.end)
        }
      }.toDF("url", "annotType", "begin", "end")
      val cfg = PatternStats.Config(evalTolerance = 0)
      val matches = PatternStats.applyPatternsPaired(sents, Seq(ctx), Seq(tKw, tWord), cfg)
      PatternStats.scorePairs(matches, gold, spark.createDataset(Seq(ctx, tKw, tWord)), cfg)
        .withColumn("fpAdj", greatest(col("fp") - 1, lit(0L)))
        .select(col("profileId").as("profile_id"), col("targetId").as("target_id"),
          col("tp"), col("fp"), col("total"),
          when(col("tp") + col("fpAdj") > 0,
            floor(col("tp") * 10000.0 / (col("tp") + col("fpAdj"))))
            .otherwise(lit(0)).cast("long").as("prec_bp"))
    }

  /**
   * A6 value-probability priors over a documents table — oracle-checkable entry point
   * for [[graft.learn.ValueProbs]]: gold = the token after `trigger` when it is one of
   * `kws`; prior = the {prob·10000, −1, 0} ladder of P(occurrence is gold) per value.
   */
  def valuePriors(docs: DataFrame, idCol: String, textCol: String, trigger: String,
      kws: Seq[String], cacheKey: Option[String] = None)(
      implicit spark: SparkSession): DataFrame =
    withSentences(docs, idCol, textCol, kws, cacheKey) { sents =>
      import graft.learn.ValueProbs
      import spark.implicits._
      val pred = s"after_$trigger"
      val triggerLabel = s":token|string|${trigger.toLowerCase}"
      val gold = sents.flatMap { s =>
        val grid = Grid.build(s.url, s.sentBegin, s.sentEnd, s.annots)
        grid.cols.sliding(2).collect {
          case Seq(a, b) if a.has(triggerLabel) && b.has(":lookup|majortype|kw") =>
            (s.url, pred, b.text)
        }
      }.toDF("url", "annotType", "value")
      ValueProbs.compute(sents, gold, ValueProbs.Config())
    }

  /**
   * Eval-scorer entry point with a SQL twin: predicted = the token after `trigger`
   * when longer than 4 chars (always a single token); gold = the token after `trigger`
   * when it is one of `kws`, EXTENDED over the following token when that is also a
   * keyword — so the corpus yields genuinely multi-token gold spans. Predictions thus
   * contain false positives (long non-keywords), false negatives (short keywords like
   * "join"), and partial overlaps (a single-token prediction against a two-token gold
   * span) — the case where entity-level counts (exact-span: a miss) and token-level
   * counts (per-token-unit: a partial hit) MUST diverge, exercising both scoring arms
   * of [[graft.learn.Eval.score]] distinctly. Returns its full (annot_type × level)
   * table.
   */
  def evalScores(docs: DataFrame, idCol: String, textCol: String, trigger: String,
      kws: Seq[String], cacheKey: Option[String] = None)(
      implicit spark: SparkSession): DataFrame =
    withSentences(docs, idCol, textCol, kws, cacheKey) { sents =>
      import spark.implicits._
      val pred = s"after_$trigger"
      val tokens = sents.flatMap(s =>
          s.annots.filter(_.annotType == "Token").map(a => (a.url, a.begin, a.end)))
        .toDF("url", "begin", "end")
      val triggerLabel = s":token|string|${trigger.toLowerCase}"
      val kwLabel = ":lookup|majortype|kw"
      val predicted = sents.flatMap { s =>
        val grid = Grid.build(s.url, s.sentBegin, s.sentEnd, s.annots)
        grid.cols.sliding(2).collect {
          case Seq(a, b) if a.has(triggerLabel) && b.text.length > 4 =>
            (s.url, pred, b.begin, b.end)
        }
      }.toDF("url", "annotType", "begin", "end")
      val gold = sents.flatMap { s =>
        val cols = Grid.build(s.url, s.sentBegin, s.sentEnd, s.annots).cols
        (0 until cols.size - 1).flatMap { i =>
          val (a, b) = (cols(i), cols(i + 1))
          if (a.has(triggerLabel) && b.has(kwLabel)) {
            val end = if (i + 2 < cols.size && cols(i + 2).has(kwLabel)) cols(i + 2).end
                      else b.end
            Some((s.url, pred, b.begin, end))
          } else None
        }
      }.toDF("url", "annotType", "begin", "end")
      graft.learn.Eval.score(predicted, gold, tokens, tolerance = 0)
    }

  /** A hand-seeded single-anchor pattern: ":token|string|<trigger>" followed by a
    * one-token `:target` (minimal-span rule ⇒ exactly the next token). */
  def triggerPattern(trigger: String): Pattern =
    Pattern(1L, Seq(s":token|string|${trigger.toLowerCase}", Grid.Target),
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
