package graft

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.dedup.Dedup
import graft.extract.DocExtract
import graft.model.SentenceAnnots
import graft.multimodal.Multimodal
import graft.sim.Similarity
import graft.text.TextAnalysis

/**
 * Driver contract (SURVEY.md §7): one entry per implemented operator family, each with
 * an ANSI-SQL oracle the driver replays in DuckDB over the same parquet tables.
 *
 * Portability rules that make Spark-vs-DuckDB results hash-identical:
 *  - derived ratios/scores are fixed-point integers via floor() (never float division);
 *  - money/double aggregates go through round(x*100) → BIGINT cents before summing;
 *  - counts from size()/row_number() are cast to BIGINT (DuckDB len()/windows emit
 *    BIGINT; Spark emits INT);
 *  - content hashes are md5 hex (identical in both engines); SimHash token hashes and
 *    LSH hyperplane signs are md5-derived too (15-hex-char prefix as a 60-bit integer;
 *    low bit of the first hex char), so every operator — including SimHash and the
 *    LSH-bucketed ANN paths — has an exact DuckDB oracle twin.
 */
object SparkEntry {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** round(x*100) as BIGINT — exact integer cents, engine-portable. */
  private def cents(c: Column): Column = round(c * 100).cast("long")

  /** Keyword set shared by the q30–q32 statistics fixtures. */
  private val statsKws = Seq("spark", "join", "window", "filter", "table")

  /** The battery's shared data, each persisted once per session and corpus dir: the
    * q30–q32 sentence pass ([[statsSentences]]) and the q51–q53 triple table
    * ([[kgTriplesFixture]]). The application id in the key keeps a fixture from being
    * served to another (or a restarted) session, where its plan is dead. Verify, Bench
    * and PlanDump call [[clearFixtures]] when their battery ends, so nothing persisted
    * here outlives the run. */
  private val fixtures = scala.collection.concurrent.TrieMap.empty[String, Dataset[_]]

  private def fixture[T](s: SparkSession, key: String)(build: => Dataset[T]): Dataset[T] =
    fixtures.getOrElseUpdate(s.sparkContext.applicationId + "|" + key,
      build.persist(StorageLevel.MEMORY_AND_DISK)).asInstanceOf[Dataset[T]]

  def clearFixtures(): Unit = {
    fixtures.values.foreach(_.unpersist(blocking = false))
    fixtures.clear()
  }

  /** The number of live fixtures (PlansSpec: building q30 then q32 leaves one). */
  private[graft] def fixtureCount: Int = fixtures.size

  /** q30–q32 share ONE annotate→sentence pass over the documents table. */
  private def statsSentences(s: SparkSession, d: String): Dataset[SentenceAnnots] =
    fixture(s, s"sentences|$d|${statsKws.mkString(",")}")(
      DocExtract.sentences(t(s, d, "documents"), "doc_id", "text", statsKws)(s))

  /** q34's inline micro-docs: exercise the chunker's VP (aux run + consumed
    * participle) and PP (prep + NP) arms, which the corpus text never triggers.
    * Pure lowercase alnum + single spaces, so the oracle's whitespace split stays
    * equivalent to Tokenizer.scan on these rows too. The SAME strings appear as
    * VALUES in the q34 oracle — keep them in sync. */
  private val chunkExtraDocs = Seq(
    (-1L, "the report was computed from the table and the analysts were running in the market"),
    (-2L, "analysts should have reported growth in markets and customers may be waiting for the products no"))

  /** Deterministic triple table for the q51–q53 graph operators: lineitem as a skewed
    * (subj=supplier, pred=returnflag class, obj=part) fact store. The SAME derivation
    * appears as `kgTriplesSql` in the oracles — keep them in sync. */
  private def kgTriples(lineitem: DataFrame): DataFrame =
    lineitem.select(
      concat(lit("s"), col("l_suppkey").cast("string")).as("subj"),
      concat(lit("rf_"), col("l_returnflag")).as("pred"),
      concat(lit("p"), col("l_partkey").cast("string")).as("obj"))

  /** q51–q53 share ONE build of the triple table: the three graph queries would
    * otherwise re-scan and re-derive the same lineitem projection. */
  private def kgTriplesFixture(s: SparkSession, d: String): DataFrame =
    fixture(s, s"triples|$d")(kgTriples(t(s, d, "lineitem")))

  /** Two deterministic crawl snapshots for the q55/q56 incremental-maintenance
    * operators: prev omits doc_id%5==0 (those become `added`), curr rewrites
    * doc_id%7==0 (→ `changed`) and omits doc_id%11==0 (→ `removed`). The SQL twin is
    * [[snapshotsSql]] — keep them in sync. */
  private def snapshots(documents: DataFrame): (DataFrame, DataFrame) = {
    val docs = documents.select(
      concat(lit("u"), col("doc_id").cast("string")).as("url"),
      col("doc_id"), col("text"))
    val prev = docs.filter(col("doc_id") % 5 =!= 0)
      .select(col("url"), md5(col("text")).as("h"))
    val curr = docs.filter(col("doc_id") % 11 =!= 0)
      .select(col("url"),
        md5(when(col("doc_id") % 7 === 0, concat(col("text"), lit(" updated")))
          .otherwise(col("text"))).as("h"))
    (prev, curr)
  }

  /** Deterministic multi-capture crawl history for the q57/q58 temporal operators:
    * every url has doc_id%3+1 captures (version v = 0..doc_id%3); the content hash
    * varies per capture, lang is stable. SQL twin: [[crawlHistorySql]]. */
  private def crawlHistory(documents: DataFrame): DataFrame =
    documents.select(
        concat(lit("u"), col("doc_id").cast("string")).as("url"),
        col("doc_id"), col("text"), col("lang"))
      .select(col("url"), col("doc_id"), col("lang"),
        explode(sequence(lit(0L), pmod(col("doc_id"), lit(3L)))).as("v"),
        col("text"))
      .select(col("url"), col("lang"), col("v"),
        md5(concat(col("text"), col("v").cast("string"))).as("h"))

  /** Flagship: pattern-based triple extraction over the sf0.001 documents corpus via
    * the full normalize → tokenize → sentence-grid → broadcast-matcher path. */
  def entry(spark: SparkSession): DataFrame = {
    implicit val s: SparkSession = spark
    DocExtract.patternExtract(
      t(spark, "/root/testdata/sf0.001", "documents"), "doc_id", "text",
      Seq(DocExtract.triggerPattern("merge")))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- scans / filters / projections (S1, P-pushdown) ----
    "q01_scan_prune" -> ((s, d) =>
      t(s, d, "lineitem")
        .filter(col("l_returnflag") === "R" && col("l_quantity") >= 45)
        .select("l_orderkey", "l_linenumber", "l_quantity")),

    // ---- aggregation with map-side partials (A1/A8) ----
    "q02_agg" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"),
          sum(cents(col("l_extendedprice"))).as("revenue_cents"),
          sum(round(col("l_quantity")).cast("long")).as("sum_qty"))),

    // ---- broadcast join chain (J6/J7) ----
    "q03_join_agg" -> ((s, d) =>
      t(s, d, "orders")
        .join(broadcast(t(s, d, "customer")), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("cnt"), sum(cents(col("o_totalprice"))).as("total_cents"))),

    // ---- anti join (J1/J4): customers with no high-value order ----
    "q04_anti_join" -> ((s, d) =>
      t(s, d, "customer")
        .join(t(s, d, "orders").filter(col("o_totalprice") > 400000),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")),

    // ---- semi join ----
    "q05_semi_join" -> ((s, d) =>
      t(s, d, "customer")
        .join(t(s, d, "orders").filter(col("o_orderstatus") === "F"),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_mktsegment")),

    // ---- window argmax per group (W1) ----
    "q06_window_top1" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
      t(s, d, "orders").withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("o_custkey"), col("o_orderkey"),
          cents(col("o_totalprice")).as("price_cents"))
    }),

    // ---- global top-k (W5) ----
    "q07_topk" -> ((s, d) =>
      t(s, d, "orders").orderBy(desc("o_totalprice"), asc("o_orderkey")).limit(10)
        .select(col("o_orderkey"), cents(col("o_totalprice")).as("price_cents"))),

    // ---- equi + range predicate join (J2) ----
    "q08_range_join" -> ((s, d) =>
      t(s, d, "lineitem")
        .join(t(s, d, "orders"),
          col("l_orderkey") === col("o_orderkey") &&
            col("l_shipdate") >= col("o_orderdate") &&
            datediff(col("l_shipdate"), col("o_orderdate")) <= 30)
        .groupBy("o_orderpriority").agg(count(lit(1)).as("cnt"))),

    // ---- sessionization (W4 idiom) ----
    "q09_sessionize" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("sec", "event_id")
      t(s, d, "events")
        .select(col("user_id"), col("event_id"), unix_timestamp(col("ts")).as("sec"))
        .withColumn("brk",
          when(col("sec") - lag("sec", 1).over(w) > 1800, 1).otherwise(0))
        .groupBy("user_id")
        .agg((sum("brk") + 1).cast("long").as("n_sessions"), count(lit(1)).as("n_events"))
    }),

    // ---- prob tables: groupBy counts + left join + null-safe ratio (J12/A6) ----
    "q10_prob_join" -> ((s, d) => {
      val tot = t(s, d, "events").groupBy("event_type").agg(count(lit(1)).as("cnt_total"))
      val high = t(s, d, "events").filter(col("value") > 100)
        .groupBy("event_type").agg(count(lit(1)).as("cnt_high0"))
      tot.join(high, Seq("event_type"), "left")
        .withColumn("cnt_high", coalesce(col("cnt_high0"), lit(0L)))
        .withColumn("ratio_bp", floor(col("cnt_high") * 10000L / col("cnt_total")))
        .select("event_type", "cnt_total", "cnt_high", "ratio_bp")
    }),

    // ---- distinct aggregation ----
    "q11_distinct" -> ((s, d) =>
      t(s, d, "events").groupBy("event_type")
        .agg(countDistinct("user_id").as("n_users"), count(lit(1)).as("n_events"))),

    // ---- tumbling event-time window (batch analog of the streaming agg) ----
    "q12_hourly" -> ((s, d) =>
      t(s, d, "events")
        .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss")
          .as("hour"), col("event_type"))
        .agg(count(lit(1)).as("cnt"), sum(cents(col("value"))).as("value_cents"))),

    // ---- dedup: exact (hash groupBy) ----
    "q13_dedup_exact" -> ((s, d) => Dedup.exact(t(s, d, "documents"), "doc_id", "text")),

    // ---- text: token counting (whitespace + BPE-ish regex) ----
    "q14_token_count" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        TextAnalysis.wsTokenCount(col("text")).as("n_tokens"),
        size(TextAnalysis.bpeTokens(col("text"))).cast("long").as("n_bpe_tokens"))),

    // ---- text: quality scoring ----
    "q15_quality" -> ((s, d) =>
      TextAnalysis.quality(t(s, d, "documents"))
        .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
          col("n_chars_m").cast("long").as("n_chars_m"),
          col("punct_ratio_bp"), col("stop_ratio_bp"), col("mean_tok_len_c"))),

    // ---- language stats rollup ----
    "q16_lang_stats" -> ((s, d) =>
      t(s, d, "documents").groupBy("lang")
        .agg(count(lit(1)).as("cnt"), sum("n_chars").as("sum_chars"))),

    // ---- document fingerprinting (canonical-form md5) ----
    "q17_fingerprint" -> ((s, d) =>
      TextAnalysis.fingerprint(t(s, d, "documents")).select("doc_id", "fp_md5")),

    // ---- language-ID (marker n-gram heuristic) ----
    "q18_langid" -> ((s, d) =>
      TextAnalysis.langId(t(s, d, "documents"))
        .select(col("doc_id"), col("lang_pred"), col("lang_score").cast("long").as("lang_score"))),

    // ---- dedup: n-gram Jaccard near-dup pairs (blocked, capped postings) ----
    "q19_jaccard_neardup" -> ((s, d) =>
      Dedup.jaccardPairs(t(s, d, "documents"), "doc_id", "text",
          n = 4, minJaccardBp = 3000L, maxPosting = 1000)
        .select(col("id_a"), col("id_b"), col("inter"),
          col("size_a").cast("long").as("size_a"),
          col("size_b").cast("long").as("size_b"), col("jacc_bp"))),

    // ---- dedup: MinHash + LSH banding ----
    "q20_minhash_lsh" -> ((s, d) =>
      Dedup.minhashLshPairs(t(s, d, "documents"), "doc_id", "text",
        n = 4, numHashes = 12, bands = 4, minJaccardBp = 3000L)),

    // ---- dedup: SimHash (md5-derived 60-bit hash; exact DuckDB twin) ----
    "q21_simhash" -> ((s, d) =>
      Dedup.simhashPairs(t(s, d, "documents"), "doc_id", "text", maxHamming = 12)
        .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))),

    // ---- similarity: brute-force cosine top-k (quantized-exact) ----
    "q22_cosine_topk" -> ((s, d) => {
      val corpus = t(s, d, "embeddings").select(col("vec_id").as("id"), col("embedding").as("vec"))
      Similarity.bruteForceTopK(corpus, corpus.filter(col("id") < 20), k = 3)
        .select(col("query_id"), col("neighbor_id"), col("dot_q"),
          col("rank").cast("long").as("rank"))
    }),

    // ---- similarity: LSH-bucketed ANN (scale path; md5-derived hyperplanes) ----
    "q23_ann_lsh" -> ((s, d) => {
      val corpus = t(s, d, "embeddings").select(col("vec_id").as("id"), col("embedding").as("vec"))
      Similarity.lshTopK(corpus, corpus.filter(col("id") < 20), k = 3)
        .select(col("query_id"), col("neighbor_id"), col("dot_q"),
          col("rank").cast("long").as("rank"))
    }),

    // ---- dedup: embedding-cosine near-dup (md5-derived hyperplanes) ----
    "q24_cosine_neardup" -> ((s, d) => {
      val corpus = t(s, d, "embeddings").select(col("vec_id").as("id"), col("embedding").as("vec"))
      Similarity.cosineNearDupPairs(corpus, minCosBp = 4500L, planes = 4, tables = 4)
    }),

    // ---- multimodal: binary payload plumbing (stub decoder) ----
    "q25_multimodal" -> ((s, d) => {
      implicit val sp: SparkSession = s
      val media = Multimodal.fromDocuments(t(s, d, "documents"), "doc_id", "text")
      Multimodal.extractFeatures(media).toDF().select("media_id", "kind", "n_bytes")
    }),

    // ---- gazetteer mention counting (broadcast Aho-Corasick) ----
    "q26_mention_count" -> ((s, d) => {
      implicit val sp: SparkSession = s
      DocExtract.mentionCounts(t(s, d, "documents"), "doc_id", "text",
        Seq("spark", "join", "merge", "window", "filter"))
    }),

    // ---- pattern-based extraction (the KG triple kernel, seeded pattern) ----
    "q27_pattern_extract" -> ((s, d) => {
      implicit val sp: SparkSession = s
      DocExtract.patternExtract(t(s, d, "documents"), "doc_id", "text",
          Seq(DocExtract.triggerPattern("merge")))
        .withColumnRenamed("id", "doc_id")
    }),

    // ---- two-slot relation extraction (subject bound by the match itself) ----
    "q29_relation_extract" -> ((s, d) => {
      implicit val sp: SparkSession = s
      DocExtract.relationExtract(t(s, d, "documents"), "doc_id", "text",
        Seq(DocExtract.relationPattern("merge", "merge_rel")),
        Seq("spark", "join", "window", "filter").map(w =>
          graft.nlp.GazEntry(w, "entity", "kw")))
    }),

    // ---- pair-model statistics: per-(context, target) tp/fp/precision ----
    // The three statistics queries read ONE persisted annotate→sentence pass, the
    // statsSentences fixture, and return their plans over it.
    "q30_pair_stats" -> ((s, d) =>
      DocExtract.pairStats(statsSentences(s, d), "merge")(s)),

    // ---- value-probability priors: the {prob, −1, 0} gate ladder ----
    "q31_value_priors" -> ((s, d) =>
      DocExtract.valuePriors(statsSentences(s, d), "merge")(s)),

    // ---- eval scorer: token + entity P/R/F1 vs derived gold ----
    "q32_eval_scores" -> ((s, d) =>
      DocExtract.evalScores(statsSentences(s, d), "merge")(s)),

    // ---- P7 doc cleanup: trim + whitespace-collapse rewrite ----
    "q33_clean_docs" -> ((s, d) =>
      graft.ingest.Normalize.cleanDocs(
          t(s, d, "documents").select(col("doc_id"), col("text")), "text")
        .select(col("doc_id"), col("text").as("clean_text"),
          length(col("text")).cast("long").as("n_chars"))),

    // ---- shallow chunker: NP/VP/PP spans per doc (syntax-label producer) ----
    // The corpus exercises only the NP arm (it has determiners but no aux/prep/
    // participles), so two inline micro-docs — same lowercase-alnum/single-space
    // shape, identical VALUES in the oracle — drive the VP and PP arms through the
    // same oracle check.
    "q34_chunk_spans" -> ((s, d) => {
      import s.implicits._
      t(s, d, "documents").select(col("doc_id").cast("long"), col("text"))
        .unionByName(chunkExtraDocs.toDF("doc_id", "text"))
        .as[(Long, String)]
        .flatMap { case (id, text) =>
          val toks = graft.nlp.Tokenizer.scan(text)
          graft.nlp.Chunker.chunk(toks, text).map(c =>
            (id, c.cat, c.until - c.from))
        }
        .toDF("doc_id", "cat", "width")
        .groupBy("doc_id", "cat")
        .agg(count(lit(1)).as("n_chunks"), sum(col("width")).as("n_tokens"))
    }),

    // ---- frame-store precedence + element-repeat (PopulateFrame rules): candidate
    // triple rows derived from the corpus (auto row at every trigger site; a
    // validated row on even docs), site precedence, then repeat ordinals ----
    "q35_precedence" -> ((s, d) => {
      implicit val sp: SparkSession = s
      val w = Window.partitionBy("doc_id").orderBy("i")
      val toks = t(s, d, "documents")
        .select(col("doc_id"),
          posexplode(filter(split(lower(trim(col("text"))), "\\s+"),
            x => length(x) > 0)).as(Seq("i0", "tok")))
        .select(col("doc_id"), (col("i0") + 1).as("i"), col("tok"))
      val trig = toks
        .withColumn("nxt", lead("tok", 1).over(w))
        .withColumn("prv", lag("tok", 1).over(w))
        .filter(col("tok") === "merge" && col("nxt").isNotNull)
      def cand(src: DataFrame, subj: String, obj: Column, profileId: Long,
          score: Double, prov: String): DataFrame =
        src.select(col("doc_id").as("url"), lit("follows_merge").as("pred"),
          col("i").cast("int").as("begin"), (col("i") + 1).cast("int").as("end"),
          lit(subj).as("subj"), obj.as("obj"), lit(profileId).as("profileId"),
          lit(score).as("score"), lit(prov).as("provenance"))
      val auto = cand(trig, "auto", col("nxt"), 7L, 0.99, graft.model.Provenance.Auto)
      val gold = cand(trig.filter(col("doc_id") % 2 === 0), "gold",
        coalesce(col("prv"), lit("none")), -1L, 0.5, graft.model.Provenance.Gold)
      val sites = graft.sink.Materialize.dedupPrecedence(auto.unionByName(gold))
      graft.sink.Materialize.withElementRepeat(sites)
        .select(col("url").cast("long").as("doc_id"),
          col("begin").cast("long").as("b"), col("end").cast("long").as("e"),
          col("subj"), col("obj"), col("provenance"),
          col("element_repeat").cast("long").as("element_repeat"))
    }),

    // ---- similarity: IVF ANN (coarse-quantizer cells, probe-limited search) ----
    "q36_ann_ivf" -> ((s, d) => {
      val corpus = t(s, d, "embeddings").select(col("vec_id").as("id"), col("embedding").as("vec"))
      Similarity.ivfTopK(corpus, corpus.filter(col("id") < 20), k = 3)
        .select(col("query_id"), col("neighbor_id"), col("dot_q"),
          col("rank").cast("long").as("rank"))
    }),

    // ---- skew: salted two-phase aggregation over the domain key ----
    // Per-domain corpus stats shaped as the hot-domain case: the salted decomposition
    // (partial per (source, salt(doc_id)), merge per source) must equal a plain
    // GROUP BY — which is exactly what the oracle computes.
    "q37_salted_agg" -> ((s, d) =>
      graft.scale.Skew.saltedAgg(t(s, d, "documents"),
        groupCols = Seq("source"), saltFrom = Seq(col("doc_id")), buckets = 8,
        aggs = Seq(
          graft.scale.Skew.cnt("n_docs"),
          graft.scale.Skew.sumOf(col("n_chars"), "sum_chars"),
          graft.scale.Skew.maxOf(col("n_chars"), "max_chars"),
          graft.scale.Skew.minOf(col("n_chars"), "min_chars")))),

    // ---- skew: salted fact×dim join (dim replicated ×buckets, fact salted) ----
    "q38_salted_join" -> ((s, d) =>
      graft.scale.Skew.saltedJoin(
        fact = t(s, d, "lineitem"), dim = t(s, d, "part"),
        factKey = "l_partkey", dimKey = "p_partkey",
        saltFrom = Seq(col("l_orderkey"), col("l_linenumber")), buckets = 8)
        .groupBy("p_brand")
        .agg(count(lit(1)).as("cnt"),
          sum(round(col("l_quantity")).cast("long")).as("sum_qty"))),

    // ---- store maintenance: auto annotations inside duplicate-sentence spans are
    // dropped (RemoveDupSentAnnots); fixture in 1-based token-index units: kw tokens
    // are ##auto rows, odd docs carry a SentenceDuplicate span over their first half ----
    "q39_dedup_annot_store" -> ((s, d) => {
      val toks = t(s, d, "documents")
        .select(col("doc_id"),
          posexplode(filter(split(lower(trim(col("text"))), "\\s+"),
            x => length(x) > 0)).as(Seq("i0", "tok")))
        .select(col("doc_id"), (col("i0") + 1).as("i"), col("tok"))
      val n = toks.groupBy("doc_id").agg(max("i").as("n"))
      val auto = toks.filter(col("tok").isin(statsKws: _*))
        .select(col("doc_id").cast("string").as("url"), lit("kw").as("annotType"),
          col("i").cast("long").as("begin"), (col("i") + 1).cast("long").as("end"),
          lit("##auto").as("provenance"))
      val dup = n.filter(col("doc_id") % 2 === 1 && col("n") >= 2)
        .select(col("doc_id").cast("string").as("url"),
          lit("SentenceDuplicate").as("annotType"), lit(1L).as("begin"),
          expr("CAST(1 + n DIV 2 AS BIGINT)").as("end"), lit("human").as("provenance"))
      graft.sink.Maintenance.removeDupSentAnnots(auto.unionByName(dup))
        .select(col("url").cast("long").as("doc_id"), col("annotType").as("annot_type"),
          col("begin").as("b"), col("end").as("e"), col("provenance"))
    }),

    // ---- store maintenance: gray-region document disable (SkipDocsGrayedOut):
    // doc_id%3==0 → gray covers the whole token range (coverage arm); doc_id%3==1
    // with ≥4 tokens → gray covers the first half (disabled iff every kw preload
    // falls inside it and at least one does) ----
    "q40_gray_disable" -> ((s, d) => {
      implicit val sp: SparkSession = s
      val toks = t(s, d, "documents")
        .select(col("doc_id"),
          posexplode(filter(split(lower(trim(col("text"))), "\\s+"),
            x => length(x) > 0)).as(Seq("i0", "tok")))
        .select(col("doc_id"), (col("i0") + 1).as("i"), col("tok"))
      val n = toks.groupBy("doc_id").agg(max("i").as("n"))
      def rows(src: DataFrame, ty: String, b: Column, e: Column, v: Column) =
        src.select(col("doc_id").cast("string").as("url"), lit(ty).as("annotType"),
          b.cast("long").as("begin"), e.cast("long").as("end"),
          v.cast("string").as("value"))
      val tokenRows = rows(toks, "Token", col("i"), col("i") + 1, lit(null))
      val kwRows = rows(toks.filter(col("tok").isin(statsKws: _*)), "kw",
        col("i"), col("i") + 1, col("tok"))
      val grayFull = rows(n.filter(col("doc_id") % 3 === 0), "gray",
        lit(0L), col("n") + 1, lit(null))
      val grayHalf = rows(n.filter(col("doc_id") % 3 === 1 && col("n") >= 4), "gray",
        lit(0L), expr("1 + n DIV 2"), lit(null))
      graft.sink.Maintenance.disabledDocs(
          tokenRows.unionByName(kwRows).unionByName(grayFull).unionByName(grayHalf),
          grayTypes = Seq("gray"), preloadTypes = Seq("kw"))
        .select(col("url").cast("long").as("doc_id"))
    }),

    // ---- quality: Gopher-style per-doc repetition metrics (2-gram) ----
    "q41_repetition" -> ((s, d) =>
      TextAnalysis.repetition(t(s, d, "documents"), "doc_id", "text", n = 2)),

    // ---- decontamination: corpus docs sharing a 4-gram with the eval split ----
    // Eval set = doc_id % 13 == 0 (a small held-out slice of the same table — the
    // realistic shape: benchmark suite tiny vs corpus, so its shingles broadcast).
    "q42_decontaminate" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Dedup.contaminatedDocs(
        corpus = docs.filter(col("doc_id") % 13 =!= 0),
        evalSet = docs.filter(col("doc_id") % 13 === 0),
        idCol = "doc_id", textCol = "text", n = 4)
    }),

    // ---- entity linking: blocked candidates scored by embedding cosine ----
    // Forms derived from the embeddings table (one per vec_id < 60); all land in one
    // block, so the oracle replays the in-block pair scoring exactly.
    "q43_link_embed" -> ((s, d) => {
      implicit val sp: SparkSession = s
      val forms = t(s, d, "embeddings").filter(col("vec_id") < 60)
        .select(concat(lit("entity "), col("vec_id").cast("string")).as("form"),
          col("embedding").as("vec"))
      graft.link.EntityLink.candidateEdgesEmbedding(forms, minCosBp = 3000L)
    }),

    // ---- the composed dedup pipeline: exact → near-dup clusters → canonical id ----
    // Exact clones injected deterministically (doc_id % 100 == 0 → +100000) because
    // the synthetic corpus has no byte-identical rows; clones must map to their
    // original, which must map to its near-dup cluster minimum.
    "q44_dedup_canon" -> ((s, d) => {
      implicit val sp: SparkSession = s
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val clones = docs.filter(col("doc_id") % 100 === 0)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
      Dedup.canonicalDocs(docs.unionByName(clones), "doc_id", "text")
    }),

    // ---- URL canonicalization: crawl variants of one page collapse to one key ----
    // Three messy variants per doc (case/www/default-port/fragment/trailing-slash/
    // query-order differences) MUST canonicalize identically: n_canon == 1.
    "q45_canonical_url" -> ((s, d) => {
      val sid = col("doc_id").cast("string")
      val host = concat(lit("example"), (col("doc_id") % 7).cast("string"), lit(".com"))
      val raw = t(s, d, "documents").select(col("doc_id"),
        explode(array(
          concat(lit("HTTPS://WWW."), upper(host), lit(":443/a/"), sid,
            lit("/?b=2&a=1#frag")),
          concat(lit("https://"), host, lit("/a/"), sid, lit("?a=1&b=2")),
          concat(lit("https://"), host, lit(":443/a/"), sid, lit("/?b=2&a=1"))))
          .as("url"))
      raw.select(col("doc_id"), graft.ingest.Urls.canonicalize(col("url")).as("canon"))
        .groupBy("doc_id")
        .agg(min(col("canon")).as("canon_url"), count(lit(1)).as("n_forms"),
          count_distinct(col("canon")).as("n_canon"))
    }),

    // ---- PII redaction: emails/IPs/phones scrubbed with audit counts ----
    // The corpus carries no PII by construction, so deterministic synthetic PII is
    // appended per doc (every doc an email; %3 an IP; %4 a phone) and must come back
    // redacted with exact counts.
    "q46_redact_pii" -> ((s, d) => {
      val sid = col("doc_id").cast("string")
      val augmented = t(s, d, "documents").select(col("doc_id"),
        concat(col("text"),
          lit(" contact user"), sid, lit("@mail.example.org now"),
          when(col("doc_id") % 3 === 0,
            concat(lit(" from 10.0."), (col("doc_id") % 256).cast("string"), lit(".7")))
            .otherwise(lit("")),
          when(col("doc_id") % 4 === 0,
            concat(lit(" call 555-"), lpad((col("doc_id") % 1000).cast("string"), 3, "0"),
              lit("-4321")))
            .otherwise(lit(""))).as("text"))
      TextAnalysis.redactPii(augmented, "doc_id", "text")
    }),

    // ---- cross-doc boilerplate line removal (the CCNet/RefinedWeb idiom) ----
    // The corpus text carries no newlines, so boilerplate is injected
    // deterministically: a footer line on every doc, a newsletter line on even docs,
    // and one unique per-doc line that must SURVIVE the frequency threshold.
    "q47_boilerplate" -> ((s, d) => {
      val withLines = t(s, d, "documents").select(col("doc_id"),
        concat(col("text"),
          lit("\nall rights reserved example footer"),
          when(col("doc_id") % 2 === 0, lit("\nsubscribe to the newsletter"))
            .otherwise(lit("")),
          concat(lit("\nref id "), col("doc_id").cast("string"))).as("text"))
      graft.corpus.Curation.removeBoilerplateLines(withLines, "doc_id", "text",
        minDocs = 100L)
    }),

    // ---- deterministic stratified sampling by language (corpus mixing) ----
    "q48_stratified_sample" -> ((s, d) =>
      graft.corpus.Curation.stratifiedSample(
          t(s, d, "documents").select("doc_id", "lang"),
          "doc_id", "lang", Map("en" -> 2500L, "fr" -> 5000L), defaultBp = 8000L)
        .select("doc_id", "lang", "sample_bp")),

    // ---- per-domain quota cap (hot-domain guard; WindowGroupLimit path) ----
    "q49_domain_quota" -> ((s, d) =>
      graft.corpus.Curation.domainQuota(
          t(s, d, "documents").select("doc_id", "source", "n_chars"),
          "doc_id", "source", "n_chars", k = 15)
        .select(col("doc_id"), col("source"), col("rank").as("quota_rank"))),

    // ---- token-budget mixture packing per language ----
    "q50_token_budget" -> ((s, d) =>
      graft.corpus.Curation.tokenBudgetMix(
          t(s, d, "documents").select("doc_id", "lang", "text"),
          "doc_id", "lang", "text", Map("en" -> 4000L), defaultBudget = 2500L)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_toks").as("n_tokens"),
          max("cum_toks").as("cum_tokens"))),

    // ---- KG degree statistics: mega-entity (hub) detection over triples ----
    // Triples derived deterministically from lineitem (subj=supplier, pred=returnflag
    // class, obj=part) — a skewed fact table standing in for the materialized store.
    "q51_entity_degree" -> ((s, d) =>
      graft.kg.Graph.degreeStats(kgTriplesFixture(s, d),
          "subj", "pred", "obj")
        .withColumn("is_hub", (col("degree") >= 600L).cast("long"))),

    // ---- per-predicate functionality profile (KG quality) ----
    "q52_pred_profile" -> ((s, d) =>
      graft.kg.Graph.predicateProfile(kgTriplesFixture(s, d),
        "subj", "pred", "obj")),

    // ---- packed entity cards with the mega-entity fact cap (WindowGroupLimit) ----
    "q53_entity_cards" -> ((s, d) =>
      graft.kg.Graph.entityCards(kgTriplesFixture(s, d),
        "subj", "pred", "obj", k = 5)),

    // ---- corpus token vocabulary (tokenizer-training feed) ----
    "q54_vocab" -> ((s, d) =>
      TextAnalysis.vocabulary(t(s, d, "documents"), "text",
        minCount = 50L, topN = 100)),

    // ---- temporal: latest-capture dedup over a multi-version crawl history ----
    // Crawl history derived deterministically from documents: doc_id%3+1 captures per
    // url (version v = 0..doc_id%3), content hash changes per capture. The oracle
    // derives the winner INDEPENDENTLY (max version = doc_id%3) rather than replaying
    // the aggregate — a stronger check than an echo.
    "q57_latest_crawl" -> ((s, d) =>
      graft.kg.Temporal.latestSnapshot(crawlHistory(t(s, d, "documents")), "url", "v")),

    // ---- temporal: per-fact observation history (first/last seen, support) ----
    "q58_fact_history" -> ((s, d) => {
      val crawls = crawlHistory(t(s, d, "documents"))
      // two predicates per capture: a stable fact (lang) and a per-version fact (hash)
      val triples = crawls.select(col("url").as("subj"), lit("lang").as("pred"),
          col("lang").as("obj"), col("v"))
        .unionByName(crawls.select(col("url").as("subj"), lit("hash").as("pred"),
          col("h").as("obj"), col("v")))
      graft.kg.Temporal.factHistory(triples, "subj", "pred", "obj", "v")
    }),

    // ---- corpus quality: unigram LM surprisal (integer-exact perplexity filter) ----
    "q59_surprisal" -> ((s, d) =>
      TextAnalysis.surprisal(t(s, d, "documents"), "doc_id", "text", topV = 2000)
        .orderBy("doc_id")),

    // ---- serving: W3C N-Triples export of a derived triple slice ----
    // subj carries a space, braces, a REAL newline, pipe/caret/backtick (the full
    // IRIREF-forbidden set), pred carries angle brackets, obj is a raw text excerpt
    // (real newline/quote/tab escapes) — every rewrite rule is exercised, and the
    // embedded newline proves the output stays one physical line per triple.
    "q60_ntriples" -> ((s, d) => {
      val tr = t(s, d, "documents").select(
        concat(lit("doc {"), col("doc_id"), lit("}\n|^`")).as("subj"),
        lit("excerpt<v1>").as("pred"),
        substring(col("text"), 1, 50).as("obj"))
      graft.kg.Graph.toNTriples(tr, "subj", "pred", "obj")
    }),

    // ---- incremental maintenance: snapshot diff (added/changed/removed/unchanged) --
    // Two synthetic snapshots derived deterministically from documents: prev drops
    // doc_id%5==0 (→ added), curr edits doc_id%7==0 (→ changed) and drops
    // doc_id%11==0 (→ removed). The SAME derivation is `snapshotsSql` in the oracle.
    "q55_snapshot_diff" -> ((s, d) => {
      val (prev, curr) = snapshots(t(s, d, "documents"))
      graft.kg.Incremental.snapshotDiff(prev, curr, "url", "h")
    }),

    // ---- incremental maintenance: delta merge == full rebuild of the new snapshot --
    "q56_incremental_merge" -> ((s, d) => {
      val (prev, curr) = snapshots(t(s, d, "documents"))
      val diff = graft.kg.Incremental.snapshotDiff(prev, curr, "url", "h")
      val store = prev.select(col("url").as("subj"),
        lit("content_hash").as("pred"), col("h").as("obj"), col("url"))
      val delta = curr
        .join(graft.kg.Incremental.reextractUrls(diff), Seq("url"), "left_semi")
        .select(col("url").as("subj"), lit("content_hash").as("pred"),
          col("h").as("obj"), col("url"))
      graft.kg.Incremental.mergeTriples(store, delta,
        graft.kg.Incremental.dirtyUrls(diff), "url")
    }),

    // ---- canonicalization: connected components over near-dup edges ----
    "q28_cc_neardup" -> ((s, d) => {
      implicit val sp: SparkSession = s
      val pairs = Dedup.jaccardPairs(t(s, d, "documents"), "doc_id", "text",
        n = 4, minJaccardBp = 3000L, maxPosting = 1000)
      val edges = pairs.select(
        lpad(col("id_a").cast("string"), 12, "0").as("src"),
        lpad(col("id_b").cast("string"), 12, "0").as("dst"))
      // the adaptive production entry: fixture-scale pair graphs take the one-task
      // union-find (identical semantics); the distributed large-star/small-star
      // rounds engage above the edge threshold and are pinned by the 10^5-degree
      // mega-hub spec in ConnectedComponentsSpec
      graft.canon.ConnectedComponents.runAdaptive(edges)
        .select(col("node").cast("long").as("doc_id"),
          col("component").cast("long").as("component"))
    }),

    // ---- POS-category annotation: the :token|category|* track on crawl text ----
    // One row per engine token from the REAL annotate path (Token features now carry
    // `category`, ref GateBatch.java:604-647); the oracle replays tokenization with a
    // regex and the tagger as a CASE expression GENERATED from the same rule tables.
    "q61_pos_labels" -> ((s, d) => {
      import s.implicits._
      t(s, d, "documents").select(col("doc_id"), col("text")).as[(Long, String)]
        .flatMap { case (id, text) =>
          graft.nlp.Tokenizer.annotate(id.toString, text, graft.nlp.Tokenizer.scan(text))
            .filter(_.annotType == "Token").zipWithIndex.map { case (a, i) =>
              (id, (i + 1).toLong, a.value, a.features("category"))
            }
        }.toDF("doc_id", "tok_idx", "tok", "category")
    }),

    // ---- trained-BPE token counting (the real token-budget currency) ----
    // Merge table = Bpe.DefaultMerges (frozen train() output over the q54 vocabulary
    // feed at sf0.01 — FIXTURES.md); counting runs on the native bpe_count kernel;
    // the oracle re-applies the SAME table with a recursive-CTE greedy segmenter.
    "q62_bpe_tokens" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        graft.text.Bpe.countColumn(col("text"), graft.text.Bpe.DefaultMerges)
          .as("n_bpe"),
        TextAnalysis.wsTokenCount(col("text")).as("n_ws"))),

    // ---- REAL image decode: PNG round trip → integer-exact luminance grid ----
    // Payloads are real PNGs (JDK ImageIO writer) whose pixels are the closed form
    // (7x + 13y + 31·id) mod 256; the engine DECODES the bytes with the real codec,
    // the oracle recomputes the grid from the formula alone — codec correctness is
    // exactly what the comparison proves.
    "q63_image_features" -> ((s, d) => {
      import s.implicits._
      implicit val sp: SparkSession = s
      val media = t(s, d, "documents").select(col("doc_id")).as[Long]
        .map(id => graft.multimodal.Multimodal.MediaRow(
          id, "image", graft.multimodal.Multimodal.syntheticPng(id, 16, 16),
          16, 16, 0L))
      graft.multimodal.Multimodal.imageGridFeatures(media, grid = 4)
    }),

    // ---- REAL audio decode: WAV/PCM round trip → integer-exact frame energies ----
    // Payloads are hand-written RIFF containers whose 16-bit samples are the closed
    // form ((31·id + 7i) mod 65536) − 32768; the engine DECODES them with the real
    // JDK codec (javax.sound.sampled), the oracle recomputes frame energies from the
    // formula alone — codec correctness is exactly what the comparison proves.
    "q64_audio_features" -> ((s, d) => {
      import s.implicits._
      implicit val sp: SparkSession = s
      val media = t(s, d, "documents").select(col("doc_id")).as[Long]
        .map(id => graft.multimodal.Multimodal.MediaRow(
          id, "audio", graft.multimodal.Multimodal.syntheticWav(id, 2048),
          0, 0, 256L))
      graft.multimodal.Multimodal.audioFrameFeatures(media, grid = 8)
    }),

    // ---- STREAMING end-to-end: latestCaptures over an out-of-order MemoryStream ----
    // The streaming family's oracle entry (round-4 verdict: it had zero DuckDB-backed
    // rows). A deterministic hostile fixture — url u<id> has captures v = 0..id%3;
    // EVEN ids arrive newest-first (the stragglers are swallowed → exactly 1
    // emission), ODD ids arrive oldest-first (every capture is a new maximum → m+1
    // emissions) — is fed through a real Structured Streaming query (MemoryStream →
    // flatMapGroupsWithState → memory sink), one arrival rank per micro-batch. The
    // emitted monotone improvement log is then COMPACTED with the batch
    // latestSnapshot (the operator pair's documented contract). The oracle derives
    // both the winner (v = id%3) and the emission count (1 or id%3+1) in closed form
    // from `documents` — replaying neither the state machine nor the aggregate.
    "q65_stream_latest" -> ((s, d) => {
      import s.implicits._
      implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
      // bounded driver materialization: |documents| rows (500 @ sf0.01, 5k @ sf0.1) —
      // MemoryStream is inherently driver-fed; the operator under test is distributed
      val caps: Seq[(Int, graft.model.Page)] =
        t(s, d, "documents").select(col("doc_id"), col("text"), col("lang"))
          .as[(Long, String, String)].collect().toSeq.sortBy(_._1)
          .flatMap { case (id, text, lang) =>
            val m = (id % 3).toInt
            val order = if (id % 2 == 0) m to 0 by -1 else 0 to m
            order.zipWithIndex.map { case (v, rank) =>
              // page text carries text||v so the output h = md5(text||v) — same
              // content-hash shape as the q57 crawl-history fixture
              (rank, graft.model.Page(s"u$id", new java.sql.Timestamp(v * 1000L),
                Array.emptyByteArray, text + v.toString, lang))
            }
          }
      val input =
        org.apache.spark.sql.execution.streaming.runtime.MemoryStream[graft.model.Page]
      // unique sink name: Bench and Verify may run this twice in one session
      val sink = "q65_emitted_" + java.util.UUID.randomUUID().toString.replace("-", "")
      // exact mode (no TTL): the TTL/watermark edge cases are pinned by
      // StreamingSpec's hostile-timeline tests; the oracle needs the exact contract
      val q = graft.streaming.StreamExtract.latestCaptures(input.toDS(), None)(s)
        .writeStream.format("memory").queryName(sink)
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append()).start()
      try {
        (0 to 2).foreach { rank =>
          val batch = caps.collect { case (r, p) if r == rank => p }
          if (batch.nonEmpty) { input.addData(batch); q.processAllAvailable() }
        }
      } finally q.stop()
      // localCheckpoint: the winner aggregate and the emission count both read the
      // emitted log — without severing lineage the self-join's sides share memory-sink
      // attributes and the analyzer rejects the plan. The log is small by contract
      // (monotone improvement: ≤ captures, ≥ |urls| rows).
      val emitted = s.table(sink).localCheckpoint()
      val perUrl = emitted.groupBy(col("url"))
        .agg(count(lit(1)).cast("long").as("n_emitted"))
      graft.kg.Temporal.latestSnapshot(
          emitted.withColumn("v", col("warc_ts").cast("long")), "url", "v")
        .join(perUrl, Seq("url"))
        .select(col("url"), col("lang"), col("v"), md5(col("text")).as("h"),
          col("n_emitted"))
    })
  )

  // ---------------------------------------------------------------------------
  // DuckDB oracles. Table names refer to the same parquet files.
  // ---------------------------------------------------------------------------

  /** Shared SQL fragment: whitespace tokens of trimmed text. */
  private val toksSql =
    "list_filter(string_split_regex(trim(text), '\\s+'), x -> len(x) > 0)"
  private val toksLowerSql =
    "list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> len(x) > 0)"

  /** DuckDB twin of [[graft.kg.Graph.iriEscapes]]: the same injective percent-encode
    * rule chain rendered as nested `replace()` calls, generated from the ONE rule
    * list so engine and oracle can never drift. Control chars render as `chr(i)`
    * (sub-0x21 bytes don't survive SQL source text), printables as quoted literals. */
  private def iriEscSql(inner: String): String =
    graft.kg.Graph.iriEscapes.foldLeft(inner) { case (acc, (from, to)) =>
      val f =
        if (from.head.toInt <= 0x20 || from == "`") s"chr(${from.head.toInt})"
        else s"'$from'"
      s"replace($acc, $f, '$to')"
    }

  /** SQL twin of [[snapshots]] — keep in sync. */
  private val snapshotsSql =
    """docs AS (SELECT 'u' || CAST(doc_id AS VARCHAR) AS url, doc_id, text
                FROM documents),
       p AS (SELECT url, md5(text) AS h FROM docs WHERE doc_id % 5 <> 0),
       c AS (SELECT url,
                    md5(CASE WHEN doc_id % 7 = 0 THEN text || ' updated'
                             ELSE text END) AS h
             FROM docs WHERE doc_id % 11 <> 0)"""

  /** SQL twin of [[kgTriples]] — keep in sync. */
  private val kgTriplesSql =
    """SELECT 's' || CAST(l_suppkey AS VARCHAR) AS subj,
              'rf_' || l_returnflag AS pred,
              'p' || CAST(l_partkey AS VARCHAR) AS obj
       FROM lineitem"""

  /** Shared SQL fragment: distinct 4-gram shingle list (matches Dedup.shingles n=4). */
  private val shingles4Sql =
    s"""CASE WHEN len(tk) >= 4
        THEN list_distinct([list_aggregate(tk[i:i+3], 'string_agg', ' ')
                            for i in range(1, len(tk) - 2)])
        ELSE CAST([] AS VARCHAR[]) END"""

  private def jaccardPairsSqlFrom(table: String) =
    s"""WITH toks AS (SELECT doc_id, $toksLowerSql AS tk FROM $table),
       sh AS (SELECT doc_id, $shingles4Sql AS sh FROM toks),
       posts AS (
         SELECT doc_id, sz, g FROM (
           SELECT doc_id, len(sh) AS sz, unnest(sh) AS g FROM sh)
         QUALIFY row_number() OVER (PARTITION BY g ORDER BY doc_id) <= 1000),
       pairs AS (
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                a.sz AS sza, b.sz AS szb, count(*) AS inter
         FROM posts a JOIN posts b USING (g)
         WHERE a.doc_id < b.doc_id
         GROUP BY 1, 2, 3, 4)
       SELECT id_a, id_b, inter,
              CAST(sza AS BIGINT) AS size_a, CAST(szb AS BIGINT) AS size_b,
              CAST(floor(inter * 10000.0 / (sza + szb - inter)) AS BIGINT) AS jacc_bp
       FROM pairs
       WHERE floor(inter * 10000.0 / (sza + szb - inter)) >= 3000"""

  def oracleSql: Map[String, String] = Map(
    "q01_scan_prune" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
         WHERE l_returnflag = 'R' AND l_quantity >= 45""",

    "q02_agg" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
                CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
                CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty
         FROM lineitem GROUP BY l_returnflag, l_linestatus""",

    "q03_join_agg" ->
      """SELECT n_name, count(*) AS cnt,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
         FROM orders JOIN customer ON o_custkey = c_custkey
                     JOIN nation ON c_nationkey = n_nationkey
         GROUP BY n_name""",

    "q04_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey AND o_totalprice > 400000)""",

    "q05_semi_join" ->
      """SELECT c_custkey, c_mktsegment FROM customer
         WHERE EXISTS (SELECT 1 FROM orders
                       WHERE o_custkey = c_custkey AND o_orderstatus = 'F')""",

    "q06_window_top1" ->
      """SELECT o_custkey, o_orderkey,
                CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
         FROM orders
         QUALIFY row_number() OVER (PARTITION BY o_custkey
                                    ORDER BY o_totalprice DESC, o_orderkey) = 1""",

    "q07_topk" ->
      """SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
         FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""",

    "q08_range_join" ->
      """SELECT o_orderpriority, count(*) AS cnt
         FROM lineitem JOIN orders
           ON l_orderkey = o_orderkey AND l_shipdate >= o_orderdate
          AND date_diff('day', o_orderdate, l_shipdate) <= 30
         GROUP BY o_orderpriority""",

    "q09_sessionize" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) // 1000000 AS sec FROM events),
         m AS (SELECT user_id,
                      CASE WHEN sec - lag(sec) OVER (PARTITION BY user_id
                                                     ORDER BY sec, event_id) > 1800
                           THEN 1 ELSE 0 END AS brk
               FROM e)
         SELECT user_id, CAST(sum(brk) + 1 AS BIGINT) AS n_sessions,
                count(*) AS n_events
         FROM m GROUP BY user_id""",

    "q10_prob_join" ->
      """SELECT t.event_type, t.cnt_total,
                CAST(coalesce(h.c, 0) AS BIGINT) AS cnt_high,
                CAST(floor(coalesce(h.c, 0) * 10000.0 / t.cnt_total) AS BIGINT) AS ratio_bp
         FROM (SELECT event_type, count(*) AS cnt_total FROM events GROUP BY 1) t
         LEFT JOIN (SELECT event_type, count(*) AS c FROM events
                    WHERE value > 100 GROUP BY 1) h
           ON t.event_type = h.event_type""",

    "q11_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
         FROM events GROUP BY event_type""",

    "q12_hourly" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
                event_type, count(*) AS cnt,
                CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
         FROM events GROUP BY 1, 2""",

    "q13_dedup_exact" ->
      """SELECT md5(text) AS content_md5, min(doc_id) AS keep_id, count(*) AS dup_count
         FROM documents GROUP BY 1""",

    "q14_token_count" ->
      s"""SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS n_tokens,
                 CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT)
                   AS n_bpe_tokens
          FROM documents""",

    "q15_quality" ->
      s"""WITH t AS (SELECT doc_id, text, $toksSql AS toks FROM documents)
          SELECT doc_id,
                 CAST(len(toks) AS BIGINT) AS n_tokens,
                 CAST(length(text) AS BIGINT) AS n_chars_m,
                 CAST(CASE WHEN length(text) > 0 THEN floor(
                     (length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')))
                     * 10000.0 / length(text)) ELSE 0 END AS BIGINT) AS punct_ratio_bp,
                 CAST(CASE WHEN len(toks) > 0 THEN floor(
                     len(list_filter(toks, x -> lower(x) IN
                       ('the','a','an','of','and','or','to','in','is','it',
                        'that','this','for','on','with','as','at','by','be','are')))
                     * 10000.0 / len(toks)) ELSE 0 END AS BIGINT) AS stop_ratio_bp,
                 CAST(CASE WHEN len(toks) > 0 THEN floor(
                     list_sum(list_transform(toks, x -> len(x)))
                     * 100.0 / len(toks)) ELSE 0 END AS BIGINT) AS mean_tok_len_c
          FROM t""",

    "q16_lang_stats" ->
      """SELECT lang, count(*) AS cnt, CAST(sum(n_chars) AS BIGINT) AS sum_chars
         FROM documents GROUP BY lang""",

    "q17_fingerprint" ->
      """SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp_md5
         FROM documents""",

    "q18_langid" ->
      s"""WITH t AS (SELECT doc_id,
                 list_transform($toksSql, x -> lower(x)) AS toks FROM documents),
          s AS (SELECT doc_id,
            len(list_filter(toks, x -> x IN ('der','die','das','und','ist','nicht','mit','ein'))) AS s_de,
            len(list_filter(toks, x -> x IN ('the','and','of','to','is','that','with','for'))) AS s_en,
            len(list_filter(toks, x -> x IN ('el','los','las','es','que','para','con','una'))) AS s_es,
            len(list_filter(toks, x -> x IN ('le','la','les','et','est','que','pour','dans'))) AS s_fr,
            len(list_filter(toks, x -> x IN ('de','shi','le','zai','you','wo','ta','men'))) AS s_zh
          FROM t)
          SELECT doc_id,
                 CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_zh) = 0 THEN 'und'
                      WHEN s_de = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'de'
                      WHEN s_en = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'en'
                      WHEN s_es = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'es'
                      WHEN s_fr = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr'
                      ELSE 'zh' END AS lang_pred,
                 CAST(greatest(s_de, s_en, s_es, s_fr, s_zh) AS BIGINT) AS lang_score
          FROM s""",

    "q19_jaccard_neardup" -> jaccardPairsSqlFrom("documents"),

    "q21_simhash" ->
      s"""WITH toks AS (SELECT doc_id, unnest($toksLowerSql) AS tok FROM documents),
          h AS (SELECT doc_id,
                  CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS h FROM toks),
          bits AS (SELECT doc_id, b, sum((h >> b) & 1) AS c, count(*) AS n
                   FROM h, range(60) r(b) GROUP BY doc_id, b),
          sig0 AS (SELECT doc_id,
                     CAST(sum(CASE WHEN 2 * c > n THEN (1::BIGINT << b) ELSE 0 END)
                       AS BIGINT) AS simhash
                   FROM bits GROUP BY doc_id),
          sig AS (SELECT d.doc_id AS id, coalesce(s.simhash, 0) AS simhash
                  FROM documents d LEFT JOIN sig0 s ON d.doc_id = s.doc_id),
          banded AS (SELECT id, simhash, b AS band,
                            (simhash >> (b * 15)) & 32767 AS bk
                     FROM sig, range(4) r(b)),
          cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b,
                          a.simhash AS ha, b.simhash AS hb
                   FROM banded a JOIN banded b ON a.band = b.band AND a.bk = b.bk
                   WHERE a.id < b.id)
          SELECT id_a, id_b, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
          FROM cand WHERE bit_count(xor(ha, hb)) <= 12""",

    "q23_ann_lsh" ->
      s"""WITH v AS (SELECT vec_id AS id,
                 list_transform(embedding,
                   x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
               FROM embeddings),
          el AS (SELECT id, unnest(qv) AS x, generate_subscripts(qv, 1) - 1 AS i FROM v),
          signs AS (SELECT t, p, i,
                 CASE WHEN substr(md5(concat(1000 + t, ':', p, ':', i)), 1, 1)
                      IN ('1','3','5','7','9','b','d','f') THEN 1 ELSE -1 END AS sgn
                 FROM range(2) tt(t), range(8) pp(p), range(64) ii(i)),
          proj AS (SELECT e.id, s.t, s.p, sum(e.x * s.sgn) AS proj
                   FROM el e JOIN signs s ON s.i = e.i GROUP BY e.id, s.t, s.p),
          bkt AS (SELECT id, t,
                    sum(CASE WHEN proj > 0 THEN (1::BIGINT << p) ELSE 0 END) AS bkt
                  FROM proj GROUP BY id, t),
          cand AS (SELECT DISTINCT q.id AS query_id, c.id AS neighbor_id
                   FROM bkt q JOIN bkt c ON q.t = c.t AND q.bkt = c.bkt
                   WHERE q.id < 20 AND c.id <> q.id),
          scored AS (SELECT cand.query_id, cand.neighbor_id,
                 CAST(list_sum(list_transform(list_zip(a.qv, b.qv),
                   p -> p[1] * p[2])) AS BIGINT) AS dot_q
                 FROM cand JOIN v a ON a.id = cand.query_id
                           JOIN v b ON b.id = cand.neighbor_id)
          SELECT query_id, neighbor_id, dot_q,
                 CAST(row_number() OVER (PARTITION BY query_id
                                         ORDER BY dot_q DESC, neighbor_id) AS BIGINT) AS rank
          FROM scored
          QUALIFY row_number() OVER (PARTITION BY query_id
                                     ORDER BY dot_q DESC, neighbor_id) <= 3""",

    "q24_cosine_neardup" ->
      s"""WITH v AS (SELECT vec_id AS id,
                 list_transform(embedding,
                   x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
               FROM embeddings),
          el AS (SELECT id, unnest(qv) AS x, generate_subscripts(qv, 1) - 1 AS i FROM v),
          signs AS (SELECT t, p, i,
                 CASE WHEN substr(md5(concat(2000 + t, ':', p, ':', i)), 1, 1)
                      IN ('1','3','5','7','9','b','d','f') THEN 1 ELSE -1 END AS sgn
                 FROM range(4) tt(t), range(4) pp(p), range(64) ii(i)),
          proj AS (SELECT e.id, s.t, s.p, sum(e.x * s.sgn) AS proj
                   FROM el e JOIN signs s ON s.i = e.i GROUP BY e.id, s.t, s.p),
          bkt AS (SELECT id, t,
                    sum(CASE WHEN proj > 0 THEN (1::BIGINT << p) ELSE 0 END) AS bkt
                  FROM proj GROUP BY id, t),
          cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
                   FROM bkt a JOIN bkt b ON a.t = b.t AND a.bkt = b.bkt
                   WHERE a.id < b.id),
          n AS (SELECT id, qv,
                  CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS n2 FROM v),
          scored AS (SELECT id_a, id_b,
                 CAST(list_sum(list_transform(list_zip(a.qv, b.qv),
                   p -> p[1] * p[2])) AS BIGINT) AS dot,
                 a.n2 AS na, b.n2 AS nb
                 FROM cand JOIN n a ON a.id = id_a JOIN n b ON b.id = id_b)
          SELECT id_a, id_b,
                 CAST(floor(dot * 10000 / CAST(ceil(sqrt(CAST(na AS DOUBLE)
                   * CAST(nb AS DOUBLE))) AS BIGINT)) AS BIGINT) AS cos_bp
          FROM scored
          WHERE floor(dot * 10000 / CAST(ceil(sqrt(CAST(na AS DOUBLE)
                   * CAST(nb AS DOUBLE))) AS BIGINT)) >= 4500""",

    "q20_minhash_lsh" ->
      s"""WITH toks AS (SELECT doc_id, $toksLowerSql AS tk FROM documents),
          shv AS (SELECT doc_id, $shingles4Sql AS sh FROM toks),
          sh AS (SELECT doc_id, sh FROM shv WHERE len(sh) > 0),
          sig AS (SELECT doc_id, sh,
            [list_min(list_transform(sh, g -> md5(CAST(i AS VARCHAR) || ':' || g)))
             for i in range(0, 12)] AS sg FROM sh),
          banded AS (SELECT doc_id, sh,
            unnest([md5(list_aggregate(sg[b*3+1:b*3+3], 'string_agg', '|'))
                    for b in range(0, 4)]) AS bh,
            generate_subscripts([1,2,3,4], 1) AS band
            FROM sig),
          cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                   FROM banded a JOIN banded b ON a.band = b.band AND a.bh = b.bh
                   WHERE a.doc_id < b.doc_id),
          verify AS (SELECT c.id_a, c.id_b,
                  len(list_filter(sa.sh, x -> list_contains(sb.sh, x))) AS inter,
                  len(sa.sh) AS la, len(sb.sh) AS lb
                FROM cand c
                JOIN sh sa ON sa.doc_id = c.id_a
                JOIN sh sb ON sb.doc_id = c.id_b)
          SELECT id_a, id_b,
                 CAST(floor(inter * 10000.0 / (la + lb - inter)) AS BIGINT) AS jacc_bp
          FROM verify
          WHERE floor(inter * 10000.0 / (la + lb - inter)) >= 3000""",

    "q22_cosine_topk" ->
      """WITH v AS (SELECT vec_id,
                list_transform(embedding,
                  x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
              FROM embeddings),
         s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                      CAST(list_sum(list_transform(list_zip(q.qv, c.qv),
                        p -> p[1] * p[2])) AS BIGINT) AS dot_q
               FROM v q, v c
               WHERE q.vec_id < 20 AND c.vec_id <> q.vec_id)
         SELECT query_id, neighbor_id, dot_q,
                CAST(row_number() OVER (PARTITION BY query_id
                                        ORDER BY dot_q DESC, neighbor_id) AS BIGINT) AS rank
         FROM s
         QUALIFY row_number() OVER (PARTITION BY query_id
                                    ORDER BY dot_q DESC, neighbor_id) <= 3""",

    "q25_multimodal" ->
      """SELECT doc_id AS media_id, 'image' AS kind,
                CAST(strlen(text) AS BIGINT) AS n_bytes
         FROM documents""",

    "q26_mention_count" ->
      s"""WITH toks AS (SELECT doc_id,
                list_transform($toksSql, x -> lower(x)) AS tk FROM documents),
          d AS (SELECT * FROM (VALUES ('spark'),('join'),('merge'),('window'),('filter')) v(term)),
          h AS (SELECT term, doc_id, len(list_filter(tk, x -> x = term)) AS n
                FROM toks, d)
          SELECT term,
                 CAST(count(CASE WHEN n > 0 THEN 1 END) AS BIGINT) AS n_docs,
                 CAST(sum(n) AS BIGINT) AS n_occ
          FROM h GROUP BY term HAVING sum(n) > 0""",

    "q27_pattern_extract" ->
      s"""WITH toks AS (SELECT doc_id, $toksSql AS tk FROM documents),
          pos AS (SELECT doc_id, unnest(tk) AS tok,
                         generate_subscripts(tk, 1) AS i FROM toks),
          hit AS (SELECT a.doc_id, b.tok AS obj
                  FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.i = a.i + 1
                  WHERE lower(a.tok) = 'merge')
          SELECT doc_id, 'follows_merge' AS pred, obj, count(*) AS n_hits
          FROM hit GROUP BY doc_id, pred, obj""",

    "q29_relation_extract" ->
      s"""WITH toks AS (SELECT doc_id, $toksSql AS tk FROM documents),
          pos AS (SELECT doc_id, unnest(tk) AS tok,
                         generate_subscripts(tk, 1) AS i FROM toks),
          m AS (SELECT p.doc_id, s.tok AS subj, o.tok AS obj
                FROM pos p
                JOIN pos s ON s.doc_id = p.doc_id AND s.i = p.i - 1
                JOIN pos o ON o.doc_id = p.doc_id AND o.i = p.i + 1
                WHERE lower(p.tok) = 'merge'
                  AND lower(s.tok) IN ('spark','join','window','filter'))
          SELECT doc_id, subj, 'merge_rel' AS pred, obj, count(*) AS n_hits
          FROM m GROUP BY doc_id, subj, pred, obj""",

    "q30_pair_stats" ->
      s"""WITH toks AS (SELECT doc_id, $toksLowerSql AS tk FROM documents),
          pos AS (SELECT doc_id, unnest(tk) AS tok,
                         generate_subscripts(tk, 1) AS i FROM toks),
          hits AS (SELECT a.doc_id, b.tok
                   FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.i = a.i + 1
                   WHERE a.tok = 'merge'),
          lab AS (SELECT doc_id, tok,
                    tok IN ('spark','join','window','filter','table') AS is_kw
                  FROM hits),
          per AS (SELECT profile_id, target_id, doc_id,
                    least(sum(CASE WHEN gold THEN 1 ELSE 0 END), 50) AS tp,
                    least(sum(CASE WHEN NOT gold THEN 1 ELSE 0 END), 50) AS fp
                  FROM (
                    SELECT 1 AS profile_id, 11 AS target_id, doc_id, TRUE AS gold
                    FROM lab WHERE is_kw
                    UNION ALL
                    SELECT 1, 12, doc_id, is_kw FROM lab)
                  GROUP BY 1, 2, 3),
          agg AS (SELECT profile_id, target_id, sum(tp) AS tp, sum(fp) AS fp
                  FROM per GROUP BY 1, 2)
          SELECT CAST(profile_id AS BIGINT) AS profile_id,
                 CAST(target_id AS BIGINT) AS target_id,
                 CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
                 CAST(tp + fp AS BIGINT) AS total,
                 CAST(CASE WHEN tp + greatest(fp - 1, 0) > 0
                           THEN floor(tp * 10000.0 / (tp + greatest(fp - 1, 0)))
                           ELSE 0 END AS BIGINT) AS prec_bp
          FROM agg""",

    "q31_value_priors" ->
      s"""WITH toks AS (SELECT doc_id, $toksLowerSql AS tk FROM documents),
          pos AS (SELECT doc_id, unnest(tk) AS tok,
                         generate_subscripts(tk, 1) AS i FROM toks),
          gold AS (SELECT b.tok AS value, count(*) AS gold_cnt
                   FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.i = a.i + 1
                   WHERE a.tok = 'merge'
                     AND b.tok IN ('spark','join','window','filter','table')
                   GROUP BY 1),
          occ AS (SELECT tok AS value, count(*) AS total_cnt FROM pos GROUP BY 1)
          SELECT 'after_merge' AS annot_type, g.value,
                 CAST(g.gold_cnt AS BIGINT) AS gold_cnt,
                 CAST(o.total_cnt AS BIGINT) AS total_cnt,
                 CAST(CASE WHEN o.total_cnt < 3 THEN 0
                           WHEN g.gold_cnt * 10000.0 / o.total_cnt >= 7000.0
                             THEN floor(g.gold_cnt * 10000.0 / o.total_cnt)
                           ELSE -1 END AS BIGINT) AS prior_bp
          FROM gold g JOIN occ o USING (value)""",

    // Gold spans extend over a following keyword token (multi-token gold), so
    // entity-level (exact-span) and token-level (per-token-unit) counts DIVERGE:
    // a single-token prediction against a two-token gold span is an entity miss
    // but a token-unit hit.
    "q32_eval_scores" ->
      s"""WITH toks AS (SELECT doc_id, $toksLowerSql AS tk FROM documents),
          pos AS (SELECT doc_id, unnest(tk) AS tok,
                         generate_subscripts(tk, 1) AS i FROM toks),
          trig AS (SELECT b.doc_id, b.i, b.tok AS t1, c.tok AS t2
                   FROM pos a
                   JOIN pos b ON b.doc_id = a.doc_id AND b.i = a.i + 1
                   LEFT JOIN pos c ON c.doc_id = a.doc_id AND c.i = a.i + 2
                   WHERE a.tok = 'merge'),
          pspan AS (SELECT DISTINCT doc_id, i AS b, i AS e FROM trig
                    WHERE len(t1) > 4),
          gspan AS (SELECT DISTINCT doc_id, i AS b,
                      CASE WHEN t2 IN ('spark','join','window','filter','table')
                           THEN i + 1 ELSE i END AS e
                    FROM trig
                    WHERE t1 IN ('spark','join','window','filter','table')),
          ehit AS (SELECT count(*) AS tp FROM
                     (SELECT * FROM pspan INTERSECT SELECT * FROM gspan)),
          punit AS (SELECT DISTINCT doc_id, b AS u FROM pspan),
          gunit AS (SELECT DISTINCT doc_id, u FROM
                      (SELECT doc_id, b AS u FROM gspan
                       UNION ALL SELECT doc_id, e FROM gspan)),
          thit AS (SELECT count(*) AS tp FROM
                     (SELECT * FROM punit INTERSECT SELECT * FROM gunit)),
          lv AS (SELECT 'entity' AS level, e.tp,
                        (SELECT count(*) FROM pspan) - e.tp AS fp,
                        (SELECT count(*) FROM gspan) - e.tp AS fn
                 FROM ehit e
                 UNION ALL
                 SELECT 'token', t.tp,
                        (SELECT count(*) FROM punit) - t.tp,
                        (SELECT count(*) FROM gunit) - t.tp
                 FROM thit t)
          SELECT ty.annot_type, lv.level,
                 CAST(lv.tp AS BIGINT) AS tp, CAST(lv.fp AS BIGINT) AS fp,
                 CAST(lv.fn AS BIGINT) AS fn,
                 CAST(CASE WHEN lv.tp + lv.fp > 0
                           THEN floor(lv.tp * 10000.0 / (lv.tp + lv.fp)) ELSE 0 END
                      AS BIGINT) AS prec_bp,
                 CAST(CASE WHEN lv.tp + lv.fn > 0
                           THEN floor(lv.tp * 10000.0 / (lv.tp + lv.fn)) ELSE 0 END
                      AS BIGINT) AS rec_bp,
                 CAST(CASE WHEN 2 * lv.tp + lv.fp + lv.fn > 0
                           THEN floor(2 * lv.tp * 10000.0 /
                                      (2 * lv.tp + lv.fp + lv.fn))
                           ELSE 0 END AS BIGINT) AS f1_bp
          FROM lv, (VALUES ('after_merge'), ('ALL')) ty(annot_type)""",

    // trim = the reference String.trim semantics (every char <= U+0020), matching
    // Normalize.cleanDocs exactly — NOT engine trim(), which strips spaces only
    "q33_clean_docs" ->
      """WITH c AS (SELECT doc_id,
                regexp_replace(regexp_replace(text,
                  '^[\x00-\x20]+|[\x00-\x20]+$', '', 'g'), '\s+', ' ', 'g') AS t
           FROM documents)
         SELECT doc_id, t AS clean_text, CAST(len(t) AS BIGINT) AS n_chars FROM c""",

    // Declarative twin of the serial chunker scan (equivalence argued per-rule:
    // NP = maximal unconsumed-content run, left-extended by one adjacent determiner;
    // VP = maximal aux run plus one adjacent participle-shaped content token, which
    // that run CONSUMES out of the following NP; PP = preposition adjacent to an NP).
    // SCOPE: like every oracle in this file, the whitespace-split tokenization is
    // equivalent to Tokenizer.scan ONLY on this corpus (pure lowercase alnum + single
    // spaces — verified: zero punctuation / mixed-alnum tokens at every SF); a corpus
    // with punctuation would need the split mirrored before trusting the twin.
    "q34_chunk_spans" ->
      s"""WITH docs AS (SELECT doc_id, text FROM documents
                 UNION ALL
                 SELECT * FROM (VALUES
                   (-1, 'the report was computed from the table and the analysts were running in the market'),
                   (-2, 'analysts should have reported growth in markets and customers may be waiting for the products no'))
                   v(doc_id, text)),
          toks AS (SELECT doc_id, $toksLowerSql AS tk FROM docs),
          pos AS (SELECT doc_id, unnest(tk) AS tok,
                         generate_subscripts(tk, 1) AS i FROM toks),
          cls AS (SELECT doc_id, i, tok,
                    CASE WHEN tok IN ('the','a','an','this','that','these','those',
                           'its','his','her','their','our','your','my','each',
                           'every','some','any','no') THEN 'det'
                         WHEN tok IN ('of','in','on','at','by','for','with','from',
                           'to','as','into','over','under','between','through',
                           'during','against','about') THEN 'prep'
                         WHEN tok IN ('is','are','was','were','be','being','been',
                           'am','has','have','had','do','does','did','will','would',
                           'shall','should','can','could','may','might','must')
                           THEN 'aux'
                         WHEN tok IN ('and','or','but','nor','so','yet') THEN 'conj'
                         ELSE 'content' END AS c,
                    (len(tok) > 4 AND (tok LIKE '%ing' OR tok LIKE '%ed')) AS pshape
                  FROM pos),
          lagd AS (SELECT *, lag(c) OVER (PARTITION BY doc_id ORDER BY i) AS pc
                   FROM cls),
          marked AS (SELECT *,
                       (c = 'content' AND pshape AND pc = 'aux') AS consumed
                     FROM lagd),
          runs AS (SELECT doc_id, i,
                     i - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) AS g
                   FROM marked WHERE c = 'content' AND NOT consumed),
          np0 AS (SELECT doc_id, min(i) AS b, max(i) AS e
                  FROM runs GROUP BY doc_id, g),
          np AS (SELECT n.doc_id,
                   CASE WHEN d.c = 'det' THEN n.b - 1 ELSE n.b END AS b, n.e
                 FROM np0 n LEFT JOIN marked d
                   ON d.doc_id = n.doc_id AND d.i = n.b - 1),
          auxr AS (SELECT doc_id, i,
                     i - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) AS g
                   FROM marked WHERE c = 'aux'),
          vp0 AS (SELECT doc_id, min(i) AS b, max(i) AS e
                  FROM auxr GROUP BY doc_id, g),
          vp AS (SELECT v.doc_id, v.b,
                   CASE WHEN coalesce(m.consumed, FALSE) THEN v.e + 1 ELSE v.e END AS e
                 FROM vp0 v LEFT JOIN marked m
                   ON m.doc_id = v.doc_id AND m.i = v.e + 1),
          pp AS (SELECT n.doc_id, n.b - 1 AS b, n.e
                 FROM np n JOIN marked p
                   ON p.doc_id = n.doc_id AND p.i = n.b - 1 AND p.c = 'prep'),
          allc AS (SELECT doc_id, 'np' AS cat, b, e FROM np
                   UNION ALL SELECT doc_id, 'vp', b, e FROM vp
                   UNION ALL SELECT doc_id, 'pp', b, e FROM pp)
          SELECT doc_id, cat, count(*) AS n_chunks,
                 CAST(sum(e - b + 1) AS BIGINT) AS n_tokens
          FROM allc GROUP BY doc_id, cat""",

    // Replays dedupPrecedence's atomic winner (rank asc, score desc, then the max_by
    // struct's lexicographic tiebreak = subj desc, obj desc) and withElementRepeat's
    // per-(url, subj, pred) document-order ordinals.
    "q35_precedence" ->
      s"""WITH toks AS (SELECT doc_id, $toksLowerSql AS tk FROM documents),
          pos AS (SELECT doc_id, unnest(tk) AS tok,
                         generate_subscripts(tk, 1) AS i FROM toks),
          trig AS (SELECT a.doc_id, a.i, b.tok AS nxt, p.tok AS prv
                   FROM pos a
                   JOIN pos b ON b.doc_id = a.doc_id AND b.i = a.i + 1
                   LEFT JOIN pos p ON p.doc_id = a.doc_id AND p.i = a.i - 1
                   WHERE a.tok = 'merge'),
          cand AS (
            SELECT doc_id, i AS b, i + 1 AS e, 'auto' AS subj, nxt AS obj,
                   2 AS rnk, 99 AS score_c, 'msa-ie' AS provenance FROM trig
            UNION ALL
            SELECT doc_id, i, i + 1, 'gold', coalesce(prv, 'none'),
                   0, 50, 'validation-tool' FROM trig WHERE doc_id % 2 = 0),
          win AS (SELECT doc_id, b, e, subj, obj, provenance FROM cand
                  QUALIFY row_number() OVER (PARTITION BY doc_id, b, e
                           ORDER BY rnk ASC, score_c DESC, subj DESC, obj DESC) = 1)
          SELECT doc_id, CAST(b AS BIGINT) AS b, CAST(e AS BIGINT) AS e, subj, obj,
                 provenance,
                 CAST(row_number() OVER (PARTITION BY doc_id, subj
                        ORDER BY b, e, obj) - 1 AS BIGINT) AS element_repeat
          FROM win""",

    "q36_ann_ivf" ->
      s"""WITH v AS (SELECT vec_id AS id,
                 list_transform(embedding,
                   x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
               FROM embeddings),
          cents AS (SELECT id AS cid, qv AS centv FROM v WHERE id % 25 = 0),
          dots AS (SELECT a.id, c.cid,
                     CAST(list_sum(list_transform(list_zip(a.qv, c.centv),
                       p -> p[1] * p[2])) AS BIGINT) AS dotc
                   FROM v a, cents c),
          assigned AS (SELECT id, cid AS cell FROM dots
                       QUALIFY row_number() OVER (PARTITION BY id
                                ORDER BY dotc DESC, cid ASC) = 1),
          probes AS (SELECT id AS query_id, cid AS cell FROM dots WHERE id < 20
                     QUALIFY row_number() OVER (PARTITION BY id
                              ORDER BY dotc DESC, cid ASC) <= 2),
          cand AS (SELECT p.query_id, a.id AS neighbor_id
                   FROM probes p JOIN assigned a ON a.cell = p.cell
                   WHERE a.id <> p.query_id),
          scored AS (SELECT cand.query_id, cand.neighbor_id,
                       CAST(list_sum(list_transform(list_zip(q.qv, c.qv),
                         p -> p[1] * p[2])) AS BIGINT) AS dot_q
                     FROM cand JOIN v q ON q.id = cand.query_id
                               JOIN v c ON c.id = cand.neighbor_id)
          SELECT query_id, neighbor_id, dot_q,
                 CAST(row_number() OVER (PARTITION BY query_id
                        ORDER BY dot_q DESC, neighbor_id) AS BIGINT) AS rank
          FROM scored
          QUALIFY row_number() OVER (PARTITION BY query_id
                   ORDER BY dot_q DESC, neighbor_id) <= 3""",

    "q37_salted_agg" ->
      """SELECT source, count(*) AS n_docs,
                CAST(sum(n_chars) AS BIGINT) AS sum_chars,
                max(n_chars) AS max_chars, min(n_chars) AS min_chars
         FROM documents GROUP BY source""",

    "q38_salted_join" ->
      """SELECT p_brand, count(*) AS cnt,
                CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty
         FROM lineitem JOIN part ON l_partkey = p_partkey
         GROUP BY p_brand""",

    "q39_dedup_annot_store" ->
      s"""WITH tk AS (SELECT doc_id, $toksLowerSql AS tk FROM documents),
          toks AS (SELECT doc_id, unnest(tk) AS tok,
                          generate_subscripts(tk, 1) AS i, len(tk) AS n FROM tk),
          kw AS (SELECT doc_id, 'kw' AS annot_type, CAST(i AS BIGINT) AS b,
                        CAST(i + 1 AS BIGINT) AS e, '##auto' AS provenance
                 FROM toks
                 WHERE tok IN ('spark','join','window','filter','table')),
          dup AS (SELECT DISTINCT doc_id, 'SentenceDuplicate' AS annot_type,
                         CAST(1 AS BIGINT) AS b, CAST(1 + n // 2 AS BIGINT) AS e,
                         'human' AS provenance
                  FROM toks WHERE doc_id % 2 = 1 AND n >= 2)
          SELECT k.* FROM kw k
          WHERE NOT EXISTS (SELECT 1 FROM dup d
                            WHERE d.doc_id = k.doc_id AND k.b >= d.b AND k.e <= d.e)
          UNION ALL SELECT * FROM dup""",

    "q40_gray_disable" ->
      s"""WITH tk AS (SELECT doc_id, $toksLowerSql AS tk FROM documents),
          toks AS (SELECT doc_id, unnest(tk) AS tok,
                          generate_subscripts(tk, 1) AS i, len(tk) AS n FROM tk),
          docs AS (SELECT DISTINCT doc_id, n FROM toks),
          kw AS (SELECT doc_id, i FROM toks
                 WHERE tok IN ('spark','join','window','filter','table')),
          gray AS (SELECT doc_id, 0 AS gb, n + 1 AS ge FROM docs WHERE doc_id % 3 = 0
                   UNION ALL
                   SELECT doc_id, 0, 1 + n // 2 FROM docs
                   WHERE doc_id % 3 = 1 AND n >= 4),
          flags AS (SELECT d.doc_id,
                      EXISTS (SELECT 1 FROM kw k JOIN gray g USING (doc_id)
                              WHERE k.doc_id = d.doc_id
                                AND k.i >= g.gb AND k.i + 1 <= g.ge) AS removed_any,
                      EXISTS (SELECT 1 FROM kw k WHERE k.doc_id = d.doc_id
                              AND NOT EXISTS (SELECT 1 FROM gray g
                                              WHERE g.doc_id = k.doc_id
                                                AND k.i >= g.gb
                                                AND k.i + 1 <= g.ge)) AS surviving,
                      EXISTS (SELECT 1 FROM gray g WHERE g.doc_id = d.doc_id
                              AND g.gb = 0 AND g.ge = d.n + 1) AS coverage
                    FROM docs d)
          SELECT doc_id FROM flags
          WHERE (removed_any AND NOT surviving) OR coverage""",

    "q41_repetition" ->
      s"""WITH tk AS (SELECT doc_id, $toksLowerSql AS tk FROM documents),
          g AS (SELECT doc_id,
                  unnest(CASE WHEN len(tk) >= 2
                    THEN [list_aggregate(tk[i:i+1], 'string_agg', ' ')
                          for i in range(1, len(tk))]
                    ELSE CAST([] AS VARCHAR[]) END) AS g
                FROM tk),
          c AS (SELECT doc_id, g, count(*) AS cnt FROM g GROUP BY 1, 2)
          SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_grams,
                 count(*) AS n_distinct, CAST(max(cnt) AS BIGINT) AS top_cnt,
                 CAST(floor((sum(cnt) - count(*)) * 10000.0 / sum(cnt)) AS BIGINT)
                   AS dup_bp
          FROM c GROUP BY doc_id""",

    "q42_decontaminate" ->
      s"""WITH toks AS (SELECT doc_id, $toksLowerSql AS tk FROM documents),
          shl AS (SELECT doc_id, $shingles4Sql AS sh FROM toks),
          sh AS (SELECT doc_id, unnest(sh) AS g FROM shl)
          SELECT c.doc_id, count(DISTINCT c.g) AS n_hit_shingles,
                 count(DISTINCT e.doc_id) AS n_eval_docs
          FROM sh c JOIN sh e ON c.g = e.g
          WHERE e.doc_id % 13 = 0 AND c.doc_id % 13 <> 0
          GROUP BY c.doc_id""",

    "q43_link_embed" ->
      """WITH v AS (SELECT 'entity ' || vec_id AS form,
                 list_transform(embedding,
                   x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
               FROM embeddings WHERE vec_id < 60),
          n AS (SELECT form, qv,
                  CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS n2
                FROM v),
          s AS (SELECT a.form AS src, b.form AS dst,
                  CAST(list_sum(list_transform(list_zip(a.qv, b.qv),
                    p -> p[1] * p[2])) AS BIGINT) AS dot,
                  a.n2 AS na, b.n2 AS nb
                FROM n a JOIN n b ON a.form < b.form)
          SELECT src, dst,
                 CAST(floor(dot * 10000 / CAST(ceil(sqrt(CAST(na AS DOUBLE)
                   * CAST(nb AS DOUBLE))) AS BIGINT)) AS BIGINT) AS cos_bp
          FROM s
          WHERE floor(dot * 10000 / CAST(ceil(sqrt(CAST(na AS DOUBLE)
                  * CAST(nb AS DOUBLE))) AS BIGINT)) >= 3000""",

    "q44_dedup_canon" ->
      s"""WITH RECURSIVE
          corpus AS (SELECT doc_id, text FROM documents
                     UNION ALL
                     SELECT doc_id + 100000, text FROM documents
                     WHERE doc_id % 100 = 0),
          keep AS (SELECT md5(text) AS h, min(doc_id) AS keep_id
                   FROM corpus GROUP BY 1),
          m AS (SELECT c.doc_id, k.keep_id
                FROM corpus c JOIN keep k ON md5(c.text) = k.h),
          surv AS (SELECT doc_id, text FROM corpus
                   WHERE doc_id IN (SELECT keep_id FROM keep)),
          pairs AS (${jaccardPairsSqlFrom("surv")}),
          nodes AS (SELECT id_a AS n FROM pairs UNION SELECT id_b FROM pairs),
          edges AS (SELECT id_a AS a, id_b AS b FROM pairs
                    UNION SELECT id_b, id_a FROM pairs),
          reach(a, b) AS (
            SELECT n, n FROM nodes
            UNION
            SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
          comp AS (SELECT a AS node, CAST(min(b) AS BIGINT) AS component
                   FROM reach GROUP BY a)
          SELECT m.doc_id, coalesce(c.component, m.keep_id) AS canon_id
          FROM m LEFT JOIN comp c ON c.node = m.keep_id""",

    "q45_canonical_url" ->
      """WITH ids AS (SELECT doc_id, CAST(doc_id AS VARCHAR) AS sid,
                 'example' || CAST(doc_id % 7 AS VARCHAR) || '.com' AS host
               FROM documents),
          raw AS (SELECT doc_id, unnest([
                 'HTTPS://WWW.' || upper(host) || ':443/a/' || sid || '/?b=2&a=1#frag',
                 'https://' || host || '/a/' || sid || '?a=1&b=2',
                 'https://' || host || ':443/a/' || sid || '/?b=2&a=1']) AS url
               FROM ids),
          p1 AS (SELECT doc_id, url,
                   regexp_replace(url, '#.*$', '') AS nofrag FROM raw),
          p2 AS (SELECT doc_id, url, nofrag,
                   lower(regexp_extract(nofrag,
                     '^([A-Za-z][A-Za-z0-9+.\-]*)://', 1)) AS scheme,
                   lower(regexp_extract(nofrag,
                     '^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)', 1)) AS hostport,
                   regexp_extract(nofrag,
                     '^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*(.*)$', 1) AS pathq
                 FROM p1),
          p3 AS (SELECT doc_id, url, scheme, pathq,
                   CASE WHEN scheme = 'http'
                        THEN regexp_replace(regexp_replace(hostport, '^www\.', ''), ':80$', '')
                        WHEN scheme = 'https'
                        THEN regexp_replace(regexp_replace(hostport, '^www\.', ''), ':443$', '')
                        ELSE regexp_replace(hostport, '^www\.', '') END AS host,
                   regexp_replace(regexp_replace(pathq, '\?.*$', ''), '/+$', '') AS tp,
                   regexp_extract(pathq, '\?(.*)$', 1) AS q
                 FROM p2),
          c AS (SELECT doc_id,
                  CASE WHEN scheme = '' THEN trim(url)
                       ELSE scheme || '://' || host
                         || (CASE WHEN tp = '' THEN '/' ELSE tp END)
                         || (CASE WHEN coalesce(sq, '') <> '' THEN '?' || sq ELSE '' END)
                  END AS canon
                FROM (SELECT *, list_aggregate(list_sort(list_filter(
                        string_split(q, '&'), x -> len(x) > 0)),
                        'string_agg', '&') AS sq FROM p3))
          SELECT doc_id, min(canon) AS canon_url, count(*) AS n_forms,
                 count(DISTINCT canon) AS n_canon
          FROM c GROUP BY doc_id""",

    "q46_redact_pii" ->
      """WITH aug AS (SELECT doc_id,
                 text || ' contact user' || CAST(doc_id AS VARCHAR)
                      || '@mail.example.org now'
                      || CASE WHEN doc_id % 3 = 0
                              THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7'
                              ELSE '' END
                      || CASE WHEN doc_id % 4 = 0
                              THEN ' call 555-'
                                || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                                || '-4321'
                              ELSE '' END AS t
               FROM documents)
          SELECT doc_id,
                 regexp_replace(regexp_replace(regexp_replace(t,
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                     '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
                     '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '<PHONE>', 'g') AS redacted,
                 CAST(len(regexp_extract_all(t,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
                   AS n_emails,
                 CAST(len(regexp_extract_all(t,
                   '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips,
                 CAST(len(regexp_extract_all(t,
                   '\b\d{3}[-.]\d{3}[-.]\d{4}\b')) AS BIGINT) AS n_phones
          FROM aug""",

    "q47_boilerplate" ->
      """WITH aug AS (SELECT doc_id,
                 text || chr(10) || 'all rights reserved example footer'
                      || CASE WHEN doc_id % 2 = 0
                              THEN chr(10) || 'subscribe to the newsletter'
                              ELSE '' END
                      || chr(10) || 'ref id ' || CAST(doc_id AS VARCHAR) AS text
               FROM documents),
          lns AS (SELECT doc_id, string_split(text, chr(10)) AS l FROM aug),
          lines AS (SELECT doc_id, unnest(range(1, len(l) + 1)) AS pos,
                           unnest(l) AS line FROM lns),
          boiler AS (SELECT line FROM (
                       SELECT line, count(DISTINCT doc_id) AS n FROM lines GROUP BY line)
                     WHERE n >= 100),
          kept AS (SELECT doc_id, pos, line FROM lines
                   WHERE line NOT IN (SELECT line FROM boiler)),
          reb AS (SELECT doc_id, count(*) AS n_kept,
                         string_agg(line, chr(10) ORDER BY pos) AS clean_text
                  FROM kept GROUP BY doc_id)
          SELECT a.doc_id,
                 CAST(len(string_split(a.text, chr(10))) AS BIGINT) AS n_lines,
                 CAST(len(string_split(a.text, chr(10))) - coalesce(r.n_kept, 0)
                   AS BIGINT) AS n_removed,
                 md5(coalesce(r.clean_text, '')) AS clean_md5
          FROM aug a LEFT JOIN reb r USING (doc_id)""",

    "q48_stratified_sample" ->
      """SELECT doc_id, lang, sample_bp FROM (
           SELECT doc_id, lang,
                  CAST(concat('0x', substr(md5('smp:' || CAST(doc_id AS VARCHAR)),
                    1, 15)) AS BIGINT) % 10000 AS sample_bp
           FROM documents)
         WHERE sample_bp < CASE lang WHEN 'en' THEN 2500
                                     WHEN 'fr' THEN 5000 ELSE 8000 END""",

    "q49_domain_quota" ->
      """SELECT doc_id, source, CAST(rn AS BIGINT) AS quota_rank FROM (
           SELECT doc_id, source,
                  row_number() OVER (PARTITION BY source
                                     ORDER BY n_chars DESC, doc_id) AS rn
           FROM documents)
         WHERE rn <= 15""",

    "q50_token_budget" ->
      s"""WITH toks AS (SELECT doc_id, lang,
                   CAST(len($toksSql) AS BIGINT) AS n_toks FROM documents),
          c AS (SELECT doc_id, lang, n_toks,
                  sum(n_toks) OVER (PARTITION BY lang
                                    ORDER BY n_toks DESC, doc_id
                                    ROWS UNBOUNDED PRECEDING) AS cum_toks
                FROM toks)
          SELECT lang, count(*) AS n_docs, CAST(sum(n_toks) AS BIGINT) AS n_tokens,
                 CAST(max(cum_toks) AS BIGINT) AS cum_tokens
          FROM c WHERE cum_toks <= CASE lang WHEN 'en' THEN 4000 ELSE 2500 END
          GROUP BY lang""",

    "q51_entity_degree" ->
      s"""WITH tr AS ($kgTriplesSql)
          SELECT subj, count(*) AS degree,
                 count(DISTINCT pred) AS n_pred, count(DISTINCT obj) AS n_obj,
                 CAST(count(*) >= 600 AS BIGINT) AS is_hub
          FROM tr GROUP BY subj""",

    "q52_pred_profile" ->
      s"""WITH tr AS ($kgTriplesSql)
          SELECT pred, count(*) AS n_triples,
                 count(DISTINCT subj) AS n_subj, count(DISTINCT obj) AS n_obj,
                 CAST(10000 * count(*) // count(DISTINCT subj) AS BIGINT)
                   AS fanout_bp
          FROM tr GROUP BY pred""",

    "q53_entity_cards" ->
      s"""WITH tr AS ($kgTriplesSql),
          ranked AS (SELECT subj, pred, obj,
                            row_number() OVER (PARTITION BY subj
                                               ORDER BY pred, obj) AS rn
                     FROM tr)
          SELECT subj, count(*) AS n_facts,
                 string_agg(pred || '=' || obj, '; ' ORDER BY pred || '=' || obj)
                   AS card
          FROM ranked WHERE rn <= 5 GROUP BY subj""",

    "q54_vocab" ->
      s"""SELECT token, count(*) AS n
          FROM (SELECT unnest($toksLowerSql) AS token FROM documents)
          GROUP BY token HAVING count(*) >= 50
          ORDER BY n DESC, token ASC LIMIT 100""",

    // q57's oracle derives the winning capture in closed form (max version per url is
    // doc_id % 3 by construction) instead of replaying the max_by aggregate.
    "q57_latest_crawl" ->
      """SELECT 'u' || CAST(doc_id AS VARCHAR) AS url, lang,
                doc_id % 3 AS v,
                md5(text || CAST(doc_id % 3 AS VARCHAR)) AS h
         FROM documents""",

    "q58_fact_history" ->
      s"""WITH caps AS (SELECT 'u' || CAST(doc_id AS VARCHAR) AS url, lang, text,
                               unnest(generate_series(0, doc_id % 3)) AS v
                        FROM documents),
          tr AS (SELECT url AS subj, 'lang' AS pred, lang AS obj, v FROM caps
                 UNION ALL
                 SELECT url, 'hash', md5(text || CAST(v AS VARCHAR)), v FROM caps)
          SELECT subj, pred, obj, min(v) AS first_seen, max(v) AS last_seen,
                 count(*) AS n_observations
          FROM tr GROUP BY subj, pred, obj""",

    // Twin of TextAnalysis.surprisal: top-2000 add-one unigram model, per-token
    // surprisal = bit-length of the integer quotient (T+V+1) div (cnt+1), minus 1 —
    // floor-log2 of the inverse probability in pure integer arithmetic.
    "q59_surprisal" ->
      s"""WITH toks AS (SELECT doc_id, unnest($toksLowerSql) AS token FROM documents),
          counts AS (SELECT token, count(*) AS cnt FROM toks GROUP BY token),
          tv AS (SELECT CAST(sum(cnt) AS BIGINT) + LEAST(count(*), 2000) + 1 AS d
                 FROM counts),
          model AS (SELECT token, cnt FROM counts
                    ORDER BY cnt DESC, token ASC LIMIT 2000),
          scored AS (SELECT tk.doc_id, count(*) AS n_tokens,
                            CAST(sum(CASE WHEN m.cnt IS NULL THEN 1 ELSE 0 END)
                                 AS BIGINT) AS n_oov,
                            CAST(sum(length(bin(CAST((SELECT d FROM tv)
                                   // (COALESCE(m.cnt, 0) + 1) AS BIGINT))) - 1)
                                 AS BIGINT) AS s
                     FROM toks tk LEFT JOIN model m USING (token)
                     GROUP BY tk.doc_id)
          SELECT d0.doc_id,
                 COALESCE(s.n_tokens, 0) AS n_tokens,
                 COALESCE(s.n_oov, 0) AS n_oov,
                 COALESCE(CAST(FLOOR(s.s * 100 / s.n_tokens) AS BIGINT), 0)
                   AS mean_surp_cb
          FROM documents d0 LEFT JOIN scored s USING (doc_id)
          ORDER BY d0.doc_id""",

    // Twin of Graph.toNTriples: the SAME percent-encode chain (generated from
    // Graph.iriEscapes — % first so the encoding is injective, then chr(0)–chr(32),
    // then the printable IRIREF-forbidden set) and the same N-Triples literal escapes
    // (backslash first). DuckDB quoted literals are backslash-literal, so '\n' below
    // IS the two-char escape sequence.
    "q60_ntriples" ->
      s"""SELECT '<https://kg.example/entity/'
              || ${iriEscSql("'doc {' || CAST(doc_id AS VARCHAR) || '}' || chr(10) || '|^' || chr(96)")}
              || '> <https://kg.example/pred/'
              || ${iriEscSql("'excerpt<v1>'")}
              || '> "'
              || replace(replace(replace(replace(replace(
                   substring(text, 1, 50),
                   '\','\\'),'"','\"'),chr(10),'\n'),chr(13),'\r'),chr(9),'\t')
              || '" .' AS ntriple
         FROM documents""",

    "q55_snapshot_diff" ->
      s"""WITH $snapshotsSql
          SELECT COALESCE(p.url, c.url) AS url,
                 CASE WHEN p.url IS NULL THEN 'added'
                      WHEN c.url IS NULL THEN 'removed'
                      WHEN p.h IS DISTINCT FROM c.h THEN 'changed'
                      ELSE 'unchanged' END AS change
          FROM p FULL OUTER JOIN c ON p.url = c.url""",

    "q56_incremental_merge" ->
      s"""WITH $snapshotsSql,
          diff AS (SELECT COALESCE(p.url, c.url) AS url,
                          CASE WHEN p.url IS NULL THEN 'added'
                               WHEN c.url IS NULL THEN 'removed'
                               WHEN p.h IS DISTINCT FROM c.h THEN 'changed'
                               ELSE 'unchanged' END AS change
                   FROM p FULL OUTER JOIN c ON p.url = c.url),
          store AS (SELECT url AS subj, 'content_hash' AS pred, h AS obj, url FROM p),
          delta AS (SELECT url AS subj, 'content_hash' AS pred, h AS obj, url FROM c
                    WHERE url IN (SELECT url FROM diff
                                  WHERE change IN ('added', 'changed')))
          SELECT * FROM store
          WHERE url NOT IN (SELECT url FROM diff WHERE change <> 'unchanged')
          UNION ALL SELECT * FROM delta""",

    "q28_cc_neardup" ->
      s"""WITH RECURSIVE
          pairs AS (${jaccardPairsSqlFrom("documents")}),
          nodes AS (SELECT id_a AS n FROM pairs UNION SELECT id_b FROM pairs),
          edges AS (SELECT id_a AS a, id_b AS b FROM pairs
                    UNION SELECT id_b, id_a FROM pairs),
          reach(a, b) AS (
            SELECT n, n FROM nodes
            UNION
            SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
          SELECT a AS doc_id, CAST(min(b) AS BIGINT) AS component
          FROM reach GROUP BY a""",

    // Twin of Tokenizer.scan (ASCII corpus: letter runs | digit runs with interior
    // decimal points | single punctuation chars) + PosTagger.caseSql, which is
    // GENERATED from the tagger's own rule tables so engine and oracle cannot drift.
    // Values truncate at 500 chars on both sides (safeValue, ref GateBatch.java:555).
    "q61_pos_labels" ->
      s"""WITH toks AS (SELECT doc_id,
                 regexp_extract_all(text,
                   '[a-zA-Z]+|[0-9]+(?:\\.[0-9]+)*|[^a-zA-Z0-9\\s]') AS tk
               FROM documents),
          ix AS (SELECT doc_id, unnest(range(1, len(tk)+1)) AS i, tk FROM toks),
          tok1 AS (SELECT doc_id, CAST(i AS BIGINT) AS tok_idx,
                          substring(tk[i], 1, 500) AS tok FROM ix),
          kinded AS (SELECT doc_id, tok_idx, tok,
                            CASE WHEN substring(tok, 1, 1) BETWEEN '0' AND '9'
                                   THEN 'number'
                                 WHEN lower(substring(tok, 1, 1)) BETWEEN 'a' AND 'z'
                                   THEN 'word'
                                 ELSE 'punctuation' END AS kind
                     FROM tok1)
          SELECT doc_id, tok_idx, tok,
                 ${graft.nlp.PosTagger.caseSql("tok", "kind")} AS category
          FROM kinded""",

    // Twin of Bpe: same frozen merge table (rendered by Bpe.mapSql — generated, so
    // engine and oracle cannot drift), same greedy semantics (merge the LEFTMOST
    // occurrence of the LOWEST-RANK pair, one per step — the lexicographic min over
    // [rank, position] pairs), replayed per DISTINCT word by a recursive CTE; the
    // terminal segmentation is the min-length state. Sentinel 1000000 = "no merge".
    "q62_bpe_tokens" ->
      s"""WITH RECURSIVE
          docs AS (SELECT doc_id, $toksLowerSql AS tk FROM documents),
          words AS (SELECT DISTINCT unnest(tk) AS w FROM docs),
          -- megatoken guard twin (Bpe.MaxWordLen): overlong words never merge
          short AS (SELECT w FROM words WHERE len(w) <= ${graft.text.Bpe.MaxWordLen}),
          seg AS (
            SELECT w, list_transform(range(1, len(w)+1), i -> w[i:i]) AS syms
            FROM short
            UNION ALL
            SELECT w, syms[1:best[2]-1] || [syms[best[2]] || syms[best[2]+1]]
                      || syms[best[2]+2:] AS syms
            FROM (SELECT w, syms,
                    list_aggregate(list_transform(range(1, len(syms)),
                      i -> [coalesce(
                              (${graft.text.Bpe.mapSql(graft.text.Bpe.DefaultMerges)}
                              )[syms[i] || ' ' || syms[i+1]][1], 1000000),
                            i]), 'min') AS best
                  FROM seg WHERE len(syms) > 1)
            WHERE best[1] < 1000000),
          wn AS (SELECT w, CAST(min(len(syms)) AS BIGINT) AS n FROM seg GROUP BY w
                 UNION ALL
                 SELECT w, CAST(len(w) AS BIGINT) AS n FROM words
                 WHERE len(w) > ${graft.text.Bpe.MaxWordLen}),
          expl AS (SELECT doc_id, unnest(tk) AS w FROM docs),
          sums AS (SELECT e.doc_id, CAST(sum(wn.n) AS BIGINT) AS n_bpe
                   FROM expl e JOIN wn USING (w) GROUP BY e.doc_id)
          SELECT d.doc_id, CAST(COALESCE(s.n_bpe, 0) AS BIGINT) AS n_bpe,
                 CAST(len(d.tk) AS BIGINT) AS n_ws
          FROM docs d LEFT JOIN sums s USING (doc_id)""",

    // Twin of Multimodal.lumaGridBp over the synthetic gradient: pixel luma is the
    // closed form (7x + 13y + 31·id) mod 256 (grayscale → BT.601 luma == gray), cell
    // = (y*4 DIV 16)*4 + (x*4 DIV 16), mean_bp = 10000·Σluma DIV (255·n). The oracle
    // never decodes bytes — agreement proves the engine's PNG encode→decode round
    // trip is pixel-exact.
    "q63_image_features" ->
      """WITH ids AS (SELECT doc_id AS media_id FROM documents),
          px AS (SELECT media_id, r1.range AS x, r2.range AS y,
                        (7 * r1.range + 13 * r2.range + 31 * media_id) % 256 AS luma
                 FROM ids, range(0, 16) r1, range(0, 16) r2)
          SELECT media_id,
                 CAST((y * 4 // 16) * 4 + (x * 4 // 16) AS BIGINT) AS cell,
                 CAST(10000 * sum(luma) // (255 * count(*)) AS BIGINT) AS mean_bp
          FROM px
          GROUP BY media_id, (y * 4 // 16) * 4 + (x * 4 // 16)""",

    // Twin of Multimodal.frameEnergy over the synthetic PCM stream: sample i is the
    // closed form ((31·id + 7i) mod 65536) − 32768, frame = i*8 DIV 2048, energy =
    // Σ|s| DIV n. The oracle never touches the WAV bytes — agreement proves the
    // engine's RIFF write → javax.sound decode round trip is sample-exact.
    "q64_audio_features" ->
      """WITH ids AS (SELECT doc_id AS media_id FROM documents),
          sm AS (SELECT media_id, r.range AS i,
                        abs((31 * media_id + 7 * r.range) % 65536 - 32768) AS a
                 FROM ids, range(0, 2048) r)
          SELECT media_id, CAST(i * 8 // 2048 AS BIGINT) AS frame,
                 CAST(sum(a) // count(*) AS BIGINT) AS mean_abs
          FROM sm GROUP BY media_id, i * 8 // 2048""",

    // Twin of q65's streaming run, derived ENTIRELY in closed form from documents —
    // it replays neither the state machine nor the compaction aggregate: the winner
    // is the max version (id%3 by construction, arrival order irrelevant), and the
    // emission count follows from the fixture's arrival orders alone (newest-first
    // even ids emit once; oldest-first odd ids emit every capture, id%3+1).
    "q65_stream_latest" ->
      """SELECT 'u' || CAST(doc_id AS VARCHAR) AS url, lang,
                doc_id % 3 AS v,
                md5(text || CAST(doc_id % 3 AS VARCHAR)) AS h,
                CASE WHEN doc_id % 2 = 1 THEN doc_id % 3 + 1 ELSE 1 END AS n_emitted
         FROM documents"""
  )
}
