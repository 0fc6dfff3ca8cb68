package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.canon.ConnectedComponents
import graft.extract.{Extract, PageKernel}
import graft.learn.{GenMSA, PatternStats, ValueProbs}
import graft.link.EntityLink
import graft.mention.Sentences
import graft.model.{Annotation, Page, Pattern, SentenceAnnots, Triple}
import graft.nlp.{Annotate, Gazetteer}
import graft.sink.Materialize

/**
 * End-to-end knowledge-graph construction: the Spark-native equivalent of the
 * reference's IEDriver loop (/root/reference/src/msa/IEDriver.java:527-1363), with each
 * stage a declarative Dataset transformation instead of a JDBC status machine:
 *
 *   gold slice ─ annotate + sentence-group (one fused narrow stage)
 *              ─ learn: blocked all-pairs MSA → patterns (tiny)
 *              ─ stats: match + per-pair precision gates → final patterns
 *              ─ priors: value priors → veto table + dictionary entries
 *   all pages  ─ ONE narrow mapPartitions per page: html→text → tokens + gazetteer
 *                Lookups → sentence grouping → [[graft.extract.PageKernel]] (pair
 *                matching, prior veto, dictionary pass, same-span dedup, W4 merge,
 *                sentence-local subject resolution) → raw triples; the model is
 *                broadcast
 *              ─ link + CC: blocking-join edges, large-star/small-star canonicalization
 *              ─ materialize: dedup, subject-bucketed partitioned write + checkpoints
 *
 * The corpus pass does not shuffle before link: every extraction step is local to a
 * page (the reference's per-document AutoAnnotate → PopulateFrame), so no annotation,
 * sentence or mention row leaves the task that read its page. The learning path only
 * ever touches the validated slice (exactly the reference's design: learning on
 * status-1 docs, extraction on status-0, SURVEY.md §7.4.2).
 */
object KGPipeline {

  final case class Result(
      patterns: Dataset[Pattern],
      finalPatterns: Seq[Pattern],
      triples: Dataset[Triple],
      canonical: Dataset[Triple])

  /**
   * @param pages      full corpus
   * @param goldAnnots gold target-span annotations for the training slice
   * @param gaz        gazetteer for Lookup annotations (broadcast)
   */
  def run(pages: Dataset[Page], goldAnnots: Dataset[Annotation], gaz: Gazetteer,
      msaCfg: GenMSA.Config = GenMSA.Config(),
      statsCfg: PatternStats.Config = PatternStats.Config(),
      priorsCfg: ValueProbs.Config = ValueProbs.Config(),
      // which provenances count as training gold: human-validated plus spans
      // propagated onto near-duplicate docs by propagateGold (ref dupFlag pipeline)
      goldProvenances: Set[String] = Set("gold", "dup-propagated"))(
      implicit spark: SparkSession): Result = {
    import spark.implicits._

    // 1+2. fused annotate→sentence pass: tokenize + gazetteer + sentence grouping in
    // ONE narrow stage per slice — a page's annotations are born co-located, so no
    // url shuffle of the (10× text-sized) annotation set ever happens. The training
    // slice = pages having gold annotations, with the gold spans (small,
    // broadcastable by design — the reference trains on the validated sample only)
    // merged in per page before grouping.
    val goldByUrl: Map[String, Seq[Annotation]] =
      goldAnnots.collect().toSeq.groupBy(_.url)
    val goldUrls = goldAnnots.select($"url").distinct()
    val trainPages = pages.join(goldUrls, Seq("url"), "left_semi").as[Page]
    val trainSents = Annotate.annotateSentences(trainPages, gaz, goldByUrl)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // 3. learn patterns on the gold slice: context profiles (profileType 0) AND target
    // profiles (profileType 1) — the reference's pair model
    val patterns = GenMSA.learn(trainSents, goldProvenances, msaCfg)
    val learned = patterns.collect().toSeq // small by construction (post minRows gate)
    // subsumption filter (ref BestPatterns.readProfiles): drop context profiles whose
    // token sequence contains a shorter surviving profile - redundant at match time
    val ctxPatterns = GenMSA.subsumptionFilter(
      learned.filter(p => p.profileType == 0 || p.profileType == 3))
    val tgtPatterns = learned.filter(_.profileType == 1)

    // 4. per-PAIR precision gates against the gold slice (ref `final` table +
    // ProfileReader per-pair gates + A3 active check)
    val matches = PatternStats.applyPatternsPaired(trainSents, ctxPatterns, tgtPatterns,
      statsCfg)
    // J5: snap ragged human-validated boundaries outward to token extents first
    val tokenSpans = trainSents.flatMap(s =>
        s.annots.filter(_.annotType == "Token").map(a => (a.url, a.begin, a.end)))
      .toDF("url", "begin", "end")
    val gold = PatternStats.snapGoldToTokens(
      goldAnnots.toDF().select($"url", $"annotType", $"begin", $"end"), tokenSpans)
    val pairStats = PatternStats.scorePairs(matches, gold, patterns, statsCfg)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val allowedPairs = PatternStats.keptPairs(pairStats, statsCfg)
      .join(PatternStats.activeProfiles(pairStats, statsCfg), Seq("profileId"), "left_semi")
      .select($"profileId", $"targetId", $"prec")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    pairStats.unpersist()
    val finalPatterns = gated(ctxPatterns, allowedPairs)

    // 5. extract on ALL pages: one narrow pass, page → raw triples through the page
    // kernel. Patterns whose learned context contains an entity literal before the
    // target upgrade to two-slot relation patterns (subject bound by the match); the
    // rest go through mention extraction + sentence-local nearest-entity resolution.
    // Value-probability priors (A6) veto mentions the validated corpus distrusts and
    // feed the dictionary pass for values it trusts. The corpus pass chunks only when
    // a surviving pattern can actually match syntax labels — learning always chunks
    // (trainSents), extraction pays the per-page chunk scan only when it buys recall.
    val needSyntax = (finalPatterns ++ tgtPatterns)
      .exists(_.toks.exists(_.startsWith(":syntaxtreenode")))
    val kernelB = spark.sparkContext.broadcast(kernelOf(finalPatterns, tgtPatterns,
      allowedPairs, trainSents, goldAnnots, statsCfg, priorsCfg))
    val gazB = spark.sparkContext.broadcast(gaz)
    val pageTriples = Annotate.extractText(pages).mapPartitions { it =>
      val (g, kernel) = (gazB.value, kernelB.value)
      it.flatMap { case (url, text) =>
        kernel(url, Sentences.group(url, Annotate.annotateOne(url, text, g, needSyntax)))
      }
    }
    // validated gold spans ALSO materialize triples (ref PopulateFrame scans
    // validated + auto annotations, /root/reference/src/msa/PopulateFrame.java:144-192);
    // their provenance outranks auto rows at the same site in Materialize's
    // precedence dedup. One small cogroup per provenance class over the train slice.
    // rawTriples feeds both the CC edge derivation and the final canonical output —
    // persist it or every downstream action recomputes the whole extraction.
    val rawTriples = pageTriples
      .unionByName(goldTriplesOf(trainSents, goldAnnots, goldProvenances))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    Result(patterns, finalPatterns, rawTriples, canonicalOf(rawTriples))
  }

  /** Canonicalize subjects: blocking-join edges + connected components; a subject in
    * a component is replaced by the component's representative. */
  private def canonicalOf(rawTriples: Dataset[Triple])(
      implicit spark: SparkSession): Dataset[Triple] = {
    import spark.implicits._
    val forms = rawTriples.select($"subj".as("form"))
    val edges = EntityLink.candidateEdges(forms, minJaccard = 0.6)
      .select($"src", $"dst")
    val comp = ConnectedComponents.runAdaptive(edges)
    rawTriples.toDF()
      .join(comp, rawTriples("subj") === comp("node"), "left")
      .withColumn("subj2", coalesce(col("component"), col("subj")))
      .select(col("subj2").as("subj"), col("pred"), col("obj"), col("url"),
        col("begin"), col("end"), col("profileId"), col("score"), col("provenance"))
      .as[Triple]
  }

  /** Triples from the validated gold spans themselves (ref PopulateFrame's
    * targetProvenance scan): each gold annotation becomes a mention, subject-resolved
    * sentence-locally like any extraction, stamped with its provenance class so the
    * materialization precedence rule can rank it above auto evidence. */
  private def goldTriplesOf(trainSents: Dataset[graft.model.SentenceAnnots],
      goldAnnots: Dataset[Annotation], goldProvenances: Set[String])(
      implicit spark: SparkSession): Dataset[Triple] = {
    import spark.implicits._
    val provClasses = Seq(
      "gold" -> graft.model.Provenance.Gold,
      "dup-propagated" -> graft.model.Provenance.Propagated)
    provClasses
      .filter { case (src, _) => goldProvenances.contains(src) }
      .map { case (src, prov) =>
        val ms = goldAnnots.filter(_.provenance == src).map(a =>
          graft.model.Mention(a.url, a.annotType, a.begin, a.end, a.value, -1L, a.score))
        Extract.triples(trainSents, ms, provenance = prov)
      }
      .reduceOption(_ unionByName _)
      .getOrElse(spark.emptyDataset[Triple])
  }

  /** Context patterns that keep at least one gated pair, scored with their best
    * pair's precision. */
  private def gated(ctxPatterns: Seq[Pattern],
      allowedPairs: Map[(Long, Long), Double]): Seq[Pattern] = {
    val keptCtxIds = allowedPairs.keySet.map(_._1)
    ctxPatterns.filter(p => keptCtxIds.contains(p.profileId)).map { p =>
      val pairPrecs = allowedPairs.collect { case ((c, _), prec) if c == p.profileId => prec }
      p.copy(score = pairPrecs.max)
    }
  }

  /** The corpus pass's page kernel: final patterns split into two-slot relation and
    * plain patterns, the pair gate, and the value priors of the training slice (the
    * veto table, and the dictionary of values trusted at ≥ dictThreshold). */
  private def kernelOf(finalPatterns: Seq[Pattern], tgtPatterns: Seq[Pattern],
      allowedPairs: Map[(Long, Long), Double], trainSents: Dataset[SentenceAnnots],
      goldAnnots: Dataset[Annotation], statsCfg: PatternStats.Config,
      priorsCfg: ValueProbs.Config)(implicit spark: SparkSession): PageKernel = {
    val upgraded = finalPatterns.map(p => p -> Extract.toRelationPattern(p))
    val priorRows = ValueProbs.compute(trainSents, goldAnnots.toDF(), priorsCfg).collect()
    val priorVeto = priorRows.map(r => ((r.getString(0), r.getString(1)), r.getLong(4))).toMap
    val dictEntries = priorRows.toSeq
      .filter(_.getLong(4) >= math.round(priorsCfg.dictThreshold * 10000))
      .map(r => (r.getString(0), r.getString(1), r.getLong(4)))
    PageKernel(upgraded.collect { case (_, Some(rel)) => rel },
      upgraded.collect { case (p, None) => p }, tgtPatterns, allowedPairs, priorVeto,
      dictEntries, statsCfg.matcher)
  }

  /**
   * Optional pre-learning stage (the reference's dupFlag → AnnotateDuplicate,
   * /root/reference/src/msa/IEDriver.java:1015-1019): augment the gold slice by
   * propagating validated spans onto near-duplicate documents. Near-dups come from
   * MinHash-LSH blocking over the page text (never all-pairs); span mapping runs in
   * [[graft.learn.Propagate]]. Returns gold ∪ propagated — feed the result to run().
   */
  def propagateGold(pages: Dataset[Page], goldAnnots: Dataset[Annotation],
      gaz: Gazetteer, minJaccardBp: Long = 7000L)(
      implicit spark: SparkSession): Dataset[Annotation] = {
    import spark.implicits._
    val texts = Annotate.extractText(pages).toDF("url", "text")
    val p0 = graft.dedup.Dedup.minhashLshPairs(texts, "url", "text",
      minJaccardBp = minJaccardBp)
    // symmetric propagation: validated spans flow both directions of each pair
    val pairs = p0.select(col("id_a").as("url_a"), col("id_b").as("url_b"))
      .unionByName(p0.select(col("id_b").as("url_a"), col("id_a").as("url_b")))
    // Propagate aligns plain TOKEN streams (K6) — chunk labels are unused here,
    // so the corpus-wide pass skips the per-page chunk scan
    val sents = Annotate.annotateSentences(pages, gaz, withChunks = false)
    goldAnnots.unionByName(
      graft.learn.Propagate.propagate(sents, goldAnnots, pairs))
  }

  /** Observed-metric name of the canonical-triple counters attached by the write
    * paths (post-dedup — counts what lands in the output table); read it back
    * through a [[graft.runtime.MetricsCollector]]. */
  val CanonicalMetric = "graft.kg.canonical"

  /** Run + materialize to a subject-bucketed parquet table with checkpoints. */
  def runAndWrite(pages: Dataset[Page], goldAnnots: Dataset[Annotation], gaz: Gazetteer,
      outPath: String, nBuckets: Int = 16)(implicit spark: SparkSession): DataFrame = {
    val r = run(pages, goldAnnots, gaz)
    Materialize.write(r.canonical, outPath, nBuckets, Some(CanonicalMetric))
  }

  /**
   * Fully resumable variant: every stage (annotations → patterns → raw triples →
   * canonical triples) is materialized through [[graft.runtime.StageCheckpoint]] with
   * per-partition lineage, keyed by the caller's `fingerprint` (input + config
   * identity). A restarted run resumes at its first incomplete stage; the final write
   * goes through [[Materialize.writeResumable]] (per-bucket checkpoints). This is the
   * production `spark-submit` path for long corpus runs (north rule: resumable from
   * checkpoint with per-partition lineage + metrics).
   */
  def runCheckpointed(pages: Dataset[Page], goldAnnots: Dataset[Annotation],
      gaz: Gazetteer, stageDir: String, fingerprint: String, outPath: String,
      nBuckets: Int = 16,
      msaCfg: GenMSA.Config = GenMSA.Config(),
      statsCfg: PatternStats.Config = PatternStats.Config(),
      priorsCfg: ValueProbs.Config = ValueProbs.Config(),
      goldProvenances: Set[String] = Set("gold", "dup-propagated"),
      // whether the MATERIALIZED corpus sentence table carries chunk labels. It is
      // written before patterns exist (it is the resume anchor), so the caller
      // decides: true (default) keeps syntax-anchored patterns matchable on resume;
      // false skips the per-page chunk scan when the pattern space is known not to
      // need it (run() decides this automatically from the surviving pattern set)
      chunkCorpus: Boolean = true)(
      implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val cp = graft.runtime.StageCheckpoint(stageDir)

    // fused annotate→sentence stage (see run()): one narrow pass, no annotation
    // shuffle; the materialized sentence table is the resume point
    val allSentsDF = cp.materialize("sentences", fingerprint) {
      Annotate.annotateSentences(pages, gaz, withChunks = chunkCorpus).toDF()
    }
    // the training slice, annotated at most once and only when a stage computes: a
    // fully resumed run annotates nothing
    var trainCache: Option[Dataset[SentenceAnnots]] = None
    def trainSents: Dataset[SentenceAnnots] = trainCache.getOrElse {
      val goldByUrl = goldAnnots.collect().toSeq.groupBy(_.url)
      val goldUrls = goldAnnots.select($"url").distinct()
      val ts = Annotate.annotateSentences(
        pages.join(goldUrls, Seq("url"), "left_semi").as[Page], gaz, goldByUrl)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      trainCache = Some(ts)
      ts
    }

    val learned = cp.materialize("patterns", fingerprint) {
      GenMSA.learn(trainSents, goldProvenances, msaCfg).toDF()
    }.as[graft.model.Pattern].collect().toSeq
    val ctxPatterns = GenMSA.subsumptionFilter(
      learned.filter(p => p.profileType == 0 || p.profileType == 3))
    val tgtPatterns = learned.filter(_.profileType == 1)

    // per-pair gate table (the reference's `final` read, per-pair + A3 active check)
    val allowedPairs = cp.materialize("pair_stats", fingerprint) {
      val matches = PatternStats.applyPatternsPaired(trainSents, ctxPatterns,
        tgtPatterns, statsCfg)
      val tokenSpans = trainSents.flatMap(s =>
          s.annots.filter(_.annotType == "Token").map(a => (a.url, a.begin, a.end)))
        .toDF("url", "begin", "end")
      val gold = PatternStats.snapGoldToTokens(
        goldAnnots.toDF().select($"url", $"annotType", $"begin", $"end"), tokenSpans)
      val pairStats = PatternStats.scorePairs(matches, gold,
        spark.createDataset(learned), statsCfg)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      PatternStats.keptPairs(pairStats, statsCfg)
        .join(PatternStats.activeProfiles(pairStats, statsCfg),
          Seq("profileId"), "left_semi")
        .select($"profileId", $"targetId", $"prec")
    }.collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val finalPatterns = gated(ctxPatterns, allowedPairs)

    // the corpus pass of run() over the materialized sentence table: its rows are
    // regrouped per page, then the same page kernel runs
    val rawTriples = cp.materialize("raw_triples", fingerprint) {
      val kernelB = spark.sparkContext.broadcast(kernelOf(finalPatterns, tgtPatterns,
        allowedPairs, trainSents, goldAnnots, statsCfg, priorsCfg))
      allSentsDF.as[SentenceAnnots].groupByKey(_.url)
        .flatMapGroups((url, sents) => kernelB.value(url, sents.toVector))
        .unionByName(goldTriplesOf(trainSents, goldAnnots, goldProvenances)).toDF()
    }.as[Triple]
    trainCache.foreach(_.unpersist())

    val canonical = canonicalOf(rawTriples)
    Materialize.writeResumable(canonical, outPath, nBuckets, Some(CanonicalMetric))
  }
}
