package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.canon.ConnectedComponents
import graft.extract.{Extract, PageKernel}
import graft.learn.{GenMSA, PatternStats, ValueProbs}
import graft.link.EntityLink
import graft.model.{Annotation, Page, Pattern, SentenceAnnots, Triple}
import graft.nlp.{Annotate, Gazetteer}
import graft.runtime.StageCheckpoint
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
 *
 * [[run]] and [[runCheckpointed]] share one learn → gate body; only the corpus pass
 * differs. The job has no knobs: default MSA, stats and prior configs, training gold
 * of provenance `gold` or `dup-propagated`, 16 output buckets.
 */
object KGPipeline {

  /** The learned page kernel and the canonical triples it yields over the corpus. */
  final case class Result(kernel: PageKernel, canonical: Dataset[Triple])

  /** Subject buckets of the committed triple table. */
  private val Buckets = 16
  private val StatsCfg = PatternStats.Config()
  private val PriorsCfg = ValueProbs.Config()
  /** Training-gold provenance classes: human-validated spans plus spans propagated
    * onto near-duplicate docs by propagateGold (ref dupFlag pipeline). Each also
    * materializes triples at its own precedence rank (see goldTriplesOf). */
  private val GoldClasses = Seq("gold" -> graft.model.Provenance.Gold,
    "dup-propagated" -> graft.model.Provenance.Propagated)

  /**
   * @param pages      full corpus
   * @param goldAnnots gold target-span annotations for the training slice
   * @param gaz        gazetteer for Lookup annotations (broadcast)
   */
  def run(pages: Dataset[Page], goldAnnots: Dataset[Annotation], gaz: Gazetteer)(
      implicit spark: SparkSession): Result = {
    import spark.implicits._
    val train = new TrainingSlice(pages, goldAnnots, gaz)
    val m = learn(train, goldAnnots, checkpoint = None)

    // 5. extract on ALL pages: one narrow pass, page → raw triples through the page
    // kernel. Patterns whose learned context contains an entity literal before the
    // target upgrade to two-slot relation patterns (subject bound by the match); the
    // rest go through mention extraction + sentence-local nearest-entity resolution.
    // Value-probability priors (A6) veto mentions the validated corpus distrusts and
    // feed the dictionary pass for values it trusts.
    val kernel = kernelOf(m, train.sents, goldAnnots, gaz)
    // validated gold spans ALSO materialize triples (ref PopulateFrame scans
    // validated + auto annotations, /root/reference/src/msa/PopulateFrame.java:144-192);
    // their provenance outranks auto rows at the same site in Materialize's
    // precedence dedup. One small cogroup per provenance class over the train slice.
    // rawTriples feeds both the CC edge derivation and the final canonical output —
    // persist it or every downstream action recomputes the whole extraction.
    val rawTriples = pageTriples(pages, kernel)
      .unionByName(goldTriplesOf(train.sents, goldAnnots))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    Result(kernel, canonicalOf(rawTriples))
  }

  /** The corpus pass every batch job runs: ONE narrow mapPartitions, each page read
    * ([[Annotate.pageText]]) and mapped to raw auto triples by the broadcast kernel
    * ([[PageKernel.extract]]). No annotation, sentence or mention row leaves the task
    * that read its page. */
  def pageTriples(pages: Dataset[Page], kernel: PageKernel)(
      implicit spark: SparkSession): Dataset[Triple] = {
    import spark.implicits._
    val kernelB = spark.sparkContext.broadcast(kernel)
    Annotate.extractText(pages).mapPartitions { it =>
      val k = kernelB.value
      it.flatMap { case (url, text) => k.extract(url, text) }
    }
  }

  /** The training slice: pages having gold annotations, with the gold spans (small,
    * broadcastable by design — the reference trains on the validated sample only)
    * merged in per page before grouping, annotated in one fused narrow pass (no url
    * shuffle of the annotation set). Built at most once and only when a stage
    * computes: a fully resumed run annotates nothing. */
  private final class TrainingSlice(pages: Dataset[Page], goldAnnots: Dataset[Annotation],
      gaz: Gazetteer)(implicit spark: SparkSession) {
    private var cache: Option[Dataset[SentenceAnnots]] = None
    def sents: Dataset[SentenceAnnots] = cache.getOrElse {
      import spark.implicits._
      val goldByUrl = goldAnnots.collect().toSeq.groupBy(_.url)
      val goldUrls = goldAnnots.select($"url").distinct()
      val ts = Annotate.annotateSentences(
        pages.join(goldUrls, Seq("url"), "left_semi").as[Page], gaz, goldByUrl)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      cache = Some(ts)
      ts
    }
    def unpersist(): Unit = cache.foreach(_.unpersist())
  }

  /** What learning on the training slice yields: the target patterns, the gated
    * (context, target) pairs with their precision, and the surviving context
    * patterns. */
  private final case class Learned(tgtPatterns: Seq[Pattern],
      allowedPairs: Map[(Long, Long), Double], finalPatterns: Seq[Pattern])

  /** A learning stage's output: as computed, or through a [[StageCheckpoint]] under
    * the run's fingerprint. */
  private def staged(checkpoint: Option[(StageCheckpoint, String)], name: String)(
      stage: => DataFrame): DataFrame =
    checkpoint.fold(stage) { case (cp, fingerprint) =>
      cp.materialize(name, fingerprint)(stage)
    }

  /** Learn → gate, the steps both entry points share. */
  private def learn(train: TrainingSlice, goldAnnots: Dataset[Annotation],
      checkpoint: Option[(StageCheckpoint, String)])(
      implicit spark: SparkSession): Learned = {
    import spark.implicits._
    // 3. learn patterns on the gold slice: context profiles (profileType 0) AND target
    // profiles (profileType 1) — the reference's pair model
    val learned = staged(checkpoint, "patterns") {
      GenMSA.learn(train.sents, GoldClasses.map(_._1).toSet, GenMSA.Config()).toDF()
    }.as[Pattern].collect().toSeq // small by construction (post minRows gate)
    // subsumption filter (ref BestPatterns.readProfiles): drop context profiles whose
    // token sequence contains a shorter surviving profile - redundant at match time
    val ctxPatterns = GenMSA.subsumptionFilter(
      learned.filter(p => p.profileType == 0 || p.profileType == 3))
    val tgtPatterns = learned.filter(_.profileType == 1)

    // 4. per-PAIR precision gates against the gold slice (ref `final` table +
    // ProfileReader per-pair gates + A3 active check). Pairs are judged against the
    // collected pattern set, so the MSA never runs again inside the stats job.
    var pairStats: Option[DataFrame] = None
    val allowedPairs = staged(checkpoint, "pair_stats") {
      val trainSents = train.sents
      val matches = PatternStats.applyPatternsPaired(trainSents, ctxPatterns, tgtPatterns,
        StatsCfg)
      // J5: snap ragged human-validated boundaries outward to token extents first
      val tokenSpans = trainSents.flatMap(s =>
          s.annots.filter(_.annotType == "Token").map(a => (a.url, a.begin, a.end)))
        .toDF("url", "begin", "end")
      val gold = PatternStats.snapGoldToTokens(
        goldAnnots.toDF().select($"url", $"annotType", $"begin", $"end"), tokenSpans)
      val ps = PatternStats.scorePairs(matches, gold, spark.createDataset(learned),
          StatsCfg)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      pairStats = Some(ps)
      PatternStats.keptPairs(ps, StatsCfg)
        .join(PatternStats.activeProfiles(ps, StatsCfg), Seq("profileId"), "left_semi")
        .select($"profileId", $"targetId", $"prec")
    }.collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    pairStats.foreach(_.unpersist())
    Learned(tgtPatterns, allowedPairs, gated(ctxPatterns, allowedPairs))
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
  private def goldTriplesOf(trainSents: Dataset[SentenceAnnots],
      goldAnnots: Dataset[Annotation])(implicit spark: SparkSession): Dataset[Triple] = {
    import spark.implicits._
    GoldClasses.map { case (src, prov) =>
      val ms = goldAnnots.filter(_.provenance == src).map(a =>
        graft.model.Mention(a.url, a.annotType, a.begin, a.end, a.value, -1L, a.score))
      Extract.triples(trainSents, ms, provenance = prov)
    }.reduce(_ unionByName _)
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
  private def kernelOf(m: Learned, trainSents: Dataset[SentenceAnnots],
      goldAnnots: Dataset[Annotation], gaz: Gazetteer)(
      implicit spark: SparkSession): PageKernel = {
    val upgraded = m.finalPatterns.map(p => p -> Extract.toRelationPattern(p))
    val priorRows = ValueProbs.compute(trainSents, goldAnnots.toDF(), PriorsCfg).collect()
    val priorVeto = priorRows.map(r => ((r.getString(0), r.getString(1)), r.getLong(4))).toMap
    val dictEntries = priorRows.toSeq
      .filter(_.getLong(4) >= math.round(PriorsCfg.dictThreshold * 10000))
      .map(r => (r.getString(0), r.getString(1), r.getLong(4)))
    PageKernel(upgraded.collect { case (_, Some(rel)) => rel },
      upgraded.collect { case (p, None) => p }, m.tgtPatterns, m.allowedPairs, priorVeto,
      dictEntries, gaz, StatsCfg.matcher)
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

  /** Run + materialize to a 16-bucket subject-partitioned parquet table with
    * checkpoints. */
  def runAndWrite(pages: Dataset[Page], goldAnnots: Dataset[Annotation], gaz: Gazetteer,
      outPath: String)(implicit spark: SparkSession): DataFrame =
    Materialize.write(run(pages, goldAnnots, gaz).canonical, outPath, Buckets,
      Some(CanonicalMetric))

  /**
   * Fully resumable variant: every stage (sentences → patterns → pair stats → raw
   * triples) is materialized through [[graft.runtime.StageCheckpoint]] with
   * per-partition lineage, keyed by the caller's `fingerprint` (input + config
   * identity). A restarted run resumes at its first incomplete stage; the final write
   * goes through [[Materialize.writeResumable]] (per-bucket checkpoints). This is the
   * production `spark-submit` path for long corpus runs (north rule: resumable from
   * checkpoint with per-partition lineage + metrics). Learning and gating are
   * [[run]]'s; only the corpus pass differs: it reads the materialized sentence table.
   */
  def runCheckpointed(pages: Dataset[Page], goldAnnots: Dataset[Annotation],
      gaz: Gazetteer, stageDir: String, fingerprint: String, outPath: String)(
      implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val cp = StageCheckpoint(stageDir)

    // fused annotate→sentence stage (see TrainingSlice): one narrow pass, no
    // annotation shuffle; the materialized sentence table is the resume point. It is
    // written before patterns exist, so it always carries chunk labels: a
    // syntax-anchored pattern stays matchable on resume
    val allSentsDF = cp.materialize("sentences", fingerprint) {
      Annotate.annotateSentences(pages, gaz, withChunks = true).toDF()
    }
    val train = new TrainingSlice(pages, goldAnnots, gaz)
    val m = learn(train, goldAnnots, Some((cp, fingerprint)))

    // the corpus pass of run() over the materialized sentence table: its rows are
    // regrouped per page, then the same page kernel runs
    val rawTriples = cp.materialize("raw_triples", fingerprint) {
      val kernelB = spark.sparkContext.broadcast(kernelOf(m, train.sents, goldAnnots, gaz))
      allSentsDF.as[SentenceAnnots].groupByKey(_.url)
        .flatMapGroups((url, sents) => kernelB.value(url, sents.toVector))
        .unionByName(goldTriplesOf(train.sents, goldAnnots)).toDF()
    }.as[Triple]
    train.unpersist()

    Materialize.writeResumable(canonicalOf(rawTriples), outPath, Buckets,
      Some(CanonicalMetric))
  }
}
