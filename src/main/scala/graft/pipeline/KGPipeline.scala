package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
import graft.canon.ConnectedComponents
import graft.extract.{Extract, PageKernel}
import graft.learn.{GenMSA, LearnKernel, PatternStats, ValueProbs}
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
 *   gold slice ─ ONE collect: the training pages annotated + sentence-grouped in one
 *                fused narrow stage, pulled to the driver (bounded by
 *                MaxTrainingPages, loud when over)
 *              ─ learn, on the driver ([[graft.learn.LearnKernel]]): blocked all-pairs
 *                MSA → patterns; match + per-pair precision gates → final patterns;
 *                value priors → veto table + dictionary entries; gold-span triples
 *   all pages  ─ ONE narrow mapPartitions per page: html→text → tokens + gazetteer
 *                Lookups → sentence grouping → [[graft.extract.PageKernel]] (pair
 *                matching, prior veto, dictionary pass, same-span dedup, W4 merge,
 *                sentence-local subject resolution) → raw triples; the model is
 *                broadcast
 *              ─ link + CC: blocking-join edges, large-star/small-star canonicalization
 *              ─ materialize: dedup, subject-bucketed partitioned write + its record
 *
 * The corpus pass does not shuffle before link: every extraction step is local to a
 * page (the reference's per-document AutoAnnotate → PopulateFrame), so no annotation,
 * sentence or mention row leaves the task that read its page. Learning only ever
 * touches the validated slice, and runs as plain Scala over it — exactly the
 * reference's design: learning single-threaded on status-1 docs, extraction on
 * status-0 (SURVEY.md §7.4.2). Between the slice's collect and the corpus pass [[run]]
 * starts no Spark job.
 *
 * [[run]] and [[runCheckpointed]] share one body: learn → gate, the corpus pass and
 * canonicalization. They differ only in whether the `raw_triples` stage is
 * checkpointed and in the final write (`Materialize.write`, or `writeResumable` keyed
 * by the run's fingerprint). The job has no knobs: default MSA, stats and prior
 * configs, training gold of provenance `gold`, 16 output buckets.
 */
object KGPipeline {

  /** The learned page kernel and the canonical triples it yields over the corpus. */
  final case class Result(kernel: PageKernel, canonical: Dataset[Triple])

  /** Subject buckets of the committed triple table. */
  private val Buckets = 16
  private val StatsCfg = PatternStats.Config()
  private val PriorsCfg = ValueProbs.Config()
  /** Training-gold provenance classes: human-validated spans, which also materialize
    * triples at the validated precedence rank (see LearnKernel.goldTriples). */
  private val GoldClasses = Seq("gold" -> graft.model.Provenance.Gold)
  /** Most training pages (distinct gold urls) the driver collects and learns on. The
    * validated slice is small by design; a larger one fails the job before any page is
    * read rather than exhausting the driver. */
  private val MaxTrainingPages = 5000

  /** Fails loudly when a training slice of `pages` pages exceeds `limit`. */
  private[graft] def checkSliceSize(pages: Int, limit: Int = MaxTrainingPages): Unit =
    if (pages > limit) throw new IllegalArgumentException(
      s"training slice of $pages pages exceeds the limit of $limit pages: learning " +
        "collects the validated slice to the driver, so train on a smaller gold sample")

  /**
   * @param pages      full corpus
   * @param goldAnnots gold target-span annotations for the training slice
   * @param gaz        gazetteer for Lookup annotations (broadcast)
   */
  def run(pages: Dataset[Page], goldAnnots: Dataset[Annotation], gaz: Gazetteer)(
      implicit spark: SparkSession): Result = {
    val (rawTriples, kernel) = extracted(pages, goldAnnots, gaz, checkpoint = None)
    // rawTriples feeds both the CC edge derivation and the final canonical output —
    // persist it or every downstream action recomputes the whole extraction
    Result(kernel(), canonicalOf(rawTriples.persist(MEMORY_AND_DISK)))
  }

  /** Learn → gate → corpus pass, the body both entry points share; a `checkpoint`
    * materializes the one `raw_triples` stage. Learning runs lazily inside that stage:
    * a resumed `raw_triples` stage collects no training slice, builds no kernel and
    * annotates nothing. Returns the raw triples and the page kernel, built on first
    * use. */
  private def extracted(pages: Dataset[Page], goldAnnots: Dataset[Annotation],
      gaz: Gazetteer, checkpoint: Option[(StageCheckpoint, String)])(
      implicit spark: SparkSession): (DataFrame, () => PageKernel) = {
    import spark.implicits._
    val train = new TrainingSlice(pages, goldAnnots, gaz)

    // 5. extract on ALL pages: one narrow pass, page → raw triples through the page
    // kernel. Patterns whose learned context contains an entity literal before the
    // target upgrade to two-slot relation patterns (subject bound by the match); the
    // rest go through mention extraction + sentence-local nearest-entity resolution.
    // Value-probability priors (A6) veto mentions the validated corpus distrusts and
    // feed the dictionary pass for values it trusts.
    lazy val kernel = kernelOf(learn(train), train, gaz)
    // validated gold spans ALSO materialize triples (ref PopulateFrame scans
    // validated + auto annotations, /root/reference/src/msa/PopulateFrame.java:144-192);
    // their provenance outranks auto rows at the same site in Materialize's
    // precedence dedup. Resolved on the driver over the collected slice.
    def rawTriples = pageTriples(pages, kernel).unionByName(
      LearnKernel.goldTriples(train.sents, train.gold, GoldClasses).toDS()).toDF()
    (checkpoint.fold(rawTriples) { case (cp, fingerprint) =>
      cp.materialize("raw_triples", fingerprint)(rawTriples)
    }, () => kernel)
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

  /** The training slice, collected to the driver: the gold annotations, and the
    * pages having them annotated and sentence-grouped with the gold spans merged in per
    * page ([[Annotate.annotateSentences]], one narrow pass). Each is collected at most
    * once and only when a stage computes: a fully resumed run reads nothing. */
  private final class TrainingSlice(pages: Dataset[Page], goldAnnots: Dataset[Annotation],
      gaz: Gazetteer)(implicit spark: SparkSession) {
    lazy val gold: Seq[Annotation] = goldAnnots.collect().toSeq
    lazy val sents: Seq[SentenceAnnots] = {
      val goldByUrl = gold.groupBy(_.url)
      checkSliceSize(goldByUrl.size)
      Annotate.annotateSentences(pages.filter(col("url").isInCollection(goldByUrl.keys)),
        gaz, goldByUrl).collect().toSeq
    }
  }

  /** What learning on the training slice yields: the target patterns, the gated
    * (context, target) pairs with their precision, and the surviving context
    * patterns. */
  private final case class Learned(tgtPatterns: Seq[Pattern],
      allowedPairs: Map[(Long, Long), Double], finalPatterns: Seq[Pattern])

  /** Learn → gate, the steps both entry points share, on the driver over the collected
    * slice: plain Scala, no Spark job. */
  private def learn(train: TrainingSlice): Learned = {
    // 3. learn patterns on the gold slice: context profiles (profileType 0) AND target
    // profiles (profileType 1) — the reference's pair model; small by construction
    // (post minRows gate)
    val learned = LearnKernel.patterns(train.sents, GoldClasses.map(_._1).toSet,
      GenMSA.Config())
    // subsumption filter (ref BestPatterns.readProfiles): drop context profiles whose
    // token sequence contains a shorter surviving profile - redundant at match time
    val ctxPatterns = GenMSA.subsumptionFilter(
      learned.filter(_.profileType == 0))
    val tgtPatterns = learned.filter(_.profileType == 1)

    // 4. per-PAIR precision gates against the gold slice (ref `final` table +
    // ProfileReader per-pair gates + A3 active check), gold spans snapped to token
    // extents first (J5). Pairs are judged against the collected pattern set, so the
    // MSA never runs again inside the stats step.
    val allowedPairs = LearnKernel.allowedPairs(LearnKernel.pairStats(train.sents,
      ctxPatterns, tgtPatterns, learned, train.gold, StatsCfg), StatsCfg)
    Learned(tgtPatterns, allowedPairs, gated(ctxPatterns, allowedPairs))
  }

  /** Canonicalize subjects: blocking-join edges + connected components; a subject in
    * a component is replaced by the component's representative. */
  private def canonicalOf(rawTriples: DataFrame)(
      implicit spark: SparkSession): Dataset[Triple] = {
    import spark.implicits._
    val forms = rawTriples.select($"subj".as("form"))
    val edges = EntityLink.candidateEdges(forms, minJaccard = 0.6)
      .select($"src", $"dst")
    val comp = ConnectedComponents.runAdaptive(edges)
    rawTriples
      .join(comp, rawTriples("subj") === comp("node"), "left")
      .withColumn("subj2", coalesce(col("component"), col("subj")))
      .select(col("subj2").as("subj"), col("pred"), col("obj"), col("url"),
        col("begin"), col("end"), col("profileId"), col("score"), col("provenance"))
      .as[Triple]
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
  private def kernelOf(m: Learned, train: TrainingSlice, gaz: Gazetteer): PageKernel = {
    val upgraded = m.finalPatterns.map(p => p -> Extract.toRelationPattern(p))
    val priors = LearnKernel.valuePriors(train.sents,
      train.gold.map(a => (a.annotType, a.value)), PriorsCfg)
    val priorVeto = priors.map(p => ((p.annotType, p.value), p.priorBp)).toMap
    val dictEntries = priors
      .filter(_.priorBp >= math.round(PriorsCfg.dictThreshold * 10000))
      .map(p => (p.annotType, p.value, p.priorBp))
    PageKernel(upgraded.collect { case (_, Some(rel)) => rel },
      upgraded.collect { case (p, None) => p }, m.tgtPatterns, m.allowedPairs, priorVeto,
      dictEntries, gaz, StatsCfg.matcher)
  }

  /** Observed-metric name of the canonical-triple counters attached by the write
    * paths (post-dedup — counts what lands in the output table); read it back
    * through a [[graft.runtime.MetricsCollector]]. */
  val CanonicalMetric = "graft.kg.canonical"

  /** Run + materialize to a 16-bucket subject-partitioned parquet table with its
    * commit record. */
  def runAndWrite(pages: Dataset[Page], goldAnnots: Dataset[Annotation], gaz: Gazetteer,
      outPath: String)(implicit spark: SparkSession): DataFrame =
    Materialize.write(run(pages, goldAnnots, gaz).canonical, outPath, Buckets,
      Some(CanonicalMetric))

  /**
   * Fully resumable variant, the production `spark-submit` path for long corpus runs
   * (north rule: resumable from checkpoint with lineage + metrics),
   * keyed by the caller's `fingerprint` (input + config identity):
   *  - a re-submission whose output this fingerprint has completely committed (the
   *    commit record carries it and each bucket it lists still holds its data
   *    partition) returns the record's per-bucket lineage at once: it reads no page,
   *    no gold row and no stage, runs no link, CC or dedup, and starts no Spark job;
   *  - otherwise the one `raw_triples` stage materializes through
   *    [[graft.runtime.StageCheckpoint]] with a commit record of the rows its write
   *    counted (resumed when this fingerprint committed it), and
   *    [[Materialize.writeResumable]] rewrites only the buckets of this
   *    fingerprint's record whose data has gone, replacing the whole table when the
   *    record is another fingerprint's (or missing) — so facts another fingerprint
   *    committed never survive.
   * Learning runs inside the `raw_triples` stage: a crash inside the corpus pass
   * re-learns on the driver (seconds) before re-running the pass, which it had to redo
   * anyway, and no learned table is checkpointed. Learning, gating and the corpus pass
   * are [[run]]'s: `raw_triples` checkpoints exactly the raw triples `run` computes.
   */
  def runCheckpointed(pages: Dataset[Page], goldAnnots: Dataset[Annotation],
      gaz: Gazetteer, stageDir: String, fingerprint: String, outPath: String)(
      implicit spark: SparkSession): DataFrame =
    Materialize.committedLineage(outPath, fingerprint).getOrElse {
      val (rawTriples, _) = extracted(pages, goldAnnots, gaz,
        Some((StageCheckpoint(stageDir), fingerprint)))
      Materialize.writeResumable(canonicalOf(rawTriples), outPath, Buckets,
        Some(CanonicalMetric), fingerprint)
    }
}
