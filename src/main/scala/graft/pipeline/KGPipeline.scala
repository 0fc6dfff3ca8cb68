package graft.pipeline

import scala.collection.mutable
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
 *   gold slice ─ ONE collect: the training pages' text, pulled to the driver
 *                (bounded by MaxTrainingPages, loud when over) and there annotated
 *                and sentence-grouped with the gold spans merged in
 *              ─ learn, on the driver ([[graft.learn.LearnKernel]]): blocked all-pairs
 *                MSA → patterns; match + per-pair precision gates → final patterns;
 *                value priors → veto table + dictionary entries; gold-span triples
 *   all pages  ─ ONE narrow mapPartitions per page: html→text → one token scan, the
 *                gazetteer automaton (and the chunker, when a pattern needs syntax)
 *                over its lowered stream → sentence spans and their grids built
 *                from token indices, no annotation row → [[graft.extract.PageKernel]]
 *                (pair matching, prior veto, dictionary pass, same-span dedup, W4
 *                merge, sentence-local subject resolution) → raw triples; the model
 *                is broadcast
 *   subjects   ─ ONE job: the distinct subject forms, pulled to the driver (bounded by
 *                MaxLinkForms, loud when over)
 *              ─ link + CC, on the driver: [[graft.link.EntityLink.jaccardLinks]] edges,
 *                union-find components; a subject in a component becomes its
 *                smallest form, by a narrow map with the map broadcast (no edge: the
 *                raw triples pass through untouched)
 *              ─ materialize: dedup, subject-bucketed partitioned write + its record
 *
 * The corpus pass does not shuffle before link: every extraction step is local to a
 * page (the reference's per-document AutoAnnotate → PopulateFrame), so no annotation,
 * sentence or mention row leaves the task that read its page. Learning only ever
 * touches the validated slice, and runs as plain Scala over it — exactly the
 * reference's design: learning single-threaded on status-1 docs, extraction on
 * status-0 (SURVEY.md §7.4.2). Between the slice's collect and the corpus pass neither
 * entry point starts a Spark job. Canonicalization follows the same design (the
 * reference merges duplicates with a plain walk, AnnotateDuplicate.java:106-270): the
 * job has few distinct subjects, so it links them on the driver, with no join, window,
 * persist or checkpoint.
 *
 * [[runAndWrite]] and [[runCheckpointed]] share one body: learn → gate, the corpus
 * pass and canonicalization. They differ only in whether the `raw_triples` stage is
 * checkpointed and in whether the final write (`Materialize`'s one commit) carries the
 * run's fingerprint. The job has no knobs: default MSA, stats and prior
 * configs, training gold of provenance `gold`, 16 output buckets.
 */
object KGPipeline {

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
  private[graft] val MaxTrainingPages = 5000

  /** Most distinct subject forms canonicalization links on the driver. At the limit,
    * on 2–4-token names over a Zipf vocabulary, linking peaks at about 0.3 GB of heap
    * (it completes under -Xmx256m) and about 12 s on one core, most of it in the
    * capped 1,000-form blocks. A corpus with more distinct subjects fails the job after
    * the corpus pass rather than exhausting the driver. */
  private[graft] val MaxLinkForms = 200000

  /** Fails loudly when a training slice of `pages` pages exceeds [[MaxTrainingPages]]. */
  private[graft] def checkSliceSize(pages: Int): Unit =
    if (pages > MaxTrainingPages) throw new IllegalArgumentException(
      s"training slice of $pages pages exceeds the limit of $MaxTrainingPages pages: " +
        "learning collects the validated slice to the driver, so train on a smaller " +
        "gold sample")

  /** Fails loudly when more than [[MaxLinkForms]] distinct subject forms were
    * collected. */
  private[graft] def checkFormCount(forms: Int): Unit =
    if (forms > MaxLinkForms) throw new IllegalArgumentException(
      s"$forms or more distinct subject forms exceed the limit of $MaxLinkForms forms: " +
        "canonicalization links the subject forms on the driver")

  /** The page kernel learned on the gold slice (learn → gate): collects the training
    * slice and starts no job over the corpus. */
  def learnedKernel(pages: Dataset[Page], goldAnnots: Dataset[Annotation], gaz: Gazetteer)(
      implicit spark: SparkSession): PageKernel = {
    val train = new TrainingSlice(pages, goldAnnots, gaz)
    kernelOf(learn(train), train, gaz)
  }

  /** Learn → gate → corpus pass, the body both entry points share; a `checkpoint`
    * materializes the one `raw_triples` stage. Learning runs lazily inside that stage:
    * a resumed `raw_triples` stage collects no training slice, builds no kernel and
    * annotates nothing. */
  private def extracted(pages: Dataset[Page], goldAnnots: Dataset[Annotation],
      gaz: Gazetteer, checkpoint: Option[(StageCheckpoint, String)])(
      implicit spark: SparkSession): DataFrame = {
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
    checkpoint.fold(rawTriples) { case (cp, fingerprint) =>
      cp.materialize("raw_triples", fingerprint)(rawTriples)
    }
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

  /** The training slice, collected to the driver: the gold annotations, and the text
    * of the pages having them ([[Annotate.extractText]], one narrow pass), annotated
    * and sentence-grouped on the driver with the gold spans merged in per page
    * ([[Annotate.sentences]]). Each is collected at most once and only when a stage
    * computes: a fully resumed run reads nothing. */
  private final class TrainingSlice(pages: Dataset[Page], goldAnnots: Dataset[Annotation],
      gaz: Gazetteer)(implicit spark: SparkSession) {
    lazy val gold: Seq[Annotation] = goldAnnots.collect().toSeq
    lazy val sents: Seq[SentenceAnnots] = {
      val goldByUrl = gold.groupBy(_.url)
      checkSliceSize(goldByUrl.size)
      Annotate.extractText(pages.filter(col("url").isInCollection(goldByUrl.keys)))
        .collect().toSeq
        .flatMap { case (url, text) => Annotate.sentences(url, text, gaz, goldByUrl, withChunks = true) }
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

  /** Canonicalize subjects on the driver: the distinct subject forms (one Spark job),
    * their Jaccard links and union-find components; a subject in a component becomes
    * its smallest form (UTF-8 byte order). Without an edge the raw triples pass
    * through untouched; otherwise a narrow map rewrites `subj` from the broadcast
    * form → representative map. */
  private[graft] def canonicalOf(rawTriples: DataFrame)(
      implicit spark: SparkSession): Dataset[Triple] = {
    import spark.implicits._
    val forms = subjectForms(rawTriples, MaxLinkForms + 1)
    checkFormCount(forms.size)
    val edges = EntityLink.jaccardLinks(forms, minJaccard = 0.6).edges
    val representative = ConnectedComponents.localComponents(
      edges.iterator.map(e => (e._1, e._2))).filter { case (f, rep) => f != rep }.toMap
    val triples = rawTriples.as[Triple]
    if (representative.isEmpty) triples
    else {
      val repB = spark.sparkContext.broadcast(representative)
      triples.map(t => repB.value.get(t.subj).fold(t)(rep => t.copy(subj = rep)))
    }
  }

  /** Up to `limit` distinct non-null subject forms of `rawTriples`, in ONE Spark job:
    * each task collects its partition's forms and the driver merges each task's as
    * its result arrives, so neither holds more than `limit`. */
  private def subjectForms(rawTriples: DataFrame, limit: Int)(
      implicit spark: SparkSession): collection.Set[String] = {
    import spark.implicits._
    def merge(acc: mutable.HashSet[String], forms: mutable.HashSet[String]) = {
      val it = forms.iterator
      while (acc.size < limit && it.hasNext) acc += it.next()
      acc
    }
    rawTriples.select($"subj").filter($"subj".isNotNull).as[String].rdd
      .aggregate(mutable.HashSet.empty[String])(
        (acc, f) => if (acc.size < limit) acc += f else acc, merge)
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

  /** Name of the `Observation` of the KG commit write (post-dedup — it counts what
    * lands in the output table). Its counters are kept in the commit record, read
    * back with [[Materialize.record]]. */
  val CanonicalMetric = "graft.kg.canonical"

  /** The canonical triples of the corpus, materialized to a 16-bucket
    * subject-partitioned parquet table with its commit record. The raw triples are
    * persisted while the forms aggregate and the write both read them (so the
    * aggregate is the corpus pass and the write reads the cache), and released once
    * the write returns: the lineage it returns is a local relation. */
  def runAndWrite(pages: Dataset[Page], goldAnnots: Dataset[Annotation], gaz: Gazetteer,
      outPath: String)(implicit spark: SparkSession): DataFrame = {
    val raw = extracted(pages, goldAnnots, gaz, checkpoint = None).persist(MEMORY_AND_DISK)
    try Materialize.write(canonicalOf(raw), outPath, Buckets, Some(CanonicalMetric))
    finally raw.unpersist()
  }

  /**
   * Fully resumable variant, the production `spark-submit` path for long corpus runs
   * (north rule: resumable from checkpoint with lineage + metrics),
   * keyed by the caller's `fingerprint` (input + config identity):
   *  - a re-submission whose output this fingerprint has completely committed (the
   *    commit record carries it and each bucket it lists still holds its data
   *    partition) returns the record's per-bucket lineage at once: it reads no page,
   *    no gold row and no stage, runs no link, CC or dedup, and starts no Spark job
   *    (the record still holds the counters of the commit that wrote it,
   *    [[Materialize.record]]);
   *  - otherwise the one `raw_triples` stage materializes through
   *    [[graft.runtime.StageCheckpoint]] with a commit record of the rows its write
   *    counted (resumed when this fingerprint committed it), and the commit replaces
   *    the whole table with a record carrying `fingerprint` — whether the old record
   *    is missing, another fingerprint's or lists a bucket whose data has gone — so
   *    facts another fingerprint committed never survive. A record is trusted whole
   *    or not at all, so a crash and a lost bucket resume through the commit a fresh
   *    run makes.
   * Learning runs inside the `raw_triples` stage: a crash inside the corpus pass
   * re-learns on the driver (seconds) before re-running the pass, which it had to redo
   * anyway, and no learned table is checkpointed. Learning, gating and the corpus pass
   * are [[runAndWrite]]'s: `raw_triples` checkpoints exactly the raw triples
   * `runAndWrite` computes.
   */
  def runCheckpointed(pages: Dataset[Page], goldAnnots: Dataset[Annotation],
      gaz: Gazetteer, stageDir: String, fingerprint: String, outPath: String)(
      implicit spark: SparkSession): DataFrame =
    Materialize.committedLineage(outPath, fingerprint).getOrElse {
      val rawTriples = extracted(pages, goldAnnots, gaz,
        Some((StageCheckpoint(stageDir), fingerprint)))
      Materialize.replace(canonicalOf(rawTriples), outPath, Buckets,
        Some(CanonicalMetric), Some(fingerprint))
    }
}
