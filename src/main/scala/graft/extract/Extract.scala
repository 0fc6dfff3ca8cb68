package graft.extract

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.align.Grid
import graft.model.{Mention, Pattern, SentenceAnnots, Triple}

/**
 * Extraction: apply the final (precision-gated) pattern set to all sentences and emit
 * mentions, then join mentions into raw triples — the reference's AutoAnnotate /
 * AutoAnnotateNER → PopulateFrame path
 * (/root/reference/src/msa/AutoAnnotateNER.java:483-972, PopulateFrame.java:60-314).
 *
 * Triple shape: for each extracted (pred = pattern annotType, obj = target value), the
 * subject is the nearest preceding entity Lookup in the same sentence (the reference's
 * frame instance ↔ document join becomes a sentence-local subject resolution), falling
 * back to the page host. Adjacent extracted spans that touch (end == next begin or +1)
 * merge into one larger entity (ref AutoAnnotate.java:929-1034) — the classic
 * sessionization window idiom, W4.
 *
 * These are the Dataset forms of the per-page steps in [[PageKernel]], for inputs
 * that are stored tables (training sentences, oracle queries); the matcher passes,
 * the prior veto, the dictionary pass and subject resolution call the kernel's
 * per-sentence helpers. `KGPipeline`'s corpus pass runs the kernel itself.
 */
object Extract {

  /**
   * W4 adjacent-entity merge (sessionization): mentions of the same type in the same
   * page whose spans touch (gap ≤ 1 char) merge into one mention spanning both
   * (ref AutoAnnotate.java:929-1034). Running max end of the preceding rows → running
   * group-id sum → group agg; the per-page twin is [[PageKernel.mergeAdjacent]]. The
   * running max (not the previous row's end) keeps a span nested in an earlier one
   * from splitting the group.
   */
  def mergeAdjacent(ms: Dataset[Mention])(implicit spark: SparkSession): Dataset[Mention] = {
    import spark.implicits._
    val w = Window.partitionBy($"url", $"annotType").orderBy($"begin", $"end")
    ms.toDF()
      .withColumn("prevEnd", max($"end").over(
        w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("newGrp",
        when($"prevEnd".isNull || $"begin" > $"prevEnd" + 1, 1).otherwise(0))
      .withColumn("grp", sum($"newGrp").over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy($"url", $"annotType", $"grp")
      .agg(min($"begin").as("begin"), max($"end").as("end"),
        concat_ws(" ", collect_list($"value")).as("value"),
        min($"profileId").as("profileId"), max($"score").as("score"))
      .select($"url", $"annotType", $"begin", $"end", $"value", $"profileId", $"score")
      .as[Mention]
  }

  /**
   * Pair-model extraction (the reference's AutoAnnotate with ProfileReader.readFinal
   * per-pair gates): context patterns enumerate candidate spans, target profiles decide
   * the extent, and only (context, target) pairs in `allowedPairs` (pair → precision)
   * extract. Mention score = the PAIR's gated precision — per-pair quality, the
   * reference's main quality lever.
   */
  def mentionsPaired(sentences: Dataset[SentenceAnnots], contextPatterns: Seq[Pattern],
      targetPatterns: Seq[Pattern], allowedPairs: Map[(Long, Long), Double],
      prm: PatternMatcher.Params = PatternMatcher.Params())(
      implicit spark: SparkSession): Dataset[Mention] = {
    import spark.implicits._
    val idxB = spark.sparkContext.broadcast(PatternMatcher.buildIndex(contextPatterns))
    val tgtB = spark.sparkContext.broadcast(PageKernel.compileTargets(targetPatterns))
    val pairsB = spark.sparkContext.broadcast(allowedPairs)
    sentences.flatMap { s =>
      PageKernel.matchableGrid(s).toVector.flatMap(grid => PageKernel.pairMentions(s.url, grid,
        idxB.value, tgtB.value, pairsB.value, prm))
    }
  }

  /** Pair-model two-slot relation extraction (see [[mentionsPaired]]): patterns with a
    * `:subject` slot bind BOTH spans in one match, so the triple is emitted directly —
    * no nearest-entity resolution. */
  def relationTriplesPaired(sentences: Dataset[SentenceAnnots],
      relPatterns: Seq[Pattern], targetPatterns: Seq[Pattern],
      allowedPairs: Map[(Long, Long), Double],
      prm: PatternMatcher.Params = PatternMatcher.Params())(
      implicit spark: SparkSession): Dataset[Triple] = {
    import spark.implicits._
    val idxB = spark.sparkContext.broadcast(PatternMatcher.buildIndex(relPatterns))
    val tgtB = spark.sparkContext.broadcast(PageKernel.compileTargets(targetPatterns))
    val pairsB = spark.sparkContext.broadcast(allowedPairs)
    sentences.flatMap { s =>
      PageKernel.matchableGrid(s).toVector.flatMap(grid => PageKernel.pairRelations(s.url, grid,
        idxB.value, tgtB.value, pairsB.value, prm))
    }
  }

  /**
   * Value-prior veto (the −1 rung of the reference's gate ladder, ref
   * AutoAnnotateNER.genValProbMap consumption): mentions whose (annotType,
   * lowercased value) has prior −1 — the corpus says this value is usually NOT of
   * this type — are dropped. Neutral (0) and trusted (>0) priors pass through.
   */
  def applyPriors(ms: Dataset[Mention], priors: Map[(String, String), Long])(
      implicit spark: SparkSession): Dataset[Mention] =
    if (priors.isEmpty) ms
    else {
      val b = spark.sparkContext.broadcast(priors)
      ms.filter(m => !PageKernel.vetoed(b.value)(m))
    }

  /**
   * Dictionary single-entity pass (ref addSingleEntities,
   * /root/reference/src/msa/AutoAnnotateNER.java:2294-2460): values the prior table
   * trusts (prior ≥ dictThreshold) are annotated at EVERY corpus occurrence, pattern
   * match or not. Entries are (annotType, value, priorBp); the automaton is broadcast.
   */
  def dictionaryMentions(sentences: Dataset[SentenceAnnots],
      entries: Seq[(String, String, Long)])(
      implicit spark: SparkSession): Dataset[Mention] = {
    import spark.implicits._
    if (entries.isEmpty) return spark.emptyDataset[Mention]
    val dictB = spark.sparkContext.broadcast(PageKernel.Dictionary(entries))
    sentences.flatMap(s => dictB.value.mentions(s))
  }

  /** Deterministic mention dedup on (url, annotType, begin, end) — required before
    * mergeAdjacent when pattern and dictionary mentions can land on the same span
    * (two identical spans in one merge group would duplicate the value text).
    * The winning row is picked ATOMICALLY (max_by over one ordered struct), never by
    * independent per-column aggregates: a span matched by both a pattern and the
    * dictionary pass (profileId −2) must keep ONE mention's (score, profileId, value)
    * intact — independent min/max would emit a chimera (e.g. the dictionary's id with
    * the pattern's precision), misattributing evidence downstream. The per-page twin
    * is [[PageKernel.dedupMentions]]. */
  def dedupMentions(ms: Dataset[Mention])(implicit spark: SparkSession): Dataset[Mention] = {
    import spark.implicits._
    ms.toDF()
      .groupBy($"url", $"annotType", $"begin", $"end")
      // order: best score first; ties broken by (lowest profileId, value) so the
      // choice is identical at any parallelism
      .agg(max_by(struct($"score", $"profileId", $"value"),
        struct($"score", -$"profileId", $"value")).as("w"))
      .select($"url", $"annotType", $"begin", $"end", $"w.value".as("value"),
        $"w.profileId".as("profileId"), $"w.score".as("score"))
      .as[Mention]
  }

  /**
   * Upgrade a learned single-slot pattern to a two-slot relation pattern: the first
   * entity-Lookup literal BEFORE the target slot becomes the `:subject` slot (the
   * learned context already proves an entity mention occupies that position).
   * None if the pattern has no such literal.
   */
  def toRelationPattern(p: Pattern): Option[Pattern] = {
    val ti = p.toks.indexOf(Grid.Target)
    val si = p.toks.indexWhere(_.startsWith(":lookup|majortype|"))
    if (si >= 0 && ti > si) Some(p.copy(toks = p.toks.updated(si, Grid.Subject)))
    else None
  }

  /**
   * Resolve subjects sentence-locally and emit raw triples. Entity Lookups (majorType
   * "entity") that precede the mention in the same sentence provide the subject;
   * otherwise the url host does.
   *
   * Scale shape: one cogroup of mentions and subject spans on url — ONLY the (small)
   * mention and subject rows shuffle, and the per-page argmin runs in memory
   * ([[PageKernel.Subjects]], the kernel's own resolver). An equivalent join+window
   * formulation (RelationSpec's oracle) shuffles the mentions × subjects PRODUCT into
   * the window — on a mega-page (thousands of entities × mentions) that product is the
   * blow-up this shape avoids; here the quadratic is bounded per sentence, the
   * reference's own bound.
   */
  def triples(sentences: Dataset[SentenceAnnots], ms: Dataset[Mention],
      provenance: String = graft.model.Provenance.Auto)(
      implicit spark: SparkSession): Dataset[Triple] = {
    import spark.implicits._
    val subjects = sentences.flatMap { s =>
      PageKernel.Subjects.entities(s.annots).toSeq
        .map { case (b, e, v) => (s.url, s.sentBegin, s.sentEnd, b, e, v) }
    }
    ms.groupByKey(_.url).cogroup(subjects.groupByKey(_._1)) { (url, mIt, sIt) =>
      // nearest preceding wins, else first following (penalized), else host —
      // identical ordering to the window formulation: min (dist, ab)
      val subs = PageKernel.Subjects.fromRows(url,
        sIt.map { case (_, sb, se, ab, ae, v) => (sb, se, ab, ae, v) })
      mIt.map(subs.resolve(_, provenance))
    }
  }
}
