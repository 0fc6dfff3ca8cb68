package graft.learn

import org.apache.spark.sql.{Dataset, SparkSession}
import graft.align.{Grid, MSA, SmithWaterman}
import graft.model.{Pattern, SentenceAnnots}

/**
 * Pattern learning: blocked all-pairs sentence alignment → profiles.
 *
 * The Spark shape of the reference's GenMSA/GenMSADriver
 * (/root/reference/src/msa/GenMSA.java:387-618, GenMSADriver.java:417-821): sentences
 * containing a gold target span of type T are target-centred and trimmed (±10 columns,
 * ref GenAnnotationGrid.java:376-396), grouped into blocks of `blockSize` sentences
 * (ref msaBlockSize=20, config/ie.properties:106 — cross-block pairs intentionally never
 * align, exactly the reference's semantics, GenMSADriver.java:539-586), each block
 * aligned all-pairs with the SW kernel, surviving alignments rendered to pattern token
 * sequences, identical sequences counted ("rows"), and patterns with rows >= minRows
 * kept (ref GenMSA.java:636).
 *
 * Blocking, counting and profile ids are [[LearnKernel]]'s: blocks are ranked by (url
 * in UTF-8 byte order, sentBegin) per annotType, and a profile id is a content hash
 * (xxhash64) of the canonical pattern key — never auto-assigned, no global sort — so
 * ids are identical at any parallelism (SURVEY.md §7.4.4).
 */
object GenMSA {

  final case class Config(blockSize: Int = 20, minRows: Int = 2)

  /** Context grids keep this many columns on each side of the target. */
  private val TrimSize = 10

  private val ContextGates = MSA.Gates()

  /** Target profiles are short (often one anchor like ":number"), so their gates are
    * looser than the context gates. */
  private val TargetGates = MSA.Gates(maxGaps = 1, minAnchors = 1)

  /**
   * Learn patterns from sentences whose annotations include gold target spans with
   * provenance in `goldProvenances` (human-validated spans). Gold target annotations
   * define both the target type (annotType) and its span.
   *
   * The Dataset form of [[LearnKernel.patterns]]: one group per annotType cut into
   * [[LearnKernel.blocks]], the blocks spread over the cluster and each aligned by
   * [[alignBlock]], identical sequences counted, then [[LearnKernel.pattern]] (minRows
   * gate and content-hash id).
   */
  def learn(sentences: Dataset[SentenceAnnots],
      goldProvenances: Set[String] = Set("gold"),
      cfg: Config = Config())(implicit spark: SparkSession): Dataset[Pattern] = {
    import spark.implicits._
    sentences
      .flatMap(s => LearnKernel.trainingTypes(s, goldProvenances).map(t => (t, s)))
      .groupByKey(_._1)
      .flatMapGroups { (t: String, it: Iterator[(String, SentenceAnnots)]) =>
        LearnKernel.blocks(it.map(_._2).toVector, cfg.blockSize).map(b => (t, b))
      }
      .repartition(spark.sparkContext.defaultParallelism)
      .flatMap { case (t, block) => alignBlock(t, block.toVector, goldProvenances) }
      .groupByKey(identity).count()
      .flatMap { case ((t, toks, pType), rows) =>
        LearnKernel.pattern(t, toks, pType, rows, cfg.minRows)
      }
  }

  /**
   * Profile subsumption filter (ref BestPatterns.readProfiles,
   * /root/reference/src/msa/BestPatterns.java:1057-1135 + removeDupes :1383-1414): a
   * profile whose token sequence CONTAINS another surviving profile of the same
   * (annotType, profileType) as a contiguous slice is redundant — every site it matches
   * the shorter profile also matches — and is dropped. Pure driver-side pass over the
   * (small, post-gate) collected pattern set.
   */
  def subsumptionFilter(patterns: Seq[Pattern]): Seq[Pattern] = {
    val byKey = patterns.groupBy(p => (p.annotType, p.profileType))
    patterns.filter { p =>
      !byKey((p.annotType, p.profileType)).exists(o =>
        o.profileId != p.profileId && o.toks.size < p.toks.size &&
          p.toks.containsSlice(o.toks))
    }
  }

  /**
   * All-pairs alignment within one block (pure; unit-testable). Produces BOTH pattern
   * kinds of the reference's pair model (ref src/msa/GenMSADriver.java:763,772):
   *  - context profiles (profileType 0): target-centred trimmed grids aligned all-pairs,
   *    pattern must anchor the `:target` slot;
   *  - target profiles (profileType 1): the gold target spans THEMSELVES as mini-grids
   *    aligned all-pairs — the generalized token-sequence shape of the target (e.g.
   *    [":number"] for year targets), later paired with context profiles at match time.
   * The reference's untrimmed full-sentence contexts (profile_type 3,
   * GenMSADriver.java:929) are not learned.
   */
  def alignBlock(annotType: String, sents: Vector[SentenceAnnots],
      goldProvenances: Set[String]): Vector[(String, Seq[String], Int)] = {
    val goldSpans = sents.map { s =>
      s -> s.annots
        .filter(a => goldProvenances(a.provenance) && a.annotType == annotType)
        .map(a => (a.begin, a.end))
    }
    val ctxGrids = goldSpans.flatMap { case (s, targets) =>
      val g = Grid.build(s.url, s.sentBegin, s.sentEnd, s.annots, targets)
      Grid.trimAroundTarget(g, TrimSize)
    }
    // target mini-grids: only the columns inside each gold span, no sentinels
    val tgtGrids = goldSpans.flatMap { case (s, targets) =>
      val g = Grid.build(s.url, s.sentBegin, s.sentEnd, s.annots)
      targets.flatMap { case (b, e) =>
        val cols = g.cols.filter(c => c.begin >= b && c.end <= e && c.end > c.begin)
        if (cols.nonEmpty) Some(Grid(s.url, b, e, cols)) else None
      }
    }
    val out = Vector.newBuilder[(String, Seq[String], Int)]
    def allPairs(grids: Vector[Grid], gates: MSA.Gates, requireTarget: Boolean,
        pType: Int): Unit = {
      var i = 0
      while (i < grids.length) {
        var j = i + 1
        while (j < grids.length) {
          val al = SmithWaterman.align(grids(i), grids(j))
          MSA.toPattern(al, gates, requireTarget).foreach { toks =>
            out += ((annotType, toks, pType))
          }
          j += 1
        }
        i += 1
      }
    }
    allPairs(ctxGrids, ContextGates, requireTarget = true, pType = 0)
    allPairs(tgtGrids, TargetGates, requireTarget = false, pType = 1)
    out.result()
  }
}
