package graft.learn

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.align.SmithWaterman
import graft.extract.PageKernel
import graft.model.{Annotation, SentenceAnnots}

/**
 * Duplicate-document propagation of validated annotations — the reference's
 * AnnotateDuplicate/DuplicateSentences pass
 * (/root/reference/src/msa/pipeline/AnnotateDuplicate.java:106-270,
 * src/msa/DuplicateSentences.java:43-150): when two documents are near-duplicates
 * (same entity / shared content), a human-validated target span in one is propagated
 * to the matching sentence of the other, multiplying gold coverage without human work.
 *
 * Spark shape: `pairs` (url_a, url_b) come from a blocking near-dup detector (e.g.
 * [[graft.dedup.Dedup.minhashLshPairs]] on page text — never all-pairs); gold-bearing
 * sentences join pairs on url_a, the candidate side joins on url_b, and the per-pair
 * kernel runs executor-side: the K6 token-list Smith-Waterman gates sentence similarity
 * (ref DuplicateSentences' SW check), then the gold value's token run is located in the
 * duplicate sentence to derive exact char offsets.
 */
object Propagate {

  /**
   * @param sentences  all sentences (the candidate side reads url_b's)
   * @param gold       validated annotations (url, annotType, begin, end, value)
   * @param pairs      DataFrame(url_a, url_b): near-duplicate document pairs, directed
   *                   (propagation a→b; pass both directions for symmetric propagation)
   * @param minAligned minimum SW-aligned token count between the gold sentence and the
   *                   duplicate sentence (the quality gate)
   * @return propagated annotations on url_b docs, provenance `dup-propagated`, score =
   *         aligned/|tokens| overlap ratio
   */
  def propagate(sentences: Dataset[SentenceAnnots], gold: Dataset[Annotation],
      pairs: DataFrame, minAligned: Int = 4)(
      implicit spark: SparkSession): Dataset[Annotation] = {
    import spark.implicits._

    // gold-bearing sentences of url_a: sentence tokens + contained gold spans
    val goldByUrl = gold.groupByKey(_.url).mapGroups { (url, it) =>
      (url, it.map(a => (a.annotType, a.begin, a.end, a.value)).toVector)
    }.toDF("url_a", "goldSpans")
    val aSents = sentences.toDF()
      .join(goldByUrl, col("url") === col("url_a"))
      .select(col("url_a"), struct(col("url"), col("sentBegin"), col("sentEnd"),
        col("annots")).as("aSent"), col("goldSpans"))
    val withPairs = aSents.join(pairs, Seq("url_a"))
    val bSents = sentences.toDF()
      .select(col("url").as("url_b"), struct(col("url"), col("sentBegin"),
        col("sentEnd"), col("annots")).as("bSent"))
    // candidate (gold sentence × duplicate sentence) rows; sparse by construction —
    // only near-dup pairs reach this join
    val rows = withPairs.join(bSents, Seq("url_b"))
      .select(col("aSent").as("_1"), col("goldSpans").as("_2"), col("bSent").as("_3"))
      .as[(SentenceAnnots, Vector[(String, Int, Int, String)], SentenceAnnots)]
    rows.flatMap { case (aSent, goldSpans, bSent) =>
      propagateOne(aSent, goldSpans, bSent, minAligned)
    }.dropDuplicates("url", "annotType", "begin", "end").as[Annotation]
  }

  /** Pure per-(gold sentence, duplicate sentence) kernel (unit-testable). */
  def propagateOne(aSent: SentenceAnnots, goldSpans: Seq[(String, Int, Int, String)],
      bSent: SentenceAnnots, minAligned: Int): Vector[Annotation] = {
    val aToks = aSent.annots.filter(_.annotType == "Token").sortBy(_.begin)
    val bToks = bSent.annots.filter(_.annotType == "Token").sortBy(_.begin)
    if (aToks.isEmpty || bToks.isEmpty) return Vector.empty
    // gold spans inside THIS a-sentence only
    val local = goldSpans.filter(g => g._2 >= aSent.sentBegin && g._3 <= aSent.sentEnd)
    if (local.isEmpty) return Vector.empty
    val aStream = aToks.map(t => PageKernel.lowered(t.value)).toIndexedSeq
    val bStream = bToks.map(t => PageKernel.lowered(t.value)).toIndexedSeq
    val aligned = SmithWaterman.alignTokens(aStream, bStream)
    if (aligned < math.min(minAligned, aStream.length)) return Vector.empty
    val ratio = aligned.toDouble / math.max(aStream.length, bStream.length)
    local.flatMap { case (annotType, _, _, value) =>
      val valToks = PageKernel.lowered(value).split("\\s+").toIndexedSeq
      // exact token-run search for the gold value in the duplicate sentence — the
      // deterministic equivalent of the reference's SW-backtrack span mapping
      bStream.indexOfSlice(valToks) match {
        case -1 => None
        case i =>
          val begin = bToks(i).begin
          val end = bToks(i + valToks.length - 1).end
          Some(Annotation(bSent.url, 900000 + i, annotType, begin, end,
            bToks.slice(i, i + valToks.length).map(_.value).mkString(" "),
            Map.empty, "dup-propagated", ratio))
      }
    }.toVector
  }
}
