package graft.model

/**
 * Core data model for the Spark-native knowledge-graph construction pipeline.
 *
 * Mirrors the reference's universal stand-off annotation data model
 * (/root/reference/src/msa/Annotation.java:9-22, sql/ie-mysql.sql:1-65) re-expressed as
 * typed Spark Dataset rows: the reference's JSON feature string becomes a first-class
 * Map[String,String]; auto-increment ids become deterministically derived ids.
 */

/** Input page, per BASELINE input_hint: Common-Crawl-style web page row. */
final case class Page(
    url: String,
    warc_ts: java.sql.Timestamp,
    html: Array[Byte],
    text: String,
    lang: String)

/**
 * Stand-off annotation over the normalized text of one page.
 * Ref: src/msa/Annotation.java:9-22 (document_id, id, annotation_type, start, end,
 * value, features-json, provenance, score).
 */
final case class Annotation(
    url: String,
    annotId: Int,
    annotType: String,
    begin: Int,
    end: Int,
    value: String,
    features: Map[String, String],
    provenance: String,
    score: Double)

/** One sentence of one page with its contained annotations, the unit of alignment. */
final case class SentenceAnnots(
    url: String,
    sentBegin: Int,
    sentEnd: Int,
    annots: Seq[Annotation])

/**
 * A learned token-sequence pattern ("profile").
 * Ref: sql/ie-mysql.sql:1-13; token format src/msa/AnnotationSequence.java:300-347,
 * e.g. [":start", ":token|string|founded", ":target", ":lookup|majortype|org"].
 * profileType: 0 = context pattern, 1 = target pattern, 3 = full-sentence
 * (ref src/msa/GenMSADriver.java:763,772,929).
 */
final case class Pattern(
    profileId: Long,
    toks: Seq[String],
    annotType: String,
    profileType: Int,
    group: String,
    score: Double,
    truePos: Long,
    falsePos: Long,
    rows: Long)

/** One (context-pattern, target-pattern) match occurrence. Ref: sql/ie-mysql.sql:37-43. */
final case class PatternMatch(
    profileId: Long,
    targetId: Long,
    url: String,
    begin: Int,
    end: Int,
    value: String)

/** Per-(pattern, target) precision statistics. Ref: sql/ie-mysql.sql:24-33. */
final case class PatternStats(
    profileId: Long,
    targetId: Long,
    total: Long,
    prec: Double,
    truePos: Long,
    falsePos: Long,
    disabled: Boolean)

/** An extracted entity/value mention before linking. */
final case class Mention(
    url: String,
    annotType: String,
    begin: Int,
    end: Int,
    value: String,
    profileId: Long,
    score: Double)

/** Output triple. Ref analog: frame_instance_data, src/msa/PopulateFrame.java:39-40.
  * `provenance` mirrors the reference's frame-row provenance pointer ("validation-tool"
  * for human-validated evidence, "msa-ie" for auto extraction) and drives the
  * validated-over-auto precedence rule in [[graft.sink.Materialize]]
  * (ref src/msa/PopulateFrame.java:168-192). */
final case class Triple(
    subj: String,
    pred: String,
    obj: String,
    url: String,
    begin: Int,
    end: Int,
    profileId: Long,
    score: Double,
    provenance: String = Provenance.Auto)

/** Provenance vocabulary (ref config/ie.properties provenance/targetProvenance/
  * autoProvenance; values at src/msa/Annotation.java:22). */
object Provenance {
  /** Human-validated gold (ref `validation-tool`). */
  val Gold = "validation-tool"
  /** Auto-extracted by the learned patterns (ref `msa-ie`). */
  val Auto = "msa-ie"
  /** Gold propagated onto a near-duplicate doc (ref `duplicate-sentences-util`). */
  val Propagated = "dup-propagated"
}
