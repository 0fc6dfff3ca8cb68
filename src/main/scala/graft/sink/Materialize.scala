package graft.sink

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Dataset, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.model.Triple
import graft.util.Fs

/**
 * Triple materialization: dedup + partitioned, idempotent, resumable write — the
 * reference's PopulateFrame sink (/root/reference/src/msa/PopulateFrame.java:39-40,
 * 247-268) plus its document_status resume machinery
 * (sql/utilities-sqlserver.sql:1-2) re-expressed for Spark.
 *
 * Output layout: parquet partitioned by `bucket = pmod(xxhash64(subj), nBuckets)` —
 * subject-bucketed so downstream per-entity reads prune partitions. Every commit
 * replaces the whole table in one static overwrite.
 *
 * Each commit drops the old record, writes the data, then one record file,
 * `<path>_checkpoints/_RECORD`, written whole: per non-empty bucket the rows and the
 * hash its data write observed (one `observe` on the written DataFrame; no second
 * pass), then the commit's completion time and its approximate distinct subject and
 * document counts, then its fingerprint — the same whole-file commit
 * [[graft.runtime.StageCheckpoint]] leaves for a stage, under the same rule: a record
 * is trusted whole or not at all. The record is the one place a commit's numbers live
 * ([[record]] reads them back, with no Spark job). A resumable commit over a complete
 * record (its fingerprint, or without one no fingerprint, and every bucket it lists
 * still has data) returns the record's lineage and writes nothing
 * ([[committedLineage]]); any other record is replaced with its table, so a lost
 * bucket costs what a crashed commit costs. An older record file (`_LINEAGE`) is not
 * read: such an output has no record and its first commit replaces it.
 *
 * The store is a plain directory (hive layout readable by any engine, no manifest
 * indirection) and this object is its only commit path: the job has one writer that
 * never appends, reads no older version, and rewrites every bucket in full, so a
 * bucket never accumulates files to compact.
 */
object Materialize {

  /** Provenance precedence (lower = stronger): human-validated beats auto,
    * ref src/msa/PopulateFrame.java:168-192; unlisted provenances rank weakest. */
  private val ProvenanceRank: Map[String, Int] =
    Map(graft.model.Provenance.Gold -> 0, graft.model.Provenance.Auto -> 1)

  private def rank: Column =
    ProvenanceRank.foldLeft(lit(Int.MaxValue)) { case (acc, (p, r)) =>
      when(col("provenance") === p, lit(r)).otherwise(acc)
    }

  /** The bucket kernel: site precedence dedup, graph dedup, then the bucket column
    * `pmod(xxhash64(subj), nBuckets)`. Two aligned shuffles: the site pass is
    * url-keyed, the graph pass subj-keyed — both reduce before the exchange. */
  private def bucketed(triples: Dataset[Triple], nBuckets: Int)(
      implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    dedup(dedupPrecedence(triples.toDF()).as[Triple]).toDF()
      .withColumn("bucket", pmod(xxhash64(col("subj")), lit(nBuckets)).cast("int"))
  }

  /** Columns of the lineage a commit returns, one row per committed bucket; a commit
    * without a fingerprint returns null in `fingerprint`. */
  private val LineageSchema = StructType(Seq(StructField("bucket", IntegerType),
    StructField("rows_out", LongType), StructField("output_hash", LongType),
    StructField("stage", StringType), StructField("completed_at", TimestampType),
    StructField("fingerprint", StringType)))

  /** A committed bucket as its write observed it: `rows` and `hash` (bit_xor of
    * xxhash64(subj, pred, obj), the order-insensitive identity of its facts). */
  private[graft] final case class Bucket(bucket: Int, rows: Long, hash: Long)

  /** A commit record: the non-empty buckets, when the commit completed (epoch ms), the
    * approximate distinct subjects and documents its write observed, and the
    * fingerprint (`""` without one). */
  private[graft] final case class Record(buckets: Seq[Bucket], completedAt: Long,
      subjectsApprox: Long, docsApprox: Long, fingerprint: String) {
    /** The committed facts: the sum of the bucket rows. */
    def triples: Long = buckets.map(_.rows).sum
  }

  /** The record file, written whole after the data ([[Fs.writeRecord]]): the count
    * of committed buckets, one `bucket,rows,hash` line per non-empty bucket, one
    * `completedAt,subjectsApprox,docsApprox` line, then the fingerprint on the last
    * line, so any string round-trips. */
  private def recordPath(path: String) = s"${path}_checkpoints/_RECORD"

  private def render(r: Record): String =
    ((r.buckets.size.toString +: r.buckets.map(b => s"${b.bucket},${b.rows},${b.hash}")) ++
      Seq(s"${r.completedAt},${r.subjectsApprox},${r.docsApprox}", r.fingerprint))
      .mkString("\n")

  /** The record of the commit under `path`, if any; a corrupt record throws. A file
    * read and no Spark job. */
  private[graft] def record(path: String)(implicit spark: SparkSession): Option[Record] =
    Fs.readRecord(recordPath(path)).map { text =>
      def longs(line: String): (Long, Long, Long) = line.split(',').map(_.toLong) match {
        case Array(a, b, c) => (a, b, c)
        case _ => throw new java.io.IOException(s"corrupt commit record of $path")
      }
      val nl = text.indexOf('\n')
      val n = text.substring(0, nl).toInt
      val lines = text.substring(nl + 1).split("\n", n + 2)
      val (at, subjects, docs) = longs(lines(n))
      Record(lines.take(n).toSeq.map(longs).map { case (b, r, h) => Bucket(b.toInt, r, h) },
        at, subjects, docs, lines(n + 1))
    }

  /** Full write: every bucket of `triples` replaces the table at `path` (buckets
    * the new set does not touch are gone too), and its commit record replaces the
    * old one. Returns the record's lineage, one row per non-empty bucket. */
  def write(triples: Dataset[Triple], path: String, nBuckets: Int = 16,
      observeName: Option[String] = None)(
      implicit spark: SparkSession): DataFrame =
    replace(triples, path, nBuckets, observeName, fingerprint = None)

  /** Order-insensitive dedup: one row per (subj, pred, obj); the surviving evidence
    * row is picked ATOMICALLY (one ordered struct — strongest provenance first, then
    * best score, then a total tiebreak over every remaining field), so the emitted
    * (url, begin, end, profileId, score, provenance) always come from ONE input row —
    * never a per-column chimera — and the choice is identical at any parallelism. */
  def dedup(triples: Dataset[Triple])(implicit spark: SparkSession): Dataset[Triple] = {
    import spark.implicits._
    triples.toDF()
      .groupBy($"subj", $"pred", $"obj")
      .agg(max_by(
        struct($"url", $"begin", $"end", $"profileId", $"score", $"provenance"),
        struct(-rank, $"score", $"url", $"begin", $"end",
          $"profileId")).as("w"))
      .select($"subj", $"pred", $"obj", $"w.url".as("url"), $"w.begin".as("begin"),
        $"w.end".as("end"), $"w.profileId".as("profileId"), $"w.score".as("score"),
        $"w.provenance".as("provenance"))
      .as[Triple]
  }

  /**
   * Provenance-precedence dedup — the reference's PopulateFrame rule
   * (/root/reference/src/msa/PopulateFrame.java:168-192): at one annotation SITE
   * (url, pred, begin, end), a human-validated row supersedes any auto row REGARDLESS
   * of score; only within equal provenance rank does the best score win. The winner
   * is picked atomically (one ordered struct), so its subj/obj/score/provenance always
   * come from the same row.
   *
   * @param triples a Triple-shaped DataFrame plus a `provenance` column
   */
  def dedupPrecedence(triples: DataFrame)(implicit spark: SparkSession): DataFrame = {
    triples
      .withColumn("_rank", rank)
      .groupBy(col("url"), col("pred"), col("begin"), col("end"))
      .agg(max_by(
        struct(col("subj"), col("obj"), col("profileId"), col("score"),
          col("provenance")),
        // precedence first (negated rank: stronger = larger), then score, then a
        // TOTAL deterministic tiebreak — profileId/provenance included so two rows
        // agreeing on subj/obj/score (pair precisions are frequently exactly 1.0,
        // e.g. one row from the mention path and one from the relation path) still
        // order identically at any parallelism
        struct(-col("_rank"), col("score"), col("subj"), col("obj"),
          col("profileId"), col("provenance"))).as("w"))
      .select(col("w.subj").as("subj"), col("pred"), col("w.obj").as("obj"),
        col("url"), col("begin"), col("end"),
        col("w.profileId").as("profileId"), col("w.score").as("score"),
        col("w.provenance").as("provenance"))
  }

  /**
   * Element-repeat ordinals — the reference's frame_instance_element_repeat
   * bookkeeping (/root/reference/src/msa/PopulateFrame.java:271-303): when one
   * (url, subj, pred) slot accepts several values, each occurrence gets its repeat
   * ordinal (0-based, document order). The window is partitioned per page — bounded
   * state, scale-safe.
   */
  def withElementRepeat(triples: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("url"), col("subj"), col("pred"))
      .orderBy(col("begin"), col("end"), col("obj"))
    triples.withColumn("element_repeat", row_number().over(w) - 1)
  }

  /**
   * Resumable write — the north rule's "resumable from checkpoint with per-partition
   * lineage". Over a complete record written without a fingerprint it returns that
   * record's lineage, writes nothing and starts no Spark job, and the record keeps the
   * counters of the commit that wrote it ([[record]]); otherwise it replaces the table
   * as [[write]] does. It is keyed by what wrote the record, not by the triples: a
   * table a fingerprinted commit wrote is replaced. `observeName` names the commit
   * write's `Observation`.
   */
  def writeResumable(triples: Dataset[Triple], path: String, nBuckets: Int = 16,
      observeName: Option[String] = None)(
      implicit spark: SparkSession): DataFrame =
    recorded(path, "").map(lineageOf(_, None))
      .getOrElse(replace(triples, path, nBuckets, observeName, fingerprint = None))

  /** The lineage of a table `fingerprint` has completely committed: its record
    * carries `fingerprint` and every bucket it lists still has its data. None
    * otherwise. A read of the record and ≤ nBuckets file probes; no Spark job. */
  private[graft] def committedLineage(path: String, fingerprint: String)(
      implicit spark: SparkSession): Option[DataFrame] =
    recorded(path, fingerprint).map(lineageOf(_, Some(fingerprint)))

  /** The one commit: drops the record, writes every bucket of `triples` in one static
    * overwrite of the table at `path`, then writes the record carrying `fingerprint`
    * (`""` without one). Returns the record's lineage. */
  private[graft] def replace(triples: Dataset[Triple], path: String, nBuckets: Int,
      observeName: Option[String], fingerprint: Option[String])(
      implicit spark: SparkSession): DataFrame = {
    // the record goes BEFORE the data it describes: a crash mid-write leaves nothing
    // trusted over rewritten data
    Fs.delete(path + "_checkpoints")
    val committed = written(bucketed(triples, nBuckets), path, nBuckets, observeName,
      fingerprint.getOrElse(""))
    Fs.writeRecord(recordPath(path), render(committed))
    lineageOf(committed, fingerprint)
  }

  /** Writes `df` partitioned by bucket over the table at `path` and returns the record
    * of what the write itself observed, in one `Observation` (named `observeName` when
    * given): per bucket its rows and hash (2 × nBuckets aggregates), and over the
    * whole written set the approximate distinct subjects and documents. */
  private def written(df: DataFrame, path: String, nBuckets: Int,
      observeName: Option[String], fingerprint: String)(
      implicit spark: SparkSession): Record = {
    val counts = observeName.fold(Observation())(Observation(_))
    val factHash = xxhash64(col("subj"), col("pred"), col("obj"))
    val perBucket = (0 until nBuckets).flatMap { b =>
      val in = col("bucket") === b
      Seq(count(when(in, 1)).as(s"rows_$b"),
        coalesce(bit_xor(when(in, factHash)), lit(0L)).as(s"hash_$b"))
    }
    df.observe(counts, approx_count_distinct(col("subj")).as("subjects_approx"),
        approx_count_distinct(col("url")).as("docs_approx") +: perBucket: _*)
      .write.mode("overwrite").partitionBy("bucket").parquet(path)
    val metrics = counts.get
    def metric(name: String) = metrics.getOrElse(name,
      sys.error(s"commit of $path: $name not observed")).asInstanceOf[Long]
    Record((0 until nBuckets).map(b => Bucket(b, metric(s"rows_$b"), metric(s"hash_$b")))
      .filter(_.rows > 0), System.currentTimeMillis(), metric("subjects_approx"),
      metric("docs_approx"), fingerprint)
  }

  /** The record under `path` when it is complete: it carries `fingerprint` and every
    * bucket it lists still has data. None otherwise: the record is trusted whole or
    * not at all, and only as far as the data it describes, never instead of it.
    * ≤ nBuckets file probes. */
  private def recorded(path: String, fingerprint: String)(
      implicit spark: SparkSession): Option[Record] =
    record(path).filter(r => r.fingerprint == fingerprint &&
      r.buckets.forall(b => Fs.parquetDataExists(s"$path/bucket=${b.bucket}")))

  /** The lineage of record `r` as a local relation, one row per bucket, each at the
    * commit's completion time: collecting it starts no job. */
  private def lineageOf(r: Record, fingerprint: Option[String])(
      implicit spark: SparkSession): DataFrame = {
    val at = new java.sql.Timestamp(r.completedAt)
    spark.createDataFrame(r.buckets.map(b => Row(b.bucket, b.rows, b.hash, "materialize",
      at, fingerprint.orNull)).asJava, LineageSchema)
  }
}
