package graft.sink

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
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
 * subject-bucketed so downstream per-entity reads prune partitions, and writes are
 * idempotent per bucket via dynamic partition overwrite (the parquet stand-in for
 * Iceberg's overwritePartitions; no Iceberg runtime ships in this sandbox).
 *
 * A `_checkpoints` side table records (bucket, rows, hash, stage, time, fingerprint):
 * a resumed run anti-joins completed buckets and rewrites only the rest —
 * per-partition lineage + metrics per the north rule. A resume trusts only the rows
 * its own fingerprint (or, without one, no fingerprint) wrote; a fingerprinted commit,
 * once complete, leaves a completion record there ([[committedLineage]]) that lets a
 * re-submission skip the job.
 *
 * The store is a plain directory (hive layout readable by any engine, no manifest
 * indirection) and this object is its only commit path: the job has one writer that
 * never appends, reads no older version, and rewrites every bucket it commits in
 * full, so a bucket never accumulates files to compact.
 */
object Materialize {

  /** Provenance precedence (lower = stronger): human-validated beats auto,
    * ref src/msa/PopulateFrame.java:168-192; unlisted provenances rank weakest. */
  private val ProvenanceRank: Map[String, Int] =
    Map(graft.model.Provenance.Gold -> 0, graft.model.Provenance.Propagated -> 1,
      graft.model.Provenance.Auto -> 2)

  private def rank: Column =
    ProvenanceRank.foldLeft(lit(Int.MaxValue)) { case (acc, (p, r)) =>
      when(col("provenance") === p, lit(r)).otherwise(acc)
    }

  /** Live counters over the FINAL (post-dedup) triple set, attached via
    * Dataset.observe when the caller names an observation — zero extra jobs; read
    * back through [[graft.runtime.MetricsCollector]]. */
  private def withCounters(df: DataFrame, name: Option[String]): DataFrame =
    name.fold(df)(n => df.observe(n,
      count(lit(1)).as("triples"),
      approx_count_distinct(col("subj")).as("subjects_approx"),
      approx_count_distinct(col("url")).as("docs_approx"),
      min(col("score")).as("min_score")))

  /** The bucket kernel: site precedence dedup, graph dedup, the bucket column
    * `pmod(xxhash64(subj), nBuckets)`, then (when named) the observed counters. Two
    * aligned shuffles: the site pass is url-keyed, the graph pass subj-keyed — both
    * reduce before the exchange. */
  private def bucketed(triples: Dataset[Triple], nBuckets: Int,
      observeName: Option[String])(implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    withCounters(dedup(dedupPrecedence(triples.toDF()).as[Triple]).toDF()
      .withColumn("bucket", pmod(xxhash64(col("subj")), lit(nBuckets)).cast("int")),
      observeName)
  }

  /** Per-bucket lineage of a bucketed write, stamped with the stage that wrote it and
    * when: (bucket, rows_out, output_hash, stage, completed_at). `output_hash` is the
    * order-insensitive identity of the bucket's facts: bit_xor of
    * xxhash64(subj, pred, obj), 0 when empty. */
  private def bucketLineage(bucketed: DataFrame, stage: String): DataFrame =
    bucketed.groupBy(col("bucket"))
      .agg(count(lit(1)).as("rows_out"),
        coalesce(expr("bit_xor(xxhash64(subj, pred, obj))"), lit(0L)).as("output_hash"))
      .withColumn("stage", lit(stage)).withColumn("completed_at", current_timestamp())

  /** Schema of the `_checkpoints` table. Reads name it, so probing the table starts no
    * schema-inference job; rows written without a fingerprint carry null. */
  private val LineageSchema = StructType(Seq(StructField("bucket", IntegerType),
    StructField("rows_out", LongType), StructField("output_hash", LongType),
    StructField("stage", StringType), StructField("completed_at", TimestampType),
    StructField("fingerprint", StringType)))

  /** The completion record a fingerprinted commit leaves under `_checkpoints` (a `_`
    * file, so parquet readers skip it): the buckets it covers on the first line, then
    * the fingerprint. */
  private val CompletionRecord = "_COMMITTED"

  /** Full write: every bucket of `triples` replaces the table at `path` (buckets
    * the new set does not touch are gone too), and its lineage replaces the
    * `_checkpoints` table, which is dropped before the data write. */
  def write(triples: Dataset[Triple], path: String, nBuckets: Int = 16,
      observeName: Option[String] = None)(
      implicit spark: SparkSession): DataFrame =
    commit(triples, path, nBuckets, observeName, resume = false, fingerprint = None)

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
   * Resumable write: consult the checkpoint table and (re)write ONLY buckets that have
   * no completed checkpoint row — the north rule's "resumable from checkpoint with
   * per-partition lineage": a crashed run leaves complete buckets' data + checkpoint
   * rows intact; the resumed run overwrites just the missing partitions (dynamic
   * partition overwrite, the parquet stand-in for Iceberg overwritePartitions) and
   * appends their lineage rows. Idempotent: a second resume with a complete checkpoint
   * table writes nothing. Only lineage rows written without a fingerprint are
   * trusted: a table a fingerprinted commit wrote is replaced as [[write]] does.
   */
  def writeResumable(triples: Dataset[Triple], path: String, nBuckets: Int = 16,
      observeName: Option[String] = None)(
      implicit spark: SparkSession): DataFrame =
    commit(triples, path, nBuckets, observeName, resume = true, fingerprint = None)

  /** [[writeResumable]] keyed by the run's `fingerprint`: every lineage row records
    * it, and only buckets whose latest row it wrote are trusted. A commit that trusts
    * none replaces the table as [[write]] does, so facts another fingerprint committed
    * never survive. Its last step writes the completion record [[committedLineage]]
    * checks. */
  private[graft] def writeResumable(triples: Dataset[Triple], path: String,
      nBuckets: Int, observeName: Option[String], fingerprint: String)(
      implicit spark: SparkSession): DataFrame =
    commit(triples, path, nBuckets, observeName, resume = true, Some(fingerprint))

  /** The latest-per-bucket lineage of a table `fingerprint` has completely committed:
    * its completion record names `fingerprint`, and every bucket it lists still has
    * its data partition and a latest lineage row of `fingerprint`. None otherwise.
    * Starts one small Spark job (the lineage probe); the view it returns is lazy. */
  private[graft] def committedLineage(path: String, fingerprint: String)(
      implicit spark: SparkSession): Option[DataFrame] = {
    val checkpoints = path + "_checkpoints"
    completionRecord(checkpoints).collect {
      case (fp, buckets) if fp == fingerprint &&
          buckets.toSet.subsetOf(trustedBuckets(checkpoints, path, Some(fp)).toSet) =>
        lineageView(checkpoints)
    }
  }

  /** The one plain-layout commit. A full write and a resume differ only in which
    * buckets they write and whether the lineage is replaced or appended to; a resume
    * that trusts no bucket replaces, as a full write does. Returns the latest lineage
    * row per bucket. */
  private def commit(triples: Dataset[Triple], path: String, nBuckets: Int,
      observeName: Option[String], resume: Boolean, fingerprint: Option[String])(
      implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val checkpoints = path + "_checkpoints"
    // counters observe the FULL canonical set (before the pending-bucket filter), so
    // a resumed run still reports what the job represents, not just what it rewrote.
    // persist: the bucketed result feeds the data write and the lineage aggregate;
    // without it the whole upstream pipeline recomputes per action
    val all = bucketed(triples, nBuckets, observeName)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val trusted = if (resume) trustedBuckets(checkpoints, path, fingerprint) else Nil
    val replace = trusted.isEmpty
    // a replace writes every bucket: no pending-bucket job
    val pending = if (replace) Nil
      else all.select(col("bucket")).distinct()
        .join(trusted.toDF("bucket"), Seq("bucket"), "left_anti")
        .collect().map(_.getInt(0)).toSeq // ≤ nBuckets rows
    val todo = if (replace) Some(all) else if (pending.isEmpty) None
      else Some(all.filter(col("bucket").isin(pending.map(Integer.valueOf): _*)))
    todo.foreach { df =>
      // the lineage that no longer holds goes BEFORE the data it describes: a crash
      // mid-write leaves nothing trusted over rewritten data
      Fs.delete(if (replace) checkpoints else s"$checkpoints/$CompletionRecord")
      df.write.mode("overwrite")
        .option("partitionOverwriteMode", if (replace) "static" else "dynamic")
        .partitionBy("bucket").parquet(path)
      bucketLineage(df, "materialize")
        .withColumn("fingerprint", lit(fingerprint.orNull).cast(StringType))
        .write.mode(if (replace) "overwrite" else "append").parquet(checkpoints)
    }
    // a replace lists the buckets its static overwrite left under `path`
    fingerprint.foreach(fp => writeCompletionRecord(checkpoints, fp,
      if (replace) bucketPartitions(path) else (trusted ++ pending).distinct.sorted))
    all.unpersist()
    lineageView(checkpoints)
  }

  /** The FILE is append-only lineage on resume (a re-verified bucket appends a fresh
    * row); the view is one row per bucket — the latest — so downstream sums never
    * double-count a rewritten bucket. Only a never-written table (an EMPTY first
    * resume) reads as empty: a transient FS error or corrupt checkpoint file must
    * PROPAGATE, not masquerade as "nothing completed". */
  private def lineageView(checkpoints: String)(implicit spark: SparkSession): DataFrame =
    if (Fs.parquetDataExists(checkpoints)) {
      val rest = LineageSchema.fieldNames.toSeq.filterNot(_ == "bucket")
      spark.read.schema(LineageSchema).parquet(checkpoints).groupBy(col("bucket"))
        .agg(max_by(struct(rest.map(col): _*), col("completed_at")).as("w"))
        .select(col("bucket") +: rest.map(c => col(s"w.$c").as(c)): _*)
    } else spark.createDataFrame(java.util.Collections.emptyList[Row](), LineageSchema)

  /** Buckets a resume trusts: those whose latest lineage row `fingerprint` wrote (with
    * None, a row written without one) and whose data partition under `dataPath` is
    * still there. A bucket whose data VANISHED (external deletion, FS loss — the
    * lineage row is written after the data, so a crash can't produce this) is not
    * trusted: the lineage is trusted only as far as the data it describes, never
    * instead of it. ≤ nBuckets FS probes. */
  private def trustedBuckets(checkpointPath: String, dataPath: String,
      fingerprint: Option[String])(implicit spark: SparkSession): Seq[Int] =
    if (!Fs.parquetDataExists(checkpointPath)) Nil
    else {
      // a few rows per commit — driver-safe
      val rows = spark.read.schema(LineageSchema).parquet(checkpointPath)
        .select(col("bucket"), col("fingerprint"), unix_micros(col("completed_at")))
        .collect().toSeq
      rows.groupBy(_.getInt(0)).collect {
        case (b, rs) if Option(rs.maxBy(_.getLong(2)).getString(1)) == fingerprint &&
            Fs.parquetDataExists(s"$dataPath/bucket=$b") => b
      }.toSeq
    }

  /** The buckets whose `bucket=N` partition is under `dataPath`, sorted: one listing
    * of ≤ nBuckets entries. */
  private def bucketPartitions(dataPath: String)(implicit spark: SparkSession): Seq[Int] =
    Fs.childNames(dataPath).collect {
      case n if n.startsWith("bucket=") => n.stripPrefix("bucket=").toInt
    }.sorted

  /** The (fingerprint, buckets) of the completion record under `checkpoints`, if
    * any. */
  private def completionRecord(checkpoints: String)(
      implicit spark: SparkSession): Option[(String, Seq[Int])] =
    Fs.readRecord(s"$checkpoints/$CompletionRecord").map { text =>
      val nl = text.indexOf('\n')
      text.substring(nl + 1) ->
        text.substring(0, nl).split(',').filter(_.nonEmpty).map(_.toInt).toSeq
    }

  /** Writes the completion record whole ([[Fs.writeRecord]]). */
  private def writeCompletionRecord(checkpoints: String, fingerprint: String,
      buckets: Seq[Int])(implicit spark: SparkSession): Unit =
    Fs.writeRecord(s"$checkpoints/$CompletionRecord",
      buckets.mkString(",") + "\n" + fingerprint)
}
