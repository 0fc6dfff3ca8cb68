package graft.runtime

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Per-stage checkpoint + lineage: the generalized form of the reference's
 * document_status state machine (/root/reference/sql/utilities-sqlserver.sql:1-2,
 * src/msa/IEDriver.java:441-450,1287-1310) for a multi-stage Spark job — the north
 * rule's "every stage checkpoints per-partition lineage and counters so runs resume
 * idempotently".
 *
 * `materialize(name, fingerprint)(stage)` runs the stage ONCE per (name, fingerprint):
 *  - first run: computes the stage DataFrame, writes it to `<base>/<name>` (parquet),
 *    writes per-partition lineage `(stage, part, rows)` + the fingerprint to
 *    `<base>/<name>__lineage`, and returns the written data re-read (which also
 *    truncates the logical plan, like the reference's per-stage tables);
 *  - resumed run with the SAME fingerprint: skips compute entirely and reads the
 *    stage output back — a crashed pipeline restarts at its first incomplete stage;
 *  - changed fingerprint (different input/config): recomputes and overwrites.
 *
 * The fingerprint is caller-supplied (input path + config rendering); content hashes
 * of big inputs are the caller's choice of rigor. Writes are atomic at stage
 * granularity: the old lineage is dropped BEFORE the data is overwritten and the new
 * one (with the fingerprint) committed only AFTER the data write succeeds, so a
 * half-written stage is recomputed on resume, whichever fingerprint resumes it.
 */
final class StageCheckpoint(base: String)(implicit spark: SparkSession) {

  private def dataPath(name: String) = s"$base/$name"
  private def lineagePath(name: String) = s"$base/${name}__lineage"

  /** The fingerprint last committed for a stage, if any. The not-yet-created lineage
    * dir is probed explicitly (same discipline as Materialize's lineage reads): only
    * the legitimate "never ran" state reads as None — a transient FS error or a
    * corrupt lineage file PROPAGATES instead of silently forcing a full recompute.
    * The lineage is trusted only as far as the data it describes: a stage whose data
    * files are gone reads as None too (an empty stage still writes a schema-only
    * part file). */
  def committedFingerprint(name: String): Option[String] =
    if (!graft.util.Fs.parquetDataExists(lineagePath(name))) None
    else spark.read.parquet(lineagePath(name))
      .select(col("fingerprint")).head(1).headOption.map(_.getString(0))
      .filter(_ => graft.util.Fs.parquetDataExists(dataPath(name)))

  /** Per-partition lineage rows of a completed stage. */
  def lineage(name: String): DataFrame = spark.read.parquet(lineagePath(name))

  def materialize(name: String, fingerprint: String)(stage: => DataFrame): DataFrame = {
    if (committedFingerprint(name).contains(fingerprint)) {
      spark.read.parquet(dataPath(name))
    } else {
      val t0 = System.nanoTime()
      val df = stage
      // the overwrite deletes the old data first: drop the old lineage before it, so a
      // crash mid-write leaves the stage "never ran", not committed over deleted data
      val lineageDir = new org.apache.hadoop.fs.Path(lineagePath(name))
      lineageDir.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(lineageDir, true)
      df.write.mode("overwrite").parquet(dataPath(name))
      val written = spark.read.parquet(dataPath(name))
      // per-partition lineage + stage counters (rows_total, wall_ms): the north rule's
      // "per-partition lineage and counters", queryable after the run via lineage(name).
      // The partial table is one row per partition — persist it, total it with a plain
      // aggregate (a window over a constant key would constant-fold to an unpartitioned
      // window), stamp every lineage row with the stage counters.
      val parts1 = written.groupBy(spark_partition_id().as("part"))
        .agg(count(lit(1)).as("rows"))
        .persist()
      val total = parts1.agg(coalesce(sum(col("rows")), lit(0L))).head().getLong(0)
      // an EMPTY stage output has zero per-partition rows — commit a sentinel lineage
      // row anyway, or the fingerprint never reads back and every resume recomputes
      // this stage (and everything downstream) despite the data being committed
      val parts0 = if (total > 0) parts1
        else spark.range(1).select(lit(-1).cast("int").as("part"), lit(0L).as("rows"))
      val parts = parts0
        .withColumn("stage", lit(name))
        .withColumn("fingerprint", lit(fingerprint))
        .withColumn("rows_total", lit(total))
        .withColumn("wall_ms", lit((System.nanoTime() - t0) / 1000000L))
        .withColumn("completed_at", current_timestamp())
      parts.write.mode("overwrite").parquet(lineagePath(name))
      parts1.unpersist()
      written
    }
  }

  /** True when a stage's data files would be reused for this fingerprint. */
  def wouldResume(name: String, fingerprint: String): Boolean =
    committedFingerprint(name).contains(fingerprint)
}

object StageCheckpoint {
  def apply(base: String)(implicit spark: SparkSession): StageCheckpoint = {
    Files.createDirectories(Paths.get(base))
    new StageCheckpoint(base)
  }
}
