package graft.runtime

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.types.{DataType, StructType}
import graft.util.Fs

/**
 * Per-stage checkpoint: the generalized form of the reference's document_status state
 * machine (/root/reference/sql/utilities-sqlserver.sql:1-2,
 * src/msa/IEDriver.java:441-450,1287-1310) for a multi-stage Spark job.
 *
 * `materialize(name, fingerprint)(stage)` runs the stage ONCE per (name, fingerprint):
 *  - first run or changed fingerprint: computes the stage, writes it to `<base>/<name>`
 *    (parquet) with an observation counting its rows, then commits the record
 *    `<base>/<name>__lineage/_COMMITTED` ([[StageCheckpoint.Lineage]]) — the same
 *    whole-file commit [[graft.sink.Materialize]] leaves for its output;
 *  - resumed run with the SAME fingerprint: skips compute entirely.
 * Either way it returns the data read back with the recorded schema (a truncated
 * plan, and no schema-inference job).
 *
 * The fingerprint is caller-supplied (input path + config rendering); content hashes
 * of big inputs are the caller's choice of rigor. Writes are atomic at stage
 * granularity: the old record is dropped BEFORE the data is overwritten and the new
 * one committed only AFTER the data write succeeds, so a half-written stage is
 * recomputed on resume, whichever fingerprint resumes it.
 */
final class StageCheckpoint(base: String)(implicit spark: SparkSession) {

  private def dataPath(name: String) = s"$base/$name"
  private def lineagePath(name: String) = s"$base/${name}__lineage"
  // inside the lineage directory: the local file system writes a `.crc` beside it
  private def recordPath(name: String) = s"${lineagePath(name)}/_COMMITTED"

  /** The record a stage last committed, if any. Only the legitimate "never ran" state
    * (no record) reads as None — a corrupt record PROPAGATES instead of silently
    * forcing a full recompute. The record is trusted only as far as the data it
    * describes: a stage whose data files are gone reads as None too (an empty stage
    * still writes a schema-only part file). */
  def lineage(name: String): Option[StageCheckpoint.Lineage] =
    Fs.readRecord(recordPath(name)).map(StageCheckpoint.Lineage.parse(name, _))
      .filter(_ => Fs.parquetDataExists(dataPath(name)))

  def materialize(name: String, fingerprint: String)(stage: => DataFrame): DataFrame = {
    val schema = lineage(name).filter(_.fingerprint == fingerprint)
      .fold(commit(name, fingerprint, stage))(_.schema)
    spark.read.schema(schema).parquet(dataPath(name))
  }

  /** Writes a stage, then its record; returns the written schema. */
  private def commit(name: String, fingerprint: String, stage: => DataFrame) = {
    val t0 = System.nanoTime()
    val df = stage
    // the overwrite deletes the old data first: drop the old record before it, so a
    // crash mid-write leaves the stage "never ran", not committed over deleted data
    Fs.delete(lineagePath(name))
    val rows = Observation()
    df.observe(rows, count(lit(1)).as("rows")).write.mode("overwrite")
      .parquet(dataPath(name))
    val lin = StageCheckpoint.Lineage(name, fingerprint,
      rows.get.getOrElse("rows", sys.error(s"stage $name: row count not observed"))
        .asInstanceOf[Long],
      (System.nanoTime() - t0) / 1000000L, System.currentTimeMillis(), df.schema)
    Fs.writeRecord(recordPath(name), lin.render)
    lin.schema
  }

  /** True when a stage's data files would be reused for this fingerprint. */
  def wouldResume(name: String, fingerprint: String): Boolean =
    lineage(name).exists(_.fingerprint == fingerprint)
}

object StageCheckpoint {
  /** A missing `base` reads as "no stage ran"; the first stage write creates it. */
  def apply(base: String)(implicit spark: SparkSession): StageCheckpoint =
    new StageCheckpoint(base)

  /** A stage's commit record: `rowsTotal` is the count its data write observed,
    * `completedAt` epoch milliseconds. */
  final case class Lineage(stage: String, fingerprint: String, rowsTotal: Long,
      wallMs: Long, completedAt: Long, schema: StructType) {
    /** One field per line; the fingerprint last, so any string round-trips. */
    def render: String = Seq(rowsTotal, wallMs, completedAt, schema.json, fingerprint)
      .mkString("\n")
  }

  object Lineage {
    def parse(stage: String, text: String): Lineage = text.split("\n", 5) match {
      case Array(rows, wallMs, at, schema, fp) => Lineage(stage, fp, rows.toLong,
        wallMs.toLong, at.toLong, DataType.fromJson(schema).asInstanceOf[StructType])
      case _ => throw new java.io.IOException(s"corrupt commit record of stage $stage")
    }
  }
}
