package graft.util

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

object Fs {

  /** Does `path` exist on disk WITH at least one committed parquet data file?
    * A crash during a first write can leave the directory present but empty (only
    * `_temporary`/markers) — that is the legitimate "nothing committed" state, not a
    * readable table. The probe is explicit so genuine read failures on a real table
    * are NOT caught at any checkpoint/lineage call site (shared by
    * [[graft.sink.Materialize]] and [[graft.runtime.StageCheckpoint]]). */
  def parquetDataExists(path: String)(implicit spark: SparkSession): Boolean = {
    val (fs, p) = fsPath(path)
    fs.exists(p) && fs.listStatus(p).exists { st =>
      val n = st.getPath.getName
      st.isFile && n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
    }
  }

  /** The text of the commit record at `path`, None when there is none. A record is
    * written whole ([[writeRecord]]), so a present one is never half-written: a
    * caller that cannot parse it has a corrupt record, not a crashed commit. */
  def readRecord(path: String)(implicit spark: SparkSession): Option[String] = {
    val (fs, p) = fsPath(path)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), UTF_8)) finally in.close()
    }
  }

  /** Writes a commit record whole: to a `.inprogress` temp file beside it, then
    * renamed over the old one. Commit records (`Materialize`'s `_RECORD`
    * and `StageCheckpoint`'s `_COMMITTED`) are written after the data they vouch for. */
  def writeRecord(path: String, text: String)(implicit spark: SparkSession): Unit = {
    val (fs, p) = fsPath(path)
    val tmp = new Path(s"$path.inprogress")
    val out = fs.create(tmp, true)
    try out.write(text.getBytes(UTF_8)) finally out.close()
    fs.delete(p, false)
    if (!fs.rename(tmp, p)) throw new java.io.IOException(s"cannot commit $p")
  }

  /** Deletes `path` and everything under it; a missing path is a no-op. */
  def delete(path: String)(implicit spark: SparkSession): Unit = {
    val (fs, p) = fsPath(path)
    fs.delete(p, true)
  }

  private def fsPath(path: String)(implicit spark: SparkSession): (FileSystem, Path) = {
    val p = new Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }
}
