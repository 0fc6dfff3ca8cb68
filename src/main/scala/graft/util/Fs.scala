package graft.util

import org.apache.spark.sql.SparkSession

object Fs {

  /** Does `path` exist on disk WITH at least one committed parquet data file?
    * A crash during a first write can leave the directory present but empty (only
    * `_temporary`/markers) — that is the legitimate "nothing committed" state, not a
    * readable table. The probe is explicit so genuine read failures on a real table
    * are NOT caught at any checkpoint/lineage call site (shared by
    * [[graft.sink.Materialize]] and [[graft.runtime.StageCheckpoint]]). */
  def parquetDataExists(path: String)(implicit spark: SparkSession): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p).exists { st =>
      val n = st.getPath.getName
      st.isFile && n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
    }
  }
}
