package graft
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json (the oracles of the queries it ran), for the driver's
  * DuckDB compare. A query that throws leaves no output directory; the others are
  * still written, then the run exits 1 naming every failed query. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query-name filter (local iteration only)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    implicit val spark: org.apache.spark.sql.SparkSession = graft.util.Sessions.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt, "graft-verify")
    new java.io.File(outDir).mkdirs()
    val ran = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val failed = ran.flatMap { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        // repartition(1), not coalesce(1): coalesce collapses the whole upstream
        // computation into one task; repartition keeps it parallel and only the
        // write is single-file.
        fn(spark, sfDir).repartition(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        System.err.println(f"[verify] $name ok in ${(System.nanoTime() - t0) / 1e9}%.1fs")
        None
      } catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: $e")
        // no output for a failed query: a stale or partial one would compare as if
        // it had run
        graft.util.Fs.delete(s"$outDir/$name")
        Some(name)
      }
    }
    SparkEntry.clearFixtures()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val ranNames = ran.map(_._1).toSet
    val json = SparkEntry.oracleSql.filter { case (k, _) => ranNames(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(
        s"[verify] ${failed.size} queries failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
