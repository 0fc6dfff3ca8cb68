package graft.sink

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.model.{Annotation, Pattern, PatternMatch}

/**
 * Side-table sinks — the reference's annotation / profile / match-index writers
 * re-expressed as columnar bulk writes (replacing row-at-a-time batched JDBC):
 *
 *  S6  Annotation sink (ref /root/reference/src/gate/GateBatch.java:273-275,444-460;
 *      1000-row JDBC batches) → partition-parallel parquet append.
 *  S7  Profile sink with upsert semantics (ref src/msa/ProfileWriter.java:30-41:
 *      insert-or-update keyed on (profile, type, group, annotation_type)) → read +
 *      union + keep-newest window, atomic overwrite — the parquet stand-in for
 *      Iceberg `MERGE INTO`.
 *  S8  Match-index sink (ref src/msa/MatchWriter.java:20-76) → plain append.
 */
object Stores {

  /** S6: append annotations, partitioned by annotType so per-type readers
    * (e.g. the sentence grouper reading only Token/Sentence/Lookup) prune partitions. */
  def appendAnnotations(annots: Dataset[Annotation], path: String): Unit =
    annots.toDF().write.mode("append").partitionBy("annotType").parquet(path)

  /** S8: append match occurrences (the reference's `index` table). */
  def appendMatches(matches: Dataset[PatternMatch], path: String): Unit =
    matches.toDF().write.mode("append").parquet(path)

  /**
   * S7: upsert patterns keyed by (annotType, toks, group): a new row replaces an
   * existing row with the same key (newest stats win); unmatched existing rows are
   * kept. The post-gate pattern store is small by construction, so the merged result
   * is collected to the driver and rewritten in place (the parquet stand-in for
   * Iceberg MERGE INTO; a real deployment swaps this for the Iceberg call).
   */
  def upsertPatterns(newPatterns: Dataset[Pattern], path: String)(
      implicit spark: SparkSession): Dataset[Pattern] = {
    import spark.implicits._
    // only a store never written reads as empty: a failed read of an existing store
    // propagates before the rewrite below could replace it
    val existing: DataFrame =
      (if (graft.util.Fs.parquetDataExists(path)) spark.read.parquet(path)
       else spark.emptyDataset[Pattern].toDF()).withColumn("gen", lit(0))
    val merged = existing.unionByName(newPatterns.toDF().withColumn("gen", lit(1)))
      // partition the window by the key columns directly: no string-built merge key,
      // so distinct (annotType, toks, group) tuples can never collide
      .withColumn("rn", row_number().over(
        Window.partitionBy($"annotType", $"toks", $"group")
          .orderBy($"gen".desc, $"profileId".asc)))
      .filter($"rn" === 1).drop("rn", "gen")
      .as[Pattern]
    val staged = merged.collect() // pattern store is small by construction (post-gate)
    val out = spark.createDataset(staged.toIndexedSeq)
    out.toDF().repartition(1).write.mode("overwrite").parquet(path)
    spark.read.parquet(path).as[Pattern]
  }
}
