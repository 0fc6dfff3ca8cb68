package graft.sink

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Triple

/**
 * The UNIFIED triple store: [[Materialize]]'s subject-bucketed, resumable write
 * semantics (its bucket kernel, lineage aggregate and lineage view) routed through
 * [[SnapshotStore]]'s manifest commit protocol — ONE commit path giving the triple
 * store snapshot isolation, time travel, vacuum, resumable writes, AND compaction;
 * [[compact]] is the only compactor.
 *
 * Layout (the Iceberg shape, minus the catalog the sandbox cannot ship):
 *   root/manifests/v%06d.json   — snapshot manifests, one BUCKET-GRANULAR entry
 *                                 per line: `<token>/bucket=N`
 *   root/data/<token>/bucket=N/ — staged parquet; invisible until a manifest
 *                                 references it
 *   root/_lineage/              — append-only (bucket, rows_out, output_hash,
 *                                 stage, completed_at, version) rows: the
 *                                 checkpoint-table READER VIEW (metrics/audit),
 *                                 never consulted for commit decisions — the
 *                                 manifest is the single source of truth
 *
 * Crash safety falls out of the protocol: there are NO renames anywhere — a
 * writer or compactor that dies mid-stage leaves an unreferenced dir that
 * vacuum() collects; readers resolve one manifest version and read exactly its
 * dirs, so a torn write or half-finished compaction is never observable.
 * Compaction replaces a bucket's entries under a compare-and-swap validation
 * (see [[SnapshotStore.commitPaths]]): a racing writer that rewrote the same
 * bucket between the compactor's read and its commit aborts the compaction
 * instead of being silently undone.
 *
 * At 100 TB: same scale shape as Materialize — writes shuffle once on the
 * dedup keys, data lands bucket-partitioned for downstream pruning, compaction
 * is per-bucket bin-packing. The manifest is O(buckets + commits) lines and
 * compaction trims it.
 */
final class TripleStore(val root: String, nBuckets: Int = 16)(
    implicit spark: SparkSession) {

  val store = new SnapshotStore(root)
  private val lineageDir = s"$root/_lineage"

  private def bucketOf(entry: String): Int =
    entry.split('/').last.stripPrefix("bucket=").toInt

  /** Buckets the latest snapshot considers committed — verified against the data
    * they describe (a manifest entry whose dir vanished to external deletion is
    * treated as NOT committed, as Materialize's resumable commit treats it). */
  def committedBuckets(version: Option[Long] = None): Set[Int] =
    entries(version).filter(e => Files.exists(Paths.get(store.stagePath(e))))
      .map(bucketOf).toSet

  private def entries(version: Option[Long] = None): Seq[String] =
    version.orElse(store.latestVersion).map(store.snapshot).getOrElse(Nil)

  /** Read snapshot `version` (default latest; empty store → empty triple table).
    * One subplan per bucket (≤ nBuckets), each a multi-path parquet scan. */
  def read(version: Option[Long] = None): DataFrame = {
    val byBucket = entries(version)
      .filter(e => Files.exists(Paths.get(store.stagePath(e))))
      .groupBy(bucketOf)
    if (byBucket.isEmpty) {
      import spark.implicits._
      Seq.empty[Triple].toDF().withColumn("bucket", lit(0).cast("int"))
    } else {
      byBucket.toSeq.sortBy(_._1).map { case (b, es) =>
        spark.read.parquet(es.map(store.stagePath): _*)
          .withColumn("bucket", lit(b).cast("int"))
      }.reduce(_ unionByName _)
    }
  }

  private def appendLineage(rows: DataFrame, stage: String, version: Long): Unit =
    Materialize.stamped(rows, stage)
      .withColumn("version", lit(version))
      .write.mode("append").parquet(lineageDir)

  /** The checkpoint-table reader view: append-only lineage rows, or (default)
    * one latest row per bucket. */
  def lineage(latestPerBucket: Boolean = true): DataFrame =
    if (!graft.util.Fs.parquetDataExists(lineageDir))
      Materialize.emptyLineage.withColumn("version", lit(0L))
    else {
      val tbl = spark.read.parquet(lineageDir)
      if (!latestPerBucket) tbl
      else Materialize.latestPerBucket(tbl, struct(col("version"), col("completed_at")))
    }

  /**
   * Resumable write through the manifest protocol: dedup + bucket the canonical
   * triple set, stage ONLY the buckets the latest snapshot does not already
   * commit (or whose data vanished), and publish them in one atomic manifest
   * commit. Identical resume semantics to Materialize.writeResumable — a crashed
   * run's committed buckets survive, the resumed run stages just the rest — but
   * a reader can never observe the store between buckets: it sees the pre-write
   * snapshot until the single commit lands.
   *
   * @return the latest-per-bucket lineage view (the writeResumable contract).
   */
  def writeResumable(triples: Dataset[Triple],
      observeName: Option[String] = None): DataFrame = {
    val bucketed = Materialize.bucketed(triples, nBuckets, observeName)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val have = committedBuckets()
      val stale = entries().map(bucketOf).toSet -- have // vanished-data entries
      val pending = bucketed.select(col("bucket")).distinct()
        .collect().map(_.getInt(0)).filterNot(have).sorted // ≤ nBuckets rows
      if (pending.nonEmpty) {
        val token = java.util.UUID.randomUUID().toString
        val todo = bucketed
          .filter(col("bucket").isin(pending.map(Integer.valueOf): _*))
        todo.write.partitionBy("bucket").parquet(store.stagePath(token))
        val pendingSet = pending.toSet
        val v = store.commitPaths(
          pending.map(b => s"$token/bucket=$b"),
          // drop stale entries for buckets being (re)written — the vanished-data
          // rewrite replaces, never duplicates
          drop = e => pendingSet(bucketOf(e)) && stale(bucketOf(e)))
          .getOrElse(sys.error("writeResumable: commit validation cannot fail"))
        appendLineage(Materialize.bucketLineage(todo), "materialize", v)
      }
    } finally bucketed.unpersist(blocking = false)
    lineage()
  }

  /** Incremental append: bucket the delta and publish it as one atomic commit —
    * the continuous-ingest path that fragments buckets over time (each append adds
    * one entry per touched bucket), which [[compact]] then bin-packs. The delta is
    * stored as given, without any dedup: the deduplicating write path is
    * [[writeResumable]]. */
  def append(triples: Dataset[Triple]): Long = {
    val bucketed = Materialize.withBucket(triples, nBuckets)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val bs = bucketed.select(col("bucket")).distinct()
        .collect().map(_.getInt(0)).sorted // ≤ nBuckets rows
      if (bs.isEmpty) store.latestVersion.getOrElse(0L)
      else {
        val token = java.util.UUID.randomUUID().toString
        bucketed.write.partitionBy("bucket").parquet(store.stagePath(token))
        val v = store.commitPaths(bs.map(b => s"$token/bucket=$b"))
          .getOrElse(sys.error("append: unvalidated commit cannot be rejected"))
        appendLineage(Materialize.bucketLineage(bucketed), "append", v)
        v
      }
    } finally bucketed.unpersist(blocking = false)
  }

  /**
   * Per-bucket bin-packing compaction through the SAME commit path (the
   * `rewrite_data_files` analog): for every bucket whose entry count or file
   * count exceeds the packed target, read exactly the entries the latest
   * snapshot lists, rewrite them as one staged dir, verify content identity
   * (count + order-insensitive full-row hash), and swap the bucket's entries in
   * one validated manifest commit. A concurrent writer that replaced the bucket
   * in between fails the compare-and-swap and the bucket is skipped (retry on
   * the next maintenance run) — never lost.
   *
   * @return one row per rewritten bucket (bucket, entries_before, files_before,
   *         files_after, rows_out, output_hash).
   */
  def compact(targetFileBytes: Long = 128L * 1024 * 1024): DataFrame = {
    import spark.implicits._
    val byBucket = entries().groupBy(bucketOf).toSeq.sortBy(_._1)
    val rewritten = byBucket.flatMap { case (b, es) =>
      val dirs = es.map(store.stagePath).filter(d => Files.exists(Paths.get(d)))
      if (dirs.isEmpty) None
      else {
        val files = dirs.flatMap { d =>
          val s = Files.list(Paths.get(d))
          try s.iterator().asScala.toSeq.filter { p =>
            val n = p.getFileName.toString
            Files.isRegularFile(p) && n.endsWith(".parquet") && !n.startsWith("_") &&
              !n.startsWith(".")
          } finally s.close()
        }
        val totalBytes = files.map(Files.size(_)).sum
        val packed =
          math.max(1L, (totalBytes + targetFileBytes - 1) / targetFileBytes).toInt
        if (dirs.length <= 1 && files.length <= packed) None
        else {
          def identity(paths: Seq[String]): (Long, Long, Long) = {
            val df = spark.read.parquet(paths: _*)
            val r = df.agg(count(lit(1)),
              coalesce(
                expr(s"bit_xor(xxhash64(${df.columns.sorted.mkString(", ")}))"),
                lit(0L)),
              Materialize.factHash).head()
            (r.getLong(0), r.getLong(1), r.getLong(2))
          }
          val before = identity(dirs)
          val token = java.util.UUID.randomUUID().toString
          val entry = s"$token/bucket=$b"
          spark.read.parquet(dirs: _*).coalesce(packed)
            .write.parquet(store.stagePath(entry))
          val after = identity(Seq(store.stagePath(entry)))
          require(before == after,
            s"compact: content identity changed for bucket $b " +
              s"(before=$before after=$after) — rewrite aborted, original intact")
          val expected = es.toSet
          store.commitPaths(Seq(entry),
            drop = e => bucketOf(e) == b,
            // CAS: only swap if the bucket's entries are STILL the ones rewritten
            validateReplaced = replaced => replaced.toSet == expected) match {
            case Some(v) =>
              val filesAfter = {
                val s = Files.list(Paths.get(store.stagePath(entry)))
                try s.iterator().asScala.count { p =>
                  val n = p.getFileName.toString
                  Files.isRegularFile(p) && n.endsWith(".parquet") &&
                    !n.startsWith("_") && !n.startsWith(".")
                } finally s.close()
              }
              Some((b, es.length, files.length, filesAfter, before._1, before._3, v))
            case None => None // lost the CAS to a racing writer — skip, retry later
          }
        }
      }
    }
    if (rewritten.nonEmpty) {
      val v = rewritten.map(_._7).max
      appendLineage(
        rewritten.map { case (b, _, _, _, rows, h, _) => (b, rows, h) }
          .toDF("bucket", "rows_out", "output_hash"), "compact", v)
    }
    rewritten.map { case (b, eb, fb, fa, rows, h, _) => (b, eb, fb, fa, rows, h) }
      .toDF("bucket", "entries_before", "files_before", "files_after",
        "rows_out", "output_hash")
  }
}
