package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.model.Triple
import graft.sink.Materialize

/** The checkpointed resumable triple write and the annotation caps. */
class SourcesSinksSpec extends AnyFunSuite with SparkTest {

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft_ss").toString

  test("P4: annotation value capped at 500 chars (ref GateBatch value cap)") {
    val long = "x" * 1200
    assert(graft.nlp.Tokenizer.safeValue(long, 0, 1200).length === 500)
    val annots = graft.nlp.Tokenizer.annotate("u", long, graft.nlp.Tokenizer.scan(long))
    assert(annots.filter(_.annotType == "Token").forall(_.value.length <= 500))
  }

  test("P7 cleanDocs: trim + whitespace-collapse rewrite (golden)") {
    import spark.implicits._
    val docs = Seq(
      (1L, "  hello   world \t two\n\nlines  "),
      (2L, "already clean"),
      (3L, "   "),
      (4L, "\t\ntab and newline edged\n\t")).toDF("doc_id", "text")
    val got = graft.ingest.Normalize.cleanDocs(docs, "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got(1L) === "hello world two lines")
    assert(got(2L) === "already clean")
    assert(got(3L) === "")
    assert(got(4L) === "tab and newline edged")
    // trim-only mode reproduces the reference's exact CleanDocs transform
    // (String.trim strips every char <= U+0020 — tabs and newlines too, which
    // Spark's space-only trim() would have left in place)
    val trimOnly = graft.ingest.Normalize.cleanDocs(docs, "text",
      collapseWhitespace = false).collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(trimOnly(1L) === "hello   world \t two\n\nlines")
    assert(trimOnly(4L) === "tab and newline edged")
  }

  test("precedence dedup: validated supersedes auto at the same site, whatever the score") {
    import spark.implicits._
    val rows = Seq(
      // same site (url, pred, begin, end): auto has the HIGHER score but validated wins
      ("AutoCo", "founded", "1999", "u1", 10, 14, 7L, 0.99, "msa-ie"),
      ("GoldCo", "founded", "1998", "u1", 10, 14, -1L, 0.50, "validation-tool"),
      // equal provenance rank: best score wins, atomically
      ("A", "ceo", "alice", "u2", 0, 5, 1L, 0.6, "msa-ie"),
      ("B", "ceo", "bob", "u2", 0, 5, 2L, 0.9, "msa-ie"),
      // unlisted provenance ranks weakest
      ("C", "hq", "nyc", "u3", 0, 3, 3L, 1.0, "mystery"),
      ("D", "hq", "sfo", "u3", 0, 3, 4L, 0.1, "msa-ie"))
      .toDF("subj", "pred", "obj", "url", "begin", "end", "profileId", "score",
        "provenance")
    val got = Materialize.dedupPrecedence(rows).collect()
      .map(r => (r.getAs[String]("url"), r.getAs[String]("subj"),
        r.getAs[String]("obj"), r.getAs[String]("provenance"))).toSet
    assert(got === Set(
      ("u1", "GoldCo", "1998", "validation-tool"),
      ("u2", "B", "bob", "msa-ie"),
      ("u3", "D", "sfo", "msa-ie")))
  }

  test("write: validated evidence supersedes auto through the FULL sink path") {
    import spark.implicits._
    import graft.model.Provenance
    val path = tmpDir() + "/prec_write"
    val triples = spark.createDataset(Seq(
      // same site, auto scores higher — the validated row must still win the site
      Triple("AutoCo", "founded", "1999", "u1", 10, 14, 7L, 0.99, Provenance.Auto),
      Triple("GoldCo", "founded", "1998", "u1", 10, 14, -1L, 0.50, Provenance.Gold),
      // same (subj,pred,obj) at two sites, gold + auto: surviving evidence row
      // must be the validated one (atomic winner, not a score argmax)
      Triple("Acme", "hq", "Gotham", "u2", 0, 6, 9L, 0.97, Provenance.Auto),
      Triple("Acme", "hq", "Gotham", "u3", 5, 11, -1L, 0.60, Provenance.Gold)))
    Materialize.write(triples, path, 4)
    val back = spark.read.parquet(path)
      .select("subj", "pred", "obj", "url", "score", "provenance").collect()
      .map(r => (r.getString(0), r.getString(2), r.getString(3), r.getString(5))).toSet
    assert(back === Set(
      ("GoldCo", "1998", "u1", Provenance.Gold),
      ("Acme", "Gotham", "u3", Provenance.Gold)),
      s"precedence did not survive the sink path: $back")
  }

  test("element-repeat ordinals per (url, subj, pred) slot in document order") {
    import spark.implicits._
    val rows = Seq(
      ("S", "founder", "x", "u1", 5, 6, 1L, 1.0),
      ("S", "founder", "y", "u1", 2, 3, 1L, 1.0),
      ("S", "other", "z", "u1", 0, 1, 1L, 1.0))
      .toDF("subj", "pred", "obj", "url", "begin", "end", "profileId", "score")
    val got = Materialize.withElementRepeat(rows).collect()
      .map(r => (r.getAs[String]("obj"), r.getAs[Int]("element_repeat"))).toSet
    assert(got === Set(("y", 0), ("x", 1), ("z", 0)))
  }

  test("resumable materialize on an EMPTY triple set returns an empty checkpoint table") {
    import spark.implicits._
    val path = tmpDir() + "/empty_triples"
    val cps = Materialize.writeResumable(spark.emptyDataset[Triple], path, 4)
    assert(cps.count() === 0) // no PATH_NOT_FOUND; schema present
    assert(cps.columns.contains("bucket") && cps.columns.contains("output_hash"))
  }

  test("resumable materialize: a resume over lost buckets rewrites every bucket") {
    import spark.implicits._
    val dir = tmpDir()
    val path = dir + "/triples"
    val triples = spark.createDataset((0 until 200).map(i =>
      Triple(s"subj$i", "p", s"o$i", s"https://x/$i", 0, 1, 1L, 1.0)))
    val nB = 8

    val cps1 = Materialize.writeResumable(triples, path, nB)
    assert(cps1.count() === nB)
    val total = spark.read.parquet(path).count()
    assert(total === 200)
    val (firstBuckets, firstAt) = recordTime(path)
    assert(firstBuckets === (0 until nB).toSet)

    // 3 buckets' data is lost; the record, written whole, still lists them
    val lost = Seq(1, 4, 6)
    lost.foreach { b =>
      val d = new java.io.File(s"$path/bucket=$b")
      if (d.exists()) { d.listFiles().foreach(_.delete()); d.delete() }
    }
    assert(spark.read.parquet(path).count() < 200)

    // the record is trusted whole or not at all: the resume replaces the table, so
    // the record lists every bucket again under a new commit time
    val cps2 = Materialize.writeResumable(triples, path, nB)
    val (buckets, at) = recordTime(path)
    assert(buckets === firstBuckets)
    assert(at > firstAt, s"$firstAt -> $at")
    assert(committedFacts(path) === triples.collect().map(t => (t.subj, t.pred, t.obj)).toSet)
    assert(spark.read.parquet(path).count() === 200)
    assert(lineage(cps2) === lineage(Materialize.write(triples, s"$dir/fresh", nB)))

    // idempotent: a third call with a complete checkpoint table writes nothing new
    val mtimes = new java.io.File(path).listFiles().map(f => f.getName -> f.lastModified).toMap
    Materialize.writeResumable(triples, path, nB)
    val mtimes2 = new java.io.File(path).listFiles().map(f => f.getName -> f.lastModified).toMap
    assert(mtimes === mtimes2, "complete checkpoint still rewrote partitions")
  }

  test("writeResumable without a fingerprint replaces a table a fingerprinted commit wrote") {
    import spark.implicits._
    val path = tmpDir() + "/triples"
    def facts(obj: String) = spark.createDataset((0 until 200).map(i =>
      Triple(s"subj$i", "p", s"$obj$i", s"https://x/$i", 0, 1, 1L, 1.0)))
    val nB = 8
    resumable(facts("a"), path, nB, "fp-a")
    assert(Materialize.committedLineage(path, "fp-a").isDefined)
    // every bucket holds a lineage row, but fp-a wrote it: none may be trusted here
    Materialize.writeResumable(facts("b"), path, nB)
    val back = spark.read.parquet(path).select("subj", "pred", "obj").as[(String, String, String)]
      .collect().toSet
    assert(back === facts("b").collect().map(t => (t.subj, t.pred, t.obj)).toSet)
    assert(Materialize.committedLineage(path, "fp-a").isEmpty,
      "the replaced table still carries fp-a's completion record")
  }

  test("writeResumable: a committed bucket whose DATA vanished is rewritten") {
    import spark.implicits._
    val path = tmpDir() + "/triples"
    val triples = spark.createDataset((0 until 200).map(i =>
      Triple(s"subj$i", "p", s"o$i", s"https://x/$i", 0, 1, 1L, 1.0)))
    val nB = 8
    Materialize.writeResumable(triples, path, nB)
    assert(spark.read.parquet(path).count() === 200)
    // external data loss: bucket 2's partition disappears, its checkpoint row stays —
    // the checkpoint must be trusted only as far as the data it describes
    val d = new java.io.File(s"$path/bucket=2")
    d.listFiles().foreach(_.delete()); d.delete()
    assert(spark.read.parquet(path).count() < 200)
    val cps = Materialize.writeResumable(triples, path, nB)
    assert(spark.read.parquet(path).count() === 200, "vanished bucket not rewritten")
    // returned view: ONE row per bucket (no double count)
    assert(cps.count() === nB)
    assert(cps.agg(org.apache.spark.sql.functions.sum("rows_out")).head.getLong(0) === 200L)
  }

  test("write: a rewrite with fewer buckets leaves exactly the new table") {
    import spark.implicits._
    val path = tmpDir() + "/rewrite"
    def triples(n: Int) = spark.createDataset((0 until n).map(i =>
      Triple(s"subj$i", "p", s"o$i", s"https://x/$i", 0, 1, 1L, 1.0)))
    def facts() = spark.read.parquet(path).select("subj", "pred", "obj").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    Materialize.write(triples(64), path, 16)
    assert(facts().size === 64)
    // the second table touches one bucket: a full write must still drop the other 15
    val cps = Materialize.write(triples(1), path, 16)
    assert(facts() === Set(("subj0", "p", "o0")), "buckets of the first write survived")
    assert(cps.count() === 1L)
    // the record lists the one bucket the second write committed
    val recorded = Materialize.committedLineage(path, "")
      .map(_.collect().map(_.getInt(0)).toSeq)
    assert(recorded === Some(cps.collect().map(_.getInt(0)).toSeq))
  }

  test("a fresh fingerprinted writeResumable starts as many Spark jobs as write") {
    import spark.implicits._
    val dir = tmpDir()
    val triples = spark.createDataset((0 until 200).map(i =>
      Triple(s"subj$i", "p", s"o$i", s"https://x/$i", 0, 1, 1L, 1.0)))
    val nB = 8
    val (_, plain) = SparkTestBase.jobsStarted("ss.write") {
      Materialize.write(triples, s"$dir/plain", nB) }
    val (_, fingerprinted) = SparkTestBase.jobsStarted("ss.resumable") {
      resumable(triples, s"$dir/resumable", nB, "fp-a") }
    // the replace writes every bucket: it needs no pending-bucket job
    assert(fingerprinted === plain)
    // its completion record lists every bucket the replace wrote
    val cps = Materialize.committedLineage(s"$dir/resumable", "fp-a")
    assert(cps.map(_.count()) === Some(nB.toLong))
    assert(spark.read.parquet(s"$dir/resumable").count() === 200)
  }

  test("a fresh write starts at most 3 Spark jobs; a complete re-run of writeResumable " +
      "starts no Spark job and rewrites no file") {
    import spark.implicits._
    val dir = tmpDir()
    val triples = spark.createDataset((0 until 3000).map(i =>
      Triple(s"subj$i", "p", s"o$i", s"https://x/$i", 0, 1, 1L, 1.0)))
    val (_, fresh) = SparkTestBase.jobsStarted("ss.fresh") {
      Materialize.write(triples, s"$dir/plain", 16).collect() }
    assert(fresh <= 3, s"a fresh write started $fresh Spark jobs")

    val path = s"$dir/resumable"
    val first = Materialize.writeResumable(triples, path, 16).collect().toSeq
    def files(root: String): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(root)).map(f => f.getPath -> f.lastModified).toMap
    }
    val before = files(dir)
    val (again, jobs) = SparkTestBase.jobsStarted("ss.rerun") {
      Materialize.writeResumable(triples, path, 16).collect().toSeq }
    assert(jobs === 0, s"a complete re-run started $jobs Spark jobs")
    assert(files(dir) === before, "a complete re-run rewrote a file")
    assert(again === first)
  }

  /** The fingerprinted resumable commit `KGPipeline.runCheckpointed` makes: the
    * lineage of a complete record of `fp`, else a replace carrying `fp`. */
  private def resumable(triples: Dataset[Triple], path: String, nB: Int,
      fp: String): DataFrame =
    Materialize.committedLineage(path, fp)
      .getOrElse(Materialize.replace(triples, path, nB, None, Some(fp)))

  /** The (subj, pred, obj) facts of the table at `path`. */
  private def committedFacts(path: String): Set[(String, String, String)] =
    spark.read.parquet(path).select("subj", "pred", "obj").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet

  /** The buckets the commit record under `path` lists and its one commit time (epoch
    * ms). */
  private def recordTime(path: String): (Set[Int], Long) = {
    val r = Materialize.record(path).getOrElse(fail(s"no commit record under $path"))
    (r.buckets.map(_.bucket).toSet, r.completedAt)
  }

  /** (bucket, rows, hash) per bucket of the table at `path`, from its data. */
  private def oracle(path: String): Set[(Int, Long, Long)] =
    spark.read.parquet(path).groupBy(col("bucket"))
      .agg(count(lit(1)), expr("bit_xor(xxhash64(subj, pred, obj))")).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet

  private def lineage(cps: DataFrame): Set[(Int, Long, Long)] =
    cps.select("bucket", "rows_out", "output_hash").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet

  test("the returned lineage equals a groupBy oracle over the committed data, for a " +
      "replace and for a vanished-bucket resume") {
    import spark.implicits._
    val path = tmpDir() + "/triples"
    val triples = spark.createDataset((0 until 500).map(i =>
      Triple(s"subj${i % 97}", s"p${i % 3}", s"o$i", s"https://x/$i", 0, 1, 1L, 1.0)))
    val nB = 8
    val replaced = resumable(triples, path, nB, "fp-a")
    assert(lineage(replaced) === oracle(path))
    assert(lineage(replaced).size === nB)

    val victim = new java.io.File(path).list().filter(_.startsWith("bucket=")).min
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$path/$victim"))
    val resumed = resumable(triples, path, nB, "fp-a")
    assert(lineage(resumed) === oracle(path))
    assert(lineage(resumed) === lineage(replaced))
    // the record is trusted whole or not at all: every bucket completed in the resume
    val at = resumed.collect().map(r => r.getInt(0) -> r.getTimestamp(4)).toMap
    val before = replaced.collect().map(r => r.getInt(0) -> r.getTimestamp(4)).toMap
    assert(at.keySet === before.keySet)
    assert(at.forall { case (b, t) => t.after(before(b)) }, s"$before -> $at")
  }

  test("an output in the older layout (a parquet _checkpoints table and a _COMMITTED " +
      "record) is replaced once and never trusted") {
    import spark.implicits._
    val dir = tmpDir()
    def facts(obj: String) = spark.createDataset((0 until 200).map(i =>
      Triple(s"subj$i", "p", s"$obj$i", s"https://x/$i", 0, 1, 1L, 1.0)))
    def back(p: String) = spark.read.parquet(p).select("subj", "pred", "obj")
      .as[(String, String, String)].collect().toSet
    val nB = 8
    Materialize.write(facts("new"), s"$dir/fresh", nB)
    // each older layout over stale data, every one claiming every bucket for fp-a: a
    // parquet lineage table with a completion record, and a `_LINEAGE` record (one
    // `bucket,rows,hash,completedAt` line per bucket, then the fingerprint)
    val layouts = Seq[String => Unit](
      checkpoints => {
        (0 until nB).map(b => (b, 25L, 0L, "materialize",
            new java.sql.Timestamp(0L), "fp-a"))
          .toDF("bucket", "rows_out", "output_hash", "stage", "completed_at", "fingerprint")
          .write.parquet(checkpoints)
        java.nio.file.Files.write(java.nio.file.Paths.get(checkpoints, "_COMMITTED"),
          ((0 until nB).mkString(",") + "\nfp-a").getBytes)
      },
      checkpoints => {
        val stale = oracle(checkpoints.stripSuffix("_checkpoints")).toSeq.sorted
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(checkpoints))
        java.nio.file.Files.write(java.nio.file.Paths.get(checkpoints, "_LINEAGE"),
          (stale.size.toString +: stale.map { case (b, rows, hash) => s"$b,$rows,$hash,0" }
            :+ "fp-a").mkString("\n").getBytes)
      })
    layouts.zipWithIndex.foreach { case (layout, i) =>
      val path = s"$dir/triples$i"
      val checkpoints = path + "_checkpoints"
      Materialize.write(facts("stale"), path, nB)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(checkpoints))
      layout(checkpoints)
      // neither trusted nor thrown on: an older layout has no record
      assert(Materialize.committedLineage(path, "fp-a").isEmpty, s"layout $i trusted")

      val cps = resumable(facts("new"), path, nB, "fp-a")
      assert(back(path) === back(s"$dir/fresh"), s"layout $i: the older facts survived")
      assert(lineage(cps) === oracle(path))
      assert(new java.io.File(checkpoints).list().toSet.filterNot(_.endsWith(".crc")) ===
        Set("_RECORD"), s"layout $i left files behind")
      // replaced once: the next commit trusts the new record
      assert(Materialize.committedLineage(path, "fp-a").map(lineage) === Some(lineage(cps)))
    }
  }
}
