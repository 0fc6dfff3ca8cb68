package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Corpus deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash,
 * embedding-cosine near-dup.
 *
 * Scale design (100 TB corpus):
 *  - exact dedup is one hash-shuffle on a 32-byte key — the minimum possible;
 *  - near-dup never does the O(N²) all-pairs join: candidates come from an equi-join on
 *    a blocking key (shared shingle / LSH band / SimHash band), so the shuffle is on
 *    (key, docId) postings and skew is bounded by capping posting-list length (hot
 *    shingles like "the the the" would otherwise quadratically explode — same per-key
 *    cap idea as the reference's per-doc count cap,
 *    /root/reference/src/msa/BestPatterns.java:441-443);
 *  - all hashes are content-derived (md5/xxhash64), never nondeterministic ids, so
 *    results are identical at any parallelism (SURVEY.md §7.4.4).
 */
object Dedup {

  /** Word n-gram shingles of a text column as an array<string> (deduplicated set,
    * first-occurrence order). Uses the native codegen expression `word_shingles`
    * (graft.functions.WordShingles, registered by GraftExtensions — all graft session
    * factories register it); ~20× the throughput of the equivalent higher-order-function
    * expression, which evaluates interpreted with an array copy per slice. */
  def shingles(text: Column, n: Int): Column =
    call_function("word_shingles", text, lit(n))

  /**
   * Exact dedup by content hash. Returns one row per distinct content:
   * (keep_id = min id, dup_count). One shuffle, map-side partial agg.
   */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(md5(col(textCol)).as("content_md5"), col(idCol))
      .groupBy("content_md5")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  /**
   * n-gram Jaccard near-duplicate pairs with similarity >= minJaccard.
   * Blocking = shared shingle; per-shingle posting lists capped at maxPosting to bound
   * the quadratic blow-up on stop-shingles (candidate recall is preserved for real
   * near-dups because they share many shingles, most of them rare).
   * Emits (id_a < id_b, inter, size_a, size_b, jacc_bp) with jacc in basis points
   * (integer — exact across engines).
   */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String, n: Int = 3,
      minJaccardBp: Long = 8000L, maxPosting: Int = 1000): DataFrame = {
    val sh = df.select(col(idCol).as("id"), shingles(col(textCol), n).as("sh"))
      .withColumn("sz", size(col("sh")))
    val posts = sh.select(col("id"), col("sz"), explode(col("sh")).as("g"))
    val capped = posts.withColumn("rn",
        row_number().over(Window.partitionBy("g").orderBy("id")))
      .filter(col("rn") <= maxPosting).drop("rn")
    val a = capped.select(col("g"), col("id").as("id_a"), col("sz").as("size_a"))
    val b = capped.select(col("g"), col("id").as("id_b"), col("sz").as("size_b"))
    // shuffle_hash (not broadcast): both sides then shuffle on g with IDENTICAL
    // subplans, so ReusedExchange computes the posting+cap pipeline ONCE; Spark's
    // size estimate otherwise broadcasts millions of postings and evaluates the
    // pipeline twice (observed 2× wall-clock and executor memory pressure)
    a.join(b.hint("shuffle_hash"), Seq("g")).filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b", "size_a", "size_b")
      .agg(count(lit(1)).as("inter"))
      .withColumn("jacc_bp",
        floor(col("inter") * 10000L / (col("size_a") + col("size_b") - col("inter"))))
      .filter(col("jacc_bp") >= minJaccardBp)
      .select("id_a", "id_b", "inter", "size_a", "size_b", "jacc_bp")
  }

  /**
   * MinHash signature of the shingle set: for seed i, minhash_i = lexicographic min of
   * md5(i || ':' || shingle). Hex-string min is engine-portable (the same value is
   * computable in any SQL engine with md5 — used by the DuckDB oracle), deterministic,
   * and collision behavior matches numeric minhash for dedup purposes.
   * Uses the native codegen expression `minhash_md5` (one pass, reused digest) — the
   * builtin formulation (DedupSpec's parity oracle) runs numHashes interpreted passes
   * per row.
   */
  def minhashSig(sh: Column, numHashes: Int): Column =
    call_function("minhash_md5", sh, lit(numHashes))

  /**
   * MinHash-LSH near-dup candidate pairs: signature of numHashes minhashes split into
   * `bands` bands; docs sharing any band hash become candidates; candidates verified
   * with exact Jaccard on the shingle sets. Shuffle is on (band_hash) postings only.
   */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String, n: Int = 3,
      numHashes: Int = 12, bands: Int = 4, minJaccardBp: Long = 7000L): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rowsPerBand = numHashes / bands
    val sh = df.select(col(idCol).as("id"), shingles(col(textCol), n).as("sh"))
      .filter(size(col("sh")) > 0)
      .withColumn("sig", minhashSig(col("sh"), numHashes))
    // band hash = md5 of the concatenated minhashes of the band
    val banded = sh.select(col("id"), col("sh"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => md5(concat_ws("|", slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand))))))
        .as(Seq("band", "bh")))
    val l = banded.select(col("band"), col("bh"), col("id").as("id_a"), col("sh").as("sh_a"))
    val r = banded.select(col("band"), col("bh"), col("id").as("id_b"), col("sh").as("sh_b"))
    // shuffle_hash → identical shuffles on both sides → ReusedExchange (see jaccardPairs)
    val cand = l.join(r.hint("shuffle_hash"), Seq("band", "bh"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "sh_a", "sh_b").dropDuplicates("id_a", "id_b")
    cand
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("uni", size(col("sh_a")) + size(col("sh_b")) - col("inter"))
      .withColumn("jacc_bp", floor(col("inter").cast("long") * 10000L / col("uni")))
      .filter(col("jacc_bp") >= minJaccardBp)
      .select("id_a", "id_b", "jacc_bp")
  }

  /**
   * The COMPOSED dedup pipeline a training corpus actually runs before a release:
   * exact dedup (content md5, keep the min id) followed by near-duplicate clustering
   * over the exact-dedup survivors (blocked n-gram Jaccard pairs →
   * large-star/small-star connected components) with the cluster minimum as the
   * canonical representative. Returns ONE row per input document:
   * (doc_id, canon_id) — a doc is kept iff doc_id == canon_id; dropping the rest
   * and joining content back by canon_id yields the deduplicated corpus.
   *
   * Scale shape: the exact pass is one 32-byte-key shuffle; the near-dup pass
   * inherits [[jaccardPairs]]'s capped-postings blocking (never all-pairs); CC runs
   * on the pair graph only (orders of magnitude smaller than the corpus); the final
   * mapping is a left join of the doc→keeper table against the (small) component
   * table.
   */
  def canonicalDocs(df: DataFrame, idCol: String, textCol: String, n: Int = 4,
      minJaccardBp: Long = 3000L, maxPosting: Int = 1000)(
      implicit spark: org.apache.spark.sql.SparkSession): DataFrame = {
    val base = df.select(col(idCol).cast("long").as("doc_id"), col(textCol).as("text"))
    val hashed = base.select(col("doc_id"), col("text"), md5(col("text")).as("h"))
    val keep = hashed.groupBy("h").agg(min("doc_id").as("keep_id"))
    val toKeep = hashed.join(keep, Seq("h")).select(col("doc_id"), col("keep_id"))
    val survivors = hashed.join(
      keep.select(col("keep_id").as("doc_id")), Seq("doc_id"), "left_semi")
    val pairs = jaccardPairs(survivors, "doc_id", "text", n, minJaccardBp, maxPosting)
    // CC operates on strings; encode ids sign-safely at FULL long width so string-min
    // == numeric-min over the whole id domain: bias by 2^63 into [0, 2^64) via
    // decimal(20,0) arithmetic (exact), then zero-pad to the fixed 20-digit width.
    // (lpad alone TRUNCATES ids wider than the pad and orders negatives wrongly.)
    val edges = pairs.select(
      signSafeKey(col("id_a")).as("src"), signSafeKey(col("id_b")).as("dst"))
    // adaptive: a fixture-scale pair graph runs union-find in one task (identical
    // node → min-of-component semantics); a 100 TB pair graph takes the distributed
    // large-star/small-star rounds
    val comp = graft.canon.ConnectedComponents.runAdaptive(edges)
      .select(signSafeUnkey(col("node")).as("keep_id"),
        signSafeUnkey(col("component")).as("comp"))
    toKeep.join(comp, Seq("keep_id"), "left")
      .select(col("doc_id"), coalesce(col("comp"), col("keep_id")).as("canon_id"))
  }

  /** 2^63 as exact decimal — the bias that maps signed-long order onto unsigned. */
  private val LongBias = new java.math.BigDecimal("9223372036854775808")

  /** Sign-safe fixed-width string key for a long id: (id + 2^63) zero-padded to 20
    * digits, so lexicographic order == numeric order for EVERY long (negative ids and
    * ids wider than the pad included). Exact decimal arithmetic, engine-portable. */
  private def signSafeKey(id: Column): Column =
    lpad((id.cast("decimal(20,0)") + lit(LongBias)).cast("decimal(20,0)")
      .cast("string"), 20, "0")

  /** Inverse of [[signSafeKey]]. */
  private def signSafeUnkey(key: Column): Column =
    (key.cast("decimal(21,0)") - lit(LongBias)).cast("long")

  /**
   * Benchmark decontamination: corpus documents sharing at least one word n-gram
   * shingle with any document of an eval/benchmark set. Training pipelines run this
   * before every release so evaluation results are not inflated by test data leaking
   * into the training corpus. Returns the docs to drop (or flag):
   * (doc_id, n_hit_shingles, n_eval_docs) — how many distinct shingles were
   * contaminated and how many eval docs they touch.
   *
   * Scale shape: the eval side is benchmark suites — megabytes against a 100 TB
   * corpus — so its distinct shingle set is BROADCAST; the corpus side is a narrow
   * scan + shingle explode + broadcast hash join (no corpus-side shuffle for the
   * match), and the only shuffle is the final per-doc aggregation keyed by doc_id.
   */
  def contaminatedDocs(corpus: DataFrame, evalSet: DataFrame, idCol: String,
      textCol: String, n: Int = 8): DataFrame = {
    val ev = evalSet
      .select(col(idCol).as("eval_id"), explode(shingles(col(textCol), n)).as("g"))
    val cp = corpus
      .select(col(idCol).as("doc_id"), explode(shingles(col(textCol), n)).as("g"))
    cp.join(broadcast(ev), Seq("g"))
      .groupBy("doc_id")
      .agg(count_distinct(col("g")).as("n_hit_shingles"),
        count_distinct(col("eval_id")).as("n_eval_docs"))
  }

  /** SimHash signature width: 60 bits — the first 15 hex chars of md5(token) parsed as
    * an integer, which both Spark (conv) and any md5-capable SQL engine (hex cast) can
    * compute identically; 4 bands × 15 bits. */
  val SimhashBits = 60
  private val SimhashBands = 4
  private val SimhashBandBits = SimhashBits / SimhashBands

  /**
   * 60-bit SimHash over whitespace tokens: bit b of the fingerprint is the majority
   * vote of bit b of the md5-derived token hash across tokens (with multiplicity).
   * The token hash is engine-portable (md5 prefix), so the whole operator has an exact
   * DuckDB oracle twin.
   *
   * Runs on the NATIVE codegen expression `simhash_md5`
   * ([[graft.functions.SimhashMd5]]): one JIT-compiled pass per document — no token
   * explosion, no aggregate, ZERO shuffle. Docs with zero tokens (or null text) keep
   * signature 0. Bit-identical to the explode + 60-bit-sum aggregate formulation
   * (DedupSpec's parity oracle).
   */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"),
      coalesce(
        call_function("simhash_md5",
          filter(split(lower(trim(col(textCol))), "\\s+"), t => length(t) > 0)),
        lit(0L)).as("simhash"))

  /** SimHash near-dup candidates: split the 60-bit fingerprint into 4 15-bit bands;
    * pairs sharing any band are candidates; verify by Hamming distance <= maxHamming. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 8): DataFrame = {
    val sigs = simhash(df, idCol, textCol)
    val bandMask = (1L << SimhashBandBits) - 1L
    val banded = sigs.select(col("id"), col("simhash"),
      posexplode(transform(sequence(lit(0), lit(SimhashBands - 1)),
        b => call_function("shiftright", col("simhash"), b * SimhashBandBits)
          .bitwiseAND(bandMask)))
        .as(Seq("band", "bk")))
    val l = banded.select(col("band"), col("bk"), col("id").as("id_a"), col("simhash").as("h_a"))
    val r = banded.select(col("band"), col("bk"), col("id").as("id_b"), col("simhash").as("h_b"))
    // shuffle_hash → identical shuffles on both sides → ReusedExchange (see jaccardPairs)
    l.join(r.hint("shuffle_hash"), Seq("band", "bk")).filter(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("hamming", call_function("bit_count", col("h_a").bitwiseXOR(col("h_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }
}
