package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
import org.scalatest.funsuite.AnyFunSuite

import graft.canon.ConnectedComponents
import graft.link.EntityLink
import graft.model.Triple
import graft.pipeline.KGPipeline

/**
 * The driver-side link kernel ([[EntityLink.jaccardLinks]] + union-find components)
 * against the relational formulation it replaced ([[LinkOracle]] + the distributed
 * [[ConnectedComponents.run]]), on hand-built aliasing subjects: edges, drop counts and
 * components must be equal. Then the KG job's canonicalization that runs it.
 */
class LinkKernelSpec extends AnyFunSuite with SparkTest {
  import spark.implicits._

  /** Links `forms` with the kernel and with the oracle, asserts both agree on the edges
    * and on the components, and returns the kernel's result. */
  private def parity(forms: Seq[String], minJaccard: Double = 0.6,
      maxBlockSize: Int = 1000): EntityLink.Links = {
    val links = EntityLink.jaccardLinks(forms, minJaccard, maxBlockSize)
    val oracle = LinkOracle.candidateEdges(forms.toDF("form"), minJaccard, maxBlockSize)
    val want = oracle.as[(String, String, Double)].collect().toSeq
    assert(links.edges.size === want.size, links.edges)
    assert(links.edges.toSet === want.toSet)
    val audit = EntityLink.blockAudit(forms.toDF("form"), maxBlockSize)
      .agg(coalesce(sum($"n_dropped"), lit(0L)), count(lit(1))).as[(Long, Long)].head()
    assert((links.droppedSlots, links.overCapBlocks) === audit)
    val components = ConnectedComponents.localComponents(
      links.edges.iterator.map(e => (e._1, e._2))).toMap
    assert(components === ConnectedComponents.run(oracle.select("src", "dst"))
      .as[(String, String)].collect().toMap)
    links
  }

  test("kernel == Spark oracle: case and punctuation variants, a chain, empty and null forms") {
    val chain = Seq("north star shipping co", "north star shipping line",
      "north star cargo line") // a–b and b–c at Jaccard 3/5, a–c at 2/6
    val links = parity(Seq("Acme Corp", "ACME CORP.", "acme-corp", "Acme Corp Inc",
      "Acme, Corp", "Globex Systems", "O'Brien Holdings", "OBrien Holdings") ++ chain ++
      Seq("...", "", " ", "\u2014", null))
    val edges = links.edges.map(e => (e._1, e._2)).toSet
    assert(edges.contains(("ACME CORP.", "Acme Corp")))
    assert(edges.contains(("Acme Corp", "Acme Corp Inc")))
    assert(!edges.exists(e => e._1.startsWith("Globex") || e._2.startsWith("Globex")))
    assert(links.edges.forall(e => !Seq(e._1, e._2).exists(f => f == null || f.trim.isEmpty)))
    val comp = ConnectedComponents.localComponents(edges.iterator).toMap
    assert(chain.map(comp) === Seq.fill(3)("north star cargo line"))
    assert(links.droppedSlots === 0L)
  }

  test("a block over a lowered cap: same kept forms, edges and logged drop count") {
    // every form is in family-a block a:z:2; the cap keeps two of the five there
    val forms = Seq("za aa", "zb bb", "zeta international", "zulu international",
      "zz international")
    val links = parity(forms, minJaccard = 0.3, maxBlockSize = 2)
    assert(links.overCapBlocks >= 1L && links.droppedSlots >= 3L, links)
    assert(links.edges.exists(e => (e._1, e._2) == (("zeta international",
      "zulu international"))), links.edges)
  }

  /** Runs `body` under the JVM default locale `tag`. */
  private def underLocale[T](tag: String)(body: => T): T = {
    val saved = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.forLanguageTag(tag))
    try body finally java.util.Locale.setDefault(saved)
  }

  test("a Turkish default locale changes no normalized form, edge or component") {
    val dotted = Seq("\u0130zmir Port", "izmir port", "IZMIR PORT", "i\u0307zmir port")
    val rootLinks = parity(dotted)
    underLocale("tr") {
      // under "tr" a default-locale lowercase maps I to dotless ı and U+0130 to plain i
      val links = parity(Seq("TITAN", "Titan", "TITAN LINE", "titan line"))
      assert(links.edges.map(e => (e._1, e._2)).contains(("TITAN", "Titan")))
      assert(parity(dotted) === rootLinks)
    }
  }

  test("a Lithuanian default locale changes no normalized form, edge or component") {
    // under "lt" a default-locale lowercase keeps the dot of an accented I: Ì lowers to
    // i + U+0307 + U+0300, under any other locale to ì
    val accented = Seq("\u00CCzmir Port", "\u00CDzmir port", "\u0128zmir port",
      "izmir port", "zmir port")
    val rootLinks = parity(accented)
    underLocale("lt")(assert(parity(accented) === rootLinks))
  }

  test("U+0130, U+212A and the supplementary plane normalize and order as Spark does") {
    // U+0130 lowers to i + U+0307 (a separator); U+212A (Kelvin sign) lowers to k
    parity(Seq("\u0130stanbul Port", "istanbul port", "i\u0307stanbul port",
      "\u212Aelvin Corp", "kelvin corp", "Stra\u00DFe AG", "\uFB03 co", "\u03A3\u039F\u03A3",
      "\u03C3\u03BF\u03C2"))
    // equal normalized text; U+FFFD < U+1F600 in UTF-8 bytes, the reverse in UTF-16
    val pair = Seq("\uFFFD acme", "\uD83D\uDE00 acme")
    assert(parity(pair).edges === Seq(("\uFFFD acme", "\uD83D\uDE00 acme", 1.0)))
    // the block cap keeps the first forms in UTF-8 byte order: U+E000 and U+FFFD
    val capped = parity(pair :+ "\uE000 acme", maxBlockSize = 2)
    assert(capped.edges === Seq(("\uE000 acme", "\uFFFD acme", 1.0)))
  }

  test("canonicalizing a persisted raw-triple set starts exactly one Spark job") {
    def raw(subjects: Seq[String]): DataFrame = subjects.zipWithIndex.map { case (s, i) =>
      Triple(s, "p", s"o$i", s"u${i % 3}", i, i + 1, 1L, 1.0)
    }.toDS().toDF().persist(MEMORY_AND_DISK)
    val linked = raw(Seq("Acme Corp", "ACME CORP.", "Globex", "Acme Corp", null))
    val (withEdges, n1) = SparkTestBase.jobsStarted("canon-edges")(
      KGPipeline.canonicalOf(linked))
    assert(n1 === 1)
    assert(withEdges.collect().toSeq.sortBy(_.obj) === linked.as[Triple].collect().toSeq
      .map(t => if (t.subj == "Acme Corp") t.copy(subj = "ACME CORP.") else t).sortBy(_.obj))
    val plain = raw(Seq("Acme Corp", "Globex", "Initech"))
    val (unlinked, n2) = SparkTestBase.jobsStarted("canon-no-edges")(
      KGPipeline.canonicalOf(plain))
    assert(n2 === 1)
    assert(unlinked.queryExecution.logical === plain.queryExecution.logical)
    Seq(linked, plain).foreach(_.unpersist())
  }

  test("more distinct subject forms than the limit fail loudly") {
    val limit = KGPipeline.MaxLinkForms
    KGPipeline.checkFormCount(limit)
    val e = intercept[IllegalArgumentException](KGPipeline.checkFormCount(limit + 1))
    assert(e.getMessage.contains(s"${limit + 1} or more") &&
      e.getMessage.contains(s"limit of $limit forms"), e.getMessage)
  }
}

/** The relational Jaccard link the kernel replaced, kept as its oracle: EntityLink's
  * Spark blocking and cap, a block self-join, `array_intersect`/`array_union` scoring,
  * and a `distinct` over the pairs both families find. */
object LinkOracle {
  def candidateEdges(forms: DataFrame, minJaccard: Double, maxBlockSize: Int): DataFrame = {
    val capped = EntityLink.cap(EntityLink.blocked(forms.select(col("form")).distinct()),
      maxBlockSize)
    val a = capped.select(col("form").as("src"), col("toks").as("ta"), col("block"))
    val b = capped.select(col("form").as("dst"), col("toks").as("tb"), col("block"))
    a.join(b, Seq("block"))
      .filter(col("src") < col("dst"))
      .withColumn("inter", size(array_intersect(col("ta"), col("tb"))))
      .withColumn("uni", size(array_union(col("ta"), col("tb"))))
      .withColumn("jaccard", col("inter").cast("double") / col("uni"))
      .filter(col("jaccard") >= minJaccard)
      .select("src", "dst", "jaccard")
      .distinct()
  }
}
