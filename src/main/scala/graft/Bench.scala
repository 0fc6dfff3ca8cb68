package graft

import org.apache.spark.sql.SparkSession

/**
 * Benchmark main. Two phases, one JSON line:
 *
 *  1. Operator battery: every SparkEntry query timed (count()) on
 *     SPARK_GRAFT_SF_DIR at local[SPARK_GRAFT_CPUS].
 *  2. Scaling evidence (BASELINE.md protocol): the production extraction pipeline
 *     (ExtractJob: the KG job's page kernel, mention-level triples) on an identical
 *     deterministic corpus at local[N] then local[4N]; reports docs/sec at both,
 *     output-hash equality, and scaling efficiency (T_N/T_4N)/4 — the sandbox
 *     stand-in for the north rule's N vs 4N executors gate. The kernel is learned
 *     once, untimed, on the fixed-size gold sample (learning is sample-scale by
 *     design; extraction is the corpus-scale path).
 *
 * A battery query that throws fails the bench, naming the query.
 */
object Bench {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    // Corpus size for the scaling run: large enough that per-task compute dominates
    // fixed job/stage overhead (at 6k pages the job is overhead-bound and efficiency
    // collapses to ~0.2 regardless of the code). Round-4's kernel trims made the
    // page kernel 2.7× faster single-threaded, so the page count scales up with it
    // (the protocol's invariant is the WINDOW length, not the page count): 768k
    // pages ≈ a 40s c4 / 13s c16 window at post-trim throughput — the same
    // measurement-dominated shape 480k gave the slower kernel.
    val kgPages = sys.env.getOrElse("SPARK_GRAFT_KG_PAGES", "768000").toInt

    // ---- phase 1: operator battery (skipped in scaling-only mode) ----
    val scalingOnly = sys.env.get("SPARK_GRAFT_BENCH_MODE").contains("scaling")
    // (name, seconds, plan fingerprint): the fingerprint is md5-16hex of the
    // CANONICALIZED pre-execution physical plan, so round-over-round plan
    // regressions (a lost broadcast, a new shuffle) are diffable straight from the
    // bench artifact — not only through PlansSpec.
    // local-iteration filter: SPARK_GRAFT_BENCH_QUERIES=q44_dedup_canon,q45_...
    // times only the named queries (never set by the driver's full runs)
    val only = sys.env.get("SPARK_GRAFT_BENCH_QUERIES").map(_.split(",").toSet)
    val results: Seq[(String, Double, String)] = if (scalingOnly) Seq.empty else {
      val spark = graft.util.Sessions.local(cpus, "graft-bench")
      try SparkEntry.queries.toSeq
        .filter(q => only.forall(_.contains(q._1)))
        .sortBy(_._1).map { case (name, fn) =>
        val t0 = System.nanoTime()
        // toRdd.count() forces full row materialization — a bare count() would let
        // Catalyst prune every computed column and time an empty scan. A query that
        // throws fails the bench: a timing of a failed query means nothing.
        val fp = try {
          val df = fn(spark, sfDir)
          val planStr = df.queryExecution.executedPlan.canonicalized.toString
          df.queryExecution.toRdd.count()
          java.security.MessageDigest.getInstance("MD5")
            .digest(planStr.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
        } catch {
          case e: Exception =>
            throw new RuntimeException(s"battery query $name failed: $e", e)
        }
        (name, (System.nanoTime() - t0) / 1e9, fp)
      } finally {
        graft.extract.DocExtract.clearSentenceCache()
        SparkEntry.clearKgTriplesCache()
        spark.stop()
      }
    }
    def qsJson: String = results.map { case (k, v, _) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    def plansJson: String = results.map { case (k, _, fp) => "\"" + k + "\":\"" + fp + "\"" }
      .mkString("{", ",", "}")

    // battery-only mode for local iteration (driver runs the full mode per round)
    if (sys.env.get("SPARK_GRAFT_BENCH_MODE").contains("battery")) {
      println(s"""{"metric":"battery","value":${results.map(_._2).sum},"unit":"sec","queries":$qsJson,"plans":$plansJson,"sf":"$sfDir"}""")
      return
    }

    // ---- phase 2: scaling evidence on the extraction path ----
    // Each parallelism level runs in a FRESH child JVM (the sandbox analog of one
    // spark-submit per cluster size, per the BASELINE.md protocol): JIT/code-cache/GC
    // history otherwise leaks between levels and dominates the measurement.
    // Level choice: N=3 vs 4N=12 (round-5 protocol v2; was 4 vs 16). The sandbox host
    // oversubscribes the 32 advertised vCPUs — a pure-CPU 8→32-process burn maxes out
    // at ~3.2× (~26 effective cores), so 8→32 was never evidence-able — and the
    // round-5 rep anatomy showed 16 still sits ABOVE the effective-core floor under
    // typical tenant load: across one full protocol run the c4 per-pair minima spread
    // 1.23× while the c16 minima spread 1.87× (12.0–22.3 s), i.e. the 16-thread level
    // degrades whenever any co-tenant is active while the 4-thread level is untouched,
    // and that asymmetry — not the job — set the measured ratio. 3 and 12 both sit
    // below the floor with slack; the rule being evidenced is "same job at N and 4N
    // cores", with N free. A separate full-width 32-core run reports headline
    // throughput.
    val lowCores = sys.env.getOrElse("SPARK_GRAFT_KG_N", "3").toInt
    val highCores = lowCores * 4
    case class ScaleResult(sec: Double, triples: Long, hash: Long)
    // The page kernel is learned ONCE here and shipped to every child as a serialized
    // file: learning is untimed either way, but removing the sample-scale learning
    // job from each child's setup narrows the wall-clock gap between a pair's two
    // timed windows — the gap is exactly where a host-phase change poisons the ratio.
    val kernelPath = {
      implicit val s: SparkSession = graft.util.Sessions.local(highCores, "graft-bench")
      import s.implicits._
      val train = graft.testgen.CorpusGen.pages(200)
      val kernel = graft.pipeline.KGPipeline.run(
        s.createDataset(train.map(_.page)),
        s.createDataset(train.flatMap(graft.testgen.CorpusGen.goldAnnotations)),
        graft.testgen.CorpusGen.gazetteer).kernel
      s.stop()
      val p = java.nio.file.Files.createTempFile("graft_bench_kernel", ".bin")
      p.toFile.deleteOnExit() // the children read it; nothing reads it after this JVM
      val out = new java.io.ObjectOutputStream(java.nio.file.Files.newOutputStream(p))
      try out.writeObject(kernel) finally out.close()
      p.toString
    }
    def childRun(cores: Int, reps: Int = 3): ScaleResult = {
      val java = System.getProperty("java.home") + "/bin/java"
      val addOpens = Seq(
        "java.base/java.lang", "java.base/java.lang.invoke",
        "java.base/java.lang.reflect", "java.base/java.io",
        "java.base/java.net", "java.base/java.nio",
        "java.base/java.util", "java.base/java.util.concurrent",
        "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs",
        "java.base/sun.security.action", "java.base/sun.util.calendar"
      ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
      // ActiveProcessorCount=cores: without it every child sizes its GC worker pool
      // (~23 parallel GC threads on this 32-vCPU box), netty event loops, and
      // ForkJoin pools for ALL host CPUs regardless of local[N] — at c16 those
      // framework threads collide with the 16 task threads and cost ~20% wall
      // (measured 11.5 s → 9.5 s on the 480k-page kernel; c4 unchanged). A real
      // cluster executor sees its container's CPU limit, which is exactly what this
      // flag emulates — the fix makes the sandbox child MORE faithful, not less.
      val cmd = (Seq(java) ++ addOpens ++ Seq(
        s"-XX:ActiveProcessorCount=$cores",
        "-Xmx24g", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", System.getProperty("java.class.path"),
        "graft.ScalingRun", cores.toString, kgPages.toString, reps.toString,
        kernelPath)).toArray
      // INHERIT stderr: Spark logs on an unread pipe would fill the 64 KB buffer and
      // deadlock the child; stdout (one JSON line) is all we parse.
      val proc = new ProcessBuilder(cmd: _*)
        .redirectError(ProcessBuilder.Redirect.INHERIT).start()
      val out = new String(proc.getInputStream.readAllBytes())
      proc.waitFor()
      def num(k: String): Double =
        s""""$k":(-?[0-9.]+)""".r.findFirstMatchIn(out).map(_.group(1).toDouble)
          .getOrElse(sys.error(s"child c$cores gave no $k: $out"))
      // the 64-bit output hash must NOT round-trip through Double (longs above 2^53
      // lose precision and hash_equal could false-positive) — parse it as Long directly
      def lng(k: String): Long =
        s""""$k":(-?[0-9]+)""".r.findFirstMatchIn(out).map(_.group(1).toLong)
          .getOrElse(sys.error(s"child c$cores gave no $k: $out"))
      ScaleResult(num("sec"), lng("triples"), lng("hash"))
    }
    // Pure-CPU host-scaling ceiling, measured IN-PHASE with each pair: fixed total
    // work (48 units of a long LCG loop) split over K threads, timed at K=4 then
    // K=16 — (t4/t16)/4 is the best scaling ANY 4→16-thread computation can show on
    // this host at this moment (the sandbox oversubscribes its advertised vCPUs, so
    // the ceiling sits well under 1.0 even on an idle box; measured 0.80–0.86 across
    // sessions). Embedding it per pair makes the bench artifact SELF-NORMALIZING:
    // eff/ceiling ≈ 1.0 means the job scales as well as the hardware allows, however
    // noisy the phase the driver happened to run in.
    def burn(threads: Int): Double = {
      val units = 48
      val iters = 400000000L
      val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
      val t0 = System.nanoTime()
      val fs = (0 until units).map { u =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = {
            var h = u.toLong; var i = 0L
            while (i < iters) { h = h * 6364136223846793005L + 1442695040888963407L; i += 1 }
            h
          }
        })
      }
      val sink = fs.map(_.get()).reduce(_ ^ _)
      pool.shutdown()
      val sec = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[burn] t$threads ${sec}%.2fs (sink=$sink)")
      sec
    }
    def cpuCeiling(): Double = burn(lowCores) / burn(highCores) / 4.0

    // Memory-bandwidth scaling ceiling: the extraction job streams strings, so its
    // binding resource at high thread counts is often BANDWIDTH, which a
    // cache-resident LCG burn cannot see (it reads ~0.95 while the job tops out
    // lower). Fixed total traffic — 96 full passes over one shared 256 MB array —
    // split over K threads; (t4/t16)/4 is the best any streaming computation can
    // scale on this host right now.
    val bwArr = new Array[Long](32 << 20) // 256 MB, shared, allocated once
    java.util.Arrays.fill(bwArr, 0x9e3779b97f4a7c15L)
    def bwBurn(threads: Int): Double = {
      val units = 96
      val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
      val t0 = System.nanoTime()
      val fs = (0 until units).map { u =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = {
            var h = u.toLong; var i = 0
            while (i < bwArr.length) { h ^= bwArr(i) + h; i += 1 }
            h
          }
        })
      }
      val sink = fs.map(_.get()).reduce(_ ^ _)
      pool.shutdown()
      val sec = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[burn] bw t$threads ${sec}%.2fs (sink=$sink)")
      sec
    }
    def bwCeiling(): Double = bwBurn(lowCores) / bwBurn(highCores) / 4.0

    // Alternating (N, 4N) PAIRS with per-pair efficiency: the sandbox host's
    // throughput moves in multi-minute phases (2-3× swings), so comparing a
    // quiet-phase N sample against a noisy-phase 4N sample reports a phantom
    // efficiency in either direction. Each pair's two child runs are temporally
    // adjacent — both levels see the same host phase, the closest sandbox analog of
    // running the N and 4N clusters on the same hardware conditions — and a CPU-burn
    // ceiling is taken immediately after the pair, in the same phase. All pairs'
    // efficiencies and ceilings are emitted for transparency; hashes must agree
    // across every run.
    // Equal measurement WINDOWS, not equal rep counts (protocol v2): the minimum
    // over a window estimates the undisturbed time, and its quality depends on the
    // window's wall-clock span (how many host phases it samples), not on how many
    // reps fill it. One low-level rep runs ~4× one high-level rep, so equal rep
    // counts gave the high level a 4×-shorter window — exactly the leg the round-5
    // anatomy showed as volatile. 2 low reps ≈ 5 high reps span comparable wall.
    // The binding ceiling for a string-streaming job is min(cpu, bandwidth)
    // scaling — both measured in-phase right after the pair.
    // FIVE pairs (round-5 bump from three): the host's phase noise produced pair
    // efficiencies as far apart as 0.512/0.991 inside one run — with three pairs a
    // single stolen phase drags the median; with five, the median needs three bad
    // phases to move. Wall cost ~2 extra pair windows (~6 min), paid once per round.
    case class Pair(rN: ScaleResult, r4N: ScaleResult, eff: Double,
        cpuCeil: Double, bwCeil: Double, norm: Double)
    val nPairs = sys.env.getOrElse("SPARK_GRAFT_KG_PAIRS", "5").toInt
    val pairs = (1 to nPairs).map { _ =>
      val rN0 = childRun(lowCores, reps = 2)
      val r4N0 = childRun(highCores, reps = 5)
      val eff0 = (rN0.sec / r4N0.sec) / 4.0
      val cCpu = cpuCeiling()
      val cBw = bwCeiling()
      Pair(rN0, r4N0, eff0, cCpu, cBw, math.min(1.0, eff0 / math.min(cCpu, cBw)))
    }
    // headline = the MEDIAN pair's efficiency: max-of-pairs is upward-biased (any
    // noise that slows only the c4 run inflates eff and max selects exactly those
    // samples); the median is the unbiased order statistic. All pairs stay visible
    // in eff_pairs for spread. The normalized headline is the median of the per-pair
    // eff/ceiling ratios (each ratio pairs same-phase measurements).
    val med = pairs.sortBy(_.eff).apply(pairs.size / 2)
    val (rN, r4N, eff) = (med.rN, med.r4N, med.eff)
    val effNorm = pairs.map(_.norm).sorted.apply(pairs.size / 2)
    val rFull = childRun(32, reps = 2)
    val (tN, t4N) = (rN.sec, r4N.sec)
    val effPairs = pairs.map(p => f"${p.eff}%.3f").mkString("[", ",", "]")
    val ceilings = pairs.map(p => f"${math.min(p.cpuCeil, p.bwCeil)}%.3f")
      .mkString("[", ",", "]")
    val cpuCeils = pairs.map(p => f"${p.cpuCeil}%.3f").mkString("[", ",", "]")
    val bwCeils = pairs.map(p => f"${p.bwCeil}%.3f").mkString("[", ",", "]")
    val norms = pairs.map(p => f"${p.norm}%.3f").mkString("[", ",", "]")
    val hashesOk = pairs.forall(p => p.rN.hash == p.r4N.hash && p.rN.hash == rFull.hash)

    val total = results.map(_._2).sum + tN + t4N + rFull.sec
    val kg = f"""{"pages":$kgPages,"triples":${r4N.triples},""" +
      f""""levels":[$lowCores,$highCores,32],""" +
      f""""sec_c$lowCores":$tN%.2f,"sec_c$highCores":$t4N%.2f,"sec_full_c32":${rFull.sec}%.2f,""" +
      f""""docs_per_sec_c$lowCores":${kgPages / tN}%.1f,"docs_per_sec_c$highCores":${kgPages / t4N}%.1f,""" +
      f""""docs_per_sec_full_c32":${kgPages / rFull.sec}%.1f,""" +
      f""""triples_per_sec_full_c32":${rFull.triples / rFull.sec}%.1f,""" +
      f""""scaling_efficiency":$eff%.3f,"eff_pairs":$effPairs,""" +
      f""""host_ceilings":$ceilings,"cpu_ceilings":$cpuCeils,""" +
      f""""membw_ceilings":$bwCeils,"eff_normalized_pairs":$norms,""" +
      f""""scaling_efficiency_normalized":$effNorm%.3f,""" +
      f""""hash_equal":$hashesOk}"""
    // Two lines + a file: the full per-query detail (times + plan fingerprints) is
    // large — the driver's artifact keeps only a LOG TAIL, and a single giant line
    // has never fit it (BENCH_r01–r03 all carry parsed=null with the line's head cut
    // off). So the detail goes to BENCH_DETAIL.json in the working directory (and an
    // early stdout line for humans), while the LAST line — the one the driver
    // parses — is a compact summary that fits any reasonable tail: totals, the five
    // slowest queries, and the full kg/scaling block.
    val detail = s"""{"metric":"total_detail","value":$total,"unit":"sec","queries":$qsJson,"plans":$plansJson,"kg":$kg,"sf":"$sfDir"}"""
    try java.nio.file.Files.writeString(
      java.nio.file.Path.of("BENCH_DETAIL.json"), detail + "\n")
    catch { case _: java.io.IOException => () } // read-only cwd: stdout still has it
    println(detail)
    val slowest = results.sortBy(-_._2).take(5)
      .map { case (k, v, _) => "\"" + k + "\":" + f"$v%.3f" }.mkString("{", ",", "}")
    println(s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"battery_sec":${f"${results.map(_._2).sum}%.2f"},"queries":$slowest,"kg":$kg,"sf":"$sfDir","detail":"BENCH_DETAIL.json"}""")
  }
}
