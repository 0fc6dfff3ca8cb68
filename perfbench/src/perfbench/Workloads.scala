package perfbench

/** The benchmark's workloads. Every workload shares the same 200-page CorpusGen
  * training slice (pages 0..199 of the seed's corpus), so `learn` does identical
  * work in each; they differ only in the pages the job extracts from and in the
  * entry point that runs it. */
final case class Workload(
    name: String,
    /** true: `KGPipeline.runCheckpointed` fresh, then re-submitted over the completed
      * stage directory; false: `KGPipeline.runAndWrite`. */
    checkpointed: Boolean,
    /** CorpusGen bodies that follow the training slice in the corpus. */
    bodies: Int,
    /** Bodies concatenated into one page: min, 2·min, … up to max, equally often. */
    bodiesPerPageMin: Int,
    bodiesPerPageMax: Int)

object Workloads {
  val TrainPages = 200

  val all: Seq[Workload] = Seq(
    // 16k CorpusGen bodies packed into pages of 8-64 bodies (a few KB to tens of KB
    // of text): per-page marginal cost is a large share, and per-page kernels whose
    // cost grows faster than page length show here
    Workload("kg_longpages", checkpointed = false, bodies = 16000,
      bodiesPerPageMin = 8, bodiesPerPageMax = 64),
    // small corpus of plain CorpusGen pages: fixed cost dominates, and the
    // stage-checkpoint and resumable-commit paths do most of the remaining work
    Workload("kg_resume", checkpointed = true, bodies = 1800,
      bodiesPerPageMin = 1, bodiesPerPageMax = 1))

  def apply(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$name' (known: ${all.map(_.name).mkString(", ")})"))
}
