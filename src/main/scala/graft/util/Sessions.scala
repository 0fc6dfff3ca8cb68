package graft.util

import org.apache.spark.sql.SparkSession

/** SparkSession factory with scale-appropriate defaults: AQE on (skew-join splitting per
  * the north rule), shuffle partitions sized to local cores rather than the 200 default. */
object Sessions {
  def local(cores: Int = 4, appName: String = "graft"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // ExtractJob's identity count/hash ride the write via Dataset.observe;
      // observed accumulators count PER SUCCESSFUL TASK ATTEMPT, so speculative
      // duplicate attempts would inflate the count and self-cancel xor terms.
      // local[N] never speculates, but the assumption is load-bearing for the
      // scaling gate's hash_equal check — pin it (a real-cluster deploy that
      // re-enables speculation must verify identity with a read-back instead).
      .config("spark.speculation", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
