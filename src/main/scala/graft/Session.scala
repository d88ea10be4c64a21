package graft

import org.apache.spark.sql.SparkSession

/** The one owner of graft's session config: `Smoke`, `Verify` and the
  * test suites all build their session here, so the config the tests
  * exercise is the config the engine ships. */
object Session {
  /** A `local[cpus]` session sized by [[Tune.forInput]] for the corpus
    * under `input`. `nanosAsLong` keeps an ns-INT64 timestamp file
    * readable (as LONG; see `Tables.normalizeTs`). */
  def local(cpus: Int, input: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Tune.forInput(spark, input)
    spark
  }
}
