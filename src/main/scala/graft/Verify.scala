package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional args 3+: only dump queries whose name contains ANY of the
    // substrings (dev iteration; the driver always runs the full set)
    val nameFilters = args.drop(2)
    def keep(name: String) =
      nameFilters.isEmpty || nameFilters.exists(name.contains)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = Session.local(cpus, sfDir)
    new java.io.File(outDir).mkdirs()
    // a failed query does not stop the dump: the rest still run and
    // oracle_sql.json is still written, then the run exits 1
    val failed = SparkEntry.queries.filter(kv => keep(kv._1)).flatMap {
      case (name, fn) =>
      val err =
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          None
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          Some(name)
        }
      // operators persist multi-consumer stages internally; drop them
      // between queries so the pipelines don't stack up in memory
      // (localCheckpoint blocks aren't Dataset caches — drop them via
      // the context's persistent-RDD registry)
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      err
    }
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
    val json = SparkEntry.oracleSql.filter(kv => keep(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(
        s"[verify] FAIL ${failed.size} queries: ${failed.mkString(" ")}")
      sys.exit(1)
    }
  }
}
