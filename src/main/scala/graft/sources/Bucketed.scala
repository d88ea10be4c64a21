package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bucketed-table layout for co-located joins — the storage-side answer
  * to "this join shuffles 100 TB every night".
  *
  * Writing fact AND dimension bucketed (and sorted) by the join key with
  * the same bucket count lets every subsequent equi-join on that key run
  * with ZERO exchanges: each task reads matching bucket files from both
  * sides (asserted by a plan spec). This is the standard Spark answer for
  * repeated large-to-large joins where broadcast is impossible — the
  * shuffle is paid once at write time, amortized over every downstream
  * join, and bucket pruning kicks in for point lookups on the key.
  *
  * The reference keeps its tables in SQLite (gpd_lite_toolbox
  * utils.py:28-57); a Spark-native engine keeps them in bucketed parquet.
  */
object Bucketed {

  /** Write `df` as an EXTERNAL bucketed+sorted parquet table at `path`.
    * Re-registering drops the catalog entry first (the data directory is
    * overwritten by the save). */
  def writeBucketed(df: DataFrame, table: String, path: String,
                    key: String, buckets: Int): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS $table")
    df.write
      .option("path", path)
      .mode("overwrite")
      .bucketBy(buckets, key)
      .sortBy(key)
      .format("parquet")
      .saveAsTable(table)
  }

  /** Read a registered bucketed table (bucket metadata comes from the
    * catalog, which is why this is a table read, not a path read). */
  def readBucketed(spark: SparkSession, table: String): DataFrame =
    spark.table(table)

  /** Scratch paths registered here are recursively deleted by a JVM
    * shutdown hook. Session-unique index directories would otherwise be
    * left behind by every run, growing /tmp without bound. (Catalog
    * entries die with the JVM's in-memory metastore; the FILES are what
    * persist, so files are what the hook deletes.) */
  private val runScoped =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private lazy val hookInstalled: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      runScoped.forEach(p => deleteRec(new java.io.File(p)))
    }))
  private def deleteRec(f: java.io.File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(deleteRec)
    f.delete()
    ()
  }
  def cleanupOnExit(path: String): Unit = {
    hookInstalled
    runScoped.add(path)
    ()
  }
}
