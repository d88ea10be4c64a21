package graft

/** The t1 smoke check: run SparkEntry.entry and check rows>0; a FAIL
  * exits non-zero. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Session.local(4, SparkEntry.EntryDir)
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(5, truncate = false)
    println(s"[smoke] entry rows=$n ${if (n > 0) "PASS" else "FAIL"}")
    spark.stop()
    if (n == 0) sys.exit(1)
  }
}
