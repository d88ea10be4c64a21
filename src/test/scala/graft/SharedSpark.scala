package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.Suite

/** One local session shared per test JVM: the engine's own
  * [[Session.local]], sized for the corpus the suites read. */
trait SharedSpark extends BeforeAndAfterAll { self: Suite =>

  val SfDir = SharedSpark.SfDir

  lazy val spark: SparkSession = SharedSpark.session

  override def afterAll(): Unit = super.afterAll()
}

object SharedSpark {
  val SfDir = SparkEntry.EntryDir

  lazy val session: SparkSession = Session.local(4, SfDir)
}
