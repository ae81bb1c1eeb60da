package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for every suite (object = JVM-wide singleton), built
  * by the engine's factory at 4 cores, so the suites run the engine defaults.
  */
object TestSpark {
  lazy val spark: SparkSession = Session.local(4)
}

abstract class SparkSpec extends AnyFunSuite with org.scalatest.BeforeAndAfterAll {
  lazy val spark: SparkSession = TestSpark.spark

  override protected def afterAll(): Unit = {
    // specs call operators outside Caching.withCached brackets; drain the unscoped
    // registry per suite so the shared JVM doesn't accumulate persisted plans
    graft.util.Caching.releaseAll()
    super.afterAll()
  }
}
