package graft

import org.apache.spark.sql.SparkSession

/** The engine's one session factory. Every main and the test session build their
  * session here, so a session-level setting is the engine default everywhere:
  * Bench measures the settings Verify checks and the suites test.
  */
object Session {

  /** A local session on `cores` threads with one shuffle partition per core, UTC
    * session time, AQE on, the UI off and WARN logging.
    */
  def local(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Between-query cleanup: drain the unscoped operator persists, drop cached plans
    * and unpersist leftover RDDs (localCheckpoint blocks), so iterative operators
    * do not accumulate storage across queries and slow later ones through GC churn.
    */
  def releaseQueryState(spark: SparkSession): Unit = {
    graft.util.Caching.releaseAll()
    spark.sqlContext.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }
}
