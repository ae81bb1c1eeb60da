package graft

/** The shared test session carries the engine factory's defaults, so a per-site
  * session override shows up as a failing test instead of a silent drift between
  * what the suites test and what Bench and Verify run.
  */
class SessionSpec extends SparkSpec {

  test("the test session carries the factory defaults at 4 cores") {
    val conf = spark.conf
    assert(spark.sparkContext.master == "local[4]")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.sparkContext.defaultParallelism == 4)
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
  }
}
