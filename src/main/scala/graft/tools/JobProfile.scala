package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import scala.jdk.CollectionConverters._

/** The engine's per-query profiler: per-JOB wall/task breakdown of one declared
  * query — where a composed pipeline's seconds go when the data is small and the
  * cost is job-count-bound (scheduling + materialization overhead) rather than
  * data-bound.
  *
  * Usage: `sbt "runMain graft.tools.JobProfile <query_name> [runs]"`; reads
  * SPARK_GRAFT_SF_DIR (default sf0.1) and SPARK_GRAFT_CPUS (default 32, as Bench).
  * Prints per run the wall time, row count and job count, one line per job (wall,
  * summed task-seconds, tasks, stages, callsite), then the summed job wall,
  * task-seconds and driver gaps; run 2+ is JIT-warm.
  */
object JobProfile {

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: JobProfile <query_name> [runs]")
    val name = args(0)
    val runs = if (args.length > 1) args(1).toInt else 2
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)

    val fn = graft.SparkEntry.queries(name)

    case class Job(id: Int, started: Long, stages: Int, site: String) {
      var ended: Long = 0L
      var taskMs: Long = 0L
      var tasks: Int = 0
    }
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    val order = new java.util.concurrent.ConcurrentLinkedQueue[Job]()
    // stage → job from SparkListenerJobStart.stageInfos: broadcast-exchange and AQE
    // subquery jobs overlap the main job even on a single-threaded driver, so the
    // former "most recent unfinished job" heuristic mis-binned their tasks (r11
    // advice) — exactly in the composed queries this tool profiles
    val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        // the result stage's name is the job's short call site ("count at X.scala:12");
        // the job's `callSite.short` property is unset unless a caller sets it
        val site = e.stageInfos.maxByOption(_.stageId).fold("?")(_.name)
        val job = Job(e.jobId, e.time, e.stageInfos.size, site)
        jobs.put(e.jobId, job)
        e.stageInfos.foreach(si => stageToJob.put(si.stageId, job))
        order.add(job)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val j = jobs.get(e.jobId); if (j != null) j.ended = e.time
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        if (e.taskMetrics != null) {
          val j = stageToJob.get(e.stageId)
          if (j != null) {
            j.taskMs += e.taskMetrics.executorRunTime
            j.tasks += 1
          }
        }
      }
    })

    (1 to runs).foreach { r =>
      jobs.clear(); order.clear(); stageToJob.clear()
      val t0 = System.nanoTime()
      val rows = graft.util.Caching.withCached { fn(spark, sfDir).count() }
      val wall = (System.nanoTime() - t0) / 1e9
      graft.Session.releaseQueryState(spark)
      System.gc()
      Thread.sleep(300) // let listener events drain
      val js = order.asScala.toSeq
      System.err.println(f"[jobprofile] === $name run $r: $wall%.2f s wall, $rows rows, ${js.size} jobs ===")
      js.foreach { j =>
        val w = (j.ended - j.started).toDouble / 1000
        System.err.println(f"[jobprofile]   job ${j.id}%4d ${w}%7.3f s wall ${j.taskMs / 1000.0}%8.2f task-s ${j.tasks}%5d tasks ${j.stages}%3d stages  ${j.site}")
      }
      val sumW = js.map(j => (j.ended - j.started).toDouble / 1000).sum
      val gaps = wall - sumW
      val taskS = js.map(_.taskMs).sum / 1000.0
      System.err.println(
        f"[jobprofile]   sum job wall ${sumW}%.2f s; task-s ${taskS}%.2f; driver gaps ${gaps}%.2f s")
    }
    spark.stop()
  }
}
