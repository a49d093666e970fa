package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.Shim

/** Per-JOB triage (r21): like ProfileQuery, but prints every job's
  * wall time, task count and summed task time, so a query whose wall
  * is a long chain of small sequential jobs (driver latency) can be
  * told apart from one with a few heavy stages (cluster work) — and
  * the heavy job can be matched back to its operator via the call
  * site (first line of the job's stage name).
  *
  * usage: runMain graft.ProfileJobs [sfDir] query [query ...]
  */
object ProfileJobs {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty && args.head.startsWith("/")) args.head
      else "/root/testdata/sf0.1"
    val names = (if (args.nonEmpty && args.head.startsWith("/")) args.drop(1)
      else args).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    case class JobRec(id: Int, var start: Long = 0L, var end: Long = 0L,
      var tasks: Int = 0, var taskTimeMs: Long = 0L, var site: String = "")
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
    val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val r = JobRec(j.jobId, start = j.time)
        r.site = j.stageInfos.lastOption.map(_.name).getOrElse("")
        jobs.put(j.jobId, r)
        j.stageIds.foreach(s => stageToJob.put(s, j.jobId))
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        Option(jobs.get(j.jobId)).foreach(_.end = j.time)
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        Option(stageToJob.get(s.stageInfo.stageId))
          .flatMap(id => Option(jobs.get(id)))
          .foreach(_.tasks += s.stageInfo.numTasks)
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        Option(stageToJob.get(t.stageId))
          .flatMap(id => Option(jobs.get(id)))
          .foreach { r =>
            Option(t.taskMetrics).foreach(m =>
              r.taskTimeMs += m.executorRunTime)
          }
    }
    spark.sparkContext.addSparkListener(listener)

    names.foreach { n =>
      SparkEntry.queries.get(n) match {
        case None => println(s"unknown query: $n")
        case Some(fn) =>
          (0 to 1).foreach { pass =>
            jobs.clear(); stageToJob.clear()
            val t0 = System.nanoTime()
            val rows = fn(spark, sfDir).count()
            val wall = (System.nanoTime() - t0) / 1e9
            Shim.drainListenerBus(spark)
            println(f"\n=== $n pass=$pass wall=$wall%.2fs rows=$rows")
            import scala.jdk.CollectionConverters._
            val rs = jobs.values().asScala.toSeq.sortBy(_.id)
            rs.foreach { r =>
              val w = (r.end - r.start) / 1e3
              println(f"  job=${r.id}%4d wall=$w%6.2fs tasks=${r.tasks}%5d " +
                f"taskTime=${r.taskTimeMs / 1e3}%8.2fs  ${r.site.take(90)}")
            }
            AnnQueries.clearGridCache()
            AnnQueries.clearAnnCache()
            DedupQueries.clearPairsCache()
            spark.catalog.clearCache()
          }
      }
    }
    spark.stop()
  }
}
