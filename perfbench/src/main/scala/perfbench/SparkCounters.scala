package perfbench

import scala.collection.mutable

import org.apache.spark.{PerfbenchBus, SparkContext}
import org.apache.spark.scheduler._

/** Spark runtime counters from a listener the benchmark registers.
  * Listener callbacks run on the bus thread; every read goes through
  * `settled`, which drains the bus first (a happens-before edge with
  * the callbacks) and then checks that every job seen starting has also
  * been seen ending. */
final class SparkCounters private (sc: SparkContext) extends SparkListener {
  import SparkCounters._

  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val j = new JobRec(e.jobId, e.time)
    j.stages = e.stageIds.size
    jobs(e.jobId) = j
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid)) {
      j.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.taskMs += m.executorRunTime
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Every job recorded so far, once the bus is drained. Fails when a
    * job was seen starting but its end never arrived. */
  def settled(): Seq[JobRec] = {
    PerfbenchBus.drain(sc, 60000L)
    synchronized {
      val open = jobs.values.filter(_.endMs < 0).map(_.id)
      require(open.isEmpty,
        s"listener saw jobs start without an end event: ${open.mkString(",")}")
      jobs.values.map(_.snapshot()).toSeq
    }
  }
}

object SparkCounters {

  /** One job as the listener saw it; task counters are summed over the
    * job's stages. */
  final class JobRec(val id: Int, val submitMs: Long) {
    var endMs: Long = -1L
    var stages: Int = 0
    var tasks: Long = 0L
    var taskMs: Long = 0L
    var shuffleRead: Long = 0L
    var shuffleWrite: Long = 0L
    var spill: Long = 0L
    def snapshot(): JobRec = {
      val j = new JobRec(id, submitMs)
      j.endMs = endMs; j.stages = stages; j.tasks = tasks; j.taskMs = taskMs
      j.shuffleRead = shuffleRead; j.shuffleWrite = shuffleWrite; j.spill = spill
      j
    }
  }

  def register(sc: SparkContext): SparkCounters = {
    val c = new SparkCounters(sc)
    sc.addSparkListener(c)
    c
  }

  /** Runtime counters of the jobs submitted inside one wall interval. */
  final case class Window(jobs: Int, stages: Int, tasks: Long, taskMs: Long,
      shuffleRead: Long, shuffleWrite: Long, spill: Long, floorMs: Long,
      wallMs: Long)

  /** Jobs are attributed to the interval that contains their
    * submission; one client calls at a time, so intervals of
    * consecutive operations do not overlap. `floorMs` is the part of
    * the interval during which no attributed job was running. */
  def window(all: Seq[JobRec], fromMs: Long, toMs: Long): Window = {
    val js = all.filter(j => j.submitMs >= fromMs && j.submitMs <= toMs)
    val busy = Trace.covered(js.map(j =>
      (math.max(j.submitMs, fromMs), math.min(math.max(j.endMs, j.submitMs), toMs))))
    Window(js.size, js.map(_.stages).sum, js.map(_.tasks).sum,
      js.map(_.taskMs).sum, js.map(_.shuffleRead).sum,
      js.map(_.shuffleWrite).sum, js.map(_.spill).sum,
      math.max(0L, (toMs - fromMs) - busy), toMs - fromMs)
  }

  /** Innermost span containing each job's submission, as job counts
    * per span id. */
  def jobsBySpan(all: Seq[JobRec], spans: Seq[Span]): Map[Int, Int] = {
    val depth = mutable.HashMap.empty[Int, Int]
    val byId = spans.map(s => s.id -> s).toMap
    def d(s: Span): Int = depth.getOrElseUpdate(s.id,
      if (s.parent < 0) 0 else byId.get(s.parent).map(d).getOrElse(0) + 1)
    all.flatMap { j =>
      spans.filter(s => j.submitMs >= s.startMs && j.submitMs <= s.endMs)
        .sortBy(s => (-d(s), -s.startMs)).headOption.map(_.id)
    }.groupBy(identity).map { case (id, xs) => id -> xs.size }
  }
}
