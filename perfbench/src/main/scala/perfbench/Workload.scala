package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one operation of a workload did: the items it completed
  * (queries, grid configurations, documents), the nanoseconds spent in
  * the program's calls (the benchmark's own checks excluded) and every
  * output check it violated. */
final case class OpOutcome(items: Long, ns: Long, errors: Seq[String])

/** Checks made outside the timed loop: the violations found, the
  * workload's recall, and figures only the result record keeps. */
final case class Verified(errors: Seq[String], recall: Double,
    record: Seq[(String, Json.Value)] = Nil)

/** Context shared by a run's phases; `counts` are run-wide counters
  * that every instance adds to. */
final case class Ctx(spark: SparkSession, seed: Long, cores: Int,
    counts: mutable.Map[String, Long] = mutable.LinkedHashMap.empty)

/** A workload: inputs, the program's artifacts built from them, and the
  * operation the timed loop repeats. */
trait Workload {
  def name: String
  /** Input sizes of the measured instance, for the result record. */
  def sizes: Seq[(String, Json.Value)]
  /** Generates the inputs and builds the program's artifacts. `tiny`
    * builds the small warm-up instance instead of the measured one. */
  def setup(ctx: Ctx, tracer: Tracer, phase: String, tiny: Boolean): Instance
  /** Whether a tiny instance is built and exercised before the timed
    * set-ups. Worth it only where set-up is the expensive part: a tiny
    * pass of a job-bound pipeline costs as much as a full one. */
  def tinyWarmup: Boolean = false
  /** Untimed operations before the timed loop, on the tiny instance and
    * again on each measured one. */
  def warmupOps: Int = 1
  /** Timed set-ups, each of its own corpus; `setup_s` is their median. */
  def setupReps: Int = 3
  /** Measured instances the timed loop rotates over, and consecutive
    * operations on one instance per turn. */
  def loopInstances: Int = 1
  def opsPerTurn: Int = 1
}

trait Instance {
  /** Work that belongs to neither set-up nor the timed loop, such as
    * computing the oracle. */
  def prepare(): Unit = ()
  /** Operation `i` of the closed loop. */
  def op(i: Int, tracer: Tracer, opId: String): OpOutcome
  /** Untimed clean-up between operations. */
  def afterOp(): Unit = ()
  /** Output checks and recall outside the timed loop; `first` marks the
    * first measured instance, which alone gets the checks that launch
    * Spark jobs of their own. */
  def verify(tracer: Tracer, first: Boolean): Verified
  /** Checks on the Spark jobs: all jobs the listener saw, and the number
    * submitted during each timed operation. */
  def checkJobs(jobs: Seq[SparkCounters.JobRec], timedJobsPerOp: Seq[Int]): Seq[String] = Nil
  /** Traced runs only: direct calls into the layers under the workload's
    * operation, recorded as spans. */
  def replay(tracer: Tracer): Unit = ()
  /** Per-layer metrics of this workload from the spans of a traced run;
    * set-up spans have phase ids starting with "setup". */
  def layers(spans: Seq[Span]): Map[String, Double]
  /** Releases the instance's cached data before returning. */
  def close(): Unit
}

/** Helpers for deriving per-layer metrics from spans. */
object Layers {
  /** Median over set-up repetitions of the seconds spent in spans named
    * `name`; 0 when the layer was not called. */
  def setupSeconds(spans: Seq[Span], name: String): Double = {
    val per = spans.filter(s => s.op.startsWith("setup") && s.name == name)
      .groupBy(_.op).values.map(_.map(_.durNs).sum / 1e9).toSeq
    if (per.isEmpty) 0.0 else Stats.median(per)
  }

  /** Median duration in milliseconds of the spans named `name`; 0 when
    * the layer was not called. */
  def medianMs(spans: Seq[Span], name: String): Double = {
    val ds = spans.filter(_.name == name).map(_.durNs / 1e6)
    if (ds.isEmpty) 0.0 else Stats.median(ds)
  }

  /** Times `body` in nanoseconds. */
  def timed[T](body: => T): (T, Long) = {
    val t0 = System.nanoTime()
    val r = body
    (r, System.nanoTime() - t0)
  }
}
