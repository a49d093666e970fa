package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{coalesce, col}
import org.apache.spark.storage.StorageLevel

import graft.operators.{Analytics, GridSearch}

/** The reference's own benchmark pipeline, one sweep per operation:
  * shared ground truth, the IVF grid (npartitions 8/16 x nprobe 1-8) and
  * the NSW grid over shared quantizers, then the Pareto / bracket /
  * best-config summaries. Each sweep rebuilds every index, so this
  * workload mixes index builds with searches and many small actions. */
object Grid extends Workload {
  val Vectors = 10000
  val Queries = 100
  val Dim = 64
  val K = 10
  private val bracket = Inputs.Brackets.head

  // set-up is one short Spark job, so it takes many repetitions to
  // give a steady median
  override def setupReps: Int = 9

  def name: String = "grid_sweep"

  def sizes: Seq[(String, Json.Value)] = Seq(
    "vectors" -> Vectors, "queries" -> Queries, "dim" -> Dim, "k" -> K,
    "filter" -> bracket.name, "ivf_configs" -> GridSearch.defaultGrid.size,
    "nsw_configs" -> GridSearch.defaultNswGrid.size)

  def setup(ctx: Ctx, tracer: Tracer, phase: String, tiny: Boolean): Instance = {
    val (vecs, qs) = tracer.span("inputs.generate", phase) {
      (Inputs.mixture(ctx.seed, 1, Vectors, Dim, Vectors / Inputs.RowsPerCluster),
        Inputs.mixture(ctx.seed, 2, Queries, Dim, Vectors / Inputs.RowsPerCluster)
          .zipWithIndex.map { case (v, i) => (i.toLong, v) })
    }
    val ratings = Inputs.ratings(ctx.seed)
    val inst = new GridInstance(ctx, vecs, qs, ratings)
    tracer.span("inputs.dataframe", phase)(inst.materialize())
    inst
  }

  final class GridInstance(ctx: Ctx, vecs: Array[Array[Float]],
      qs: Array[(Long, Array[Float])], ratings: Inputs.Ratings) extends Instance {
    private val spark = ctx.spark
    private val filterCol = col("rating_m") < bracket.threshold
    private var data: DataFrame = _
    private var queries: DataFrame = _
    private var oracle: Map[Long, Array[(Long, Double)]] = Map.empty
    private val candidates = mutable.ArrayBuffer.empty[Double]
    /** Best recall of each (algo, npartitions) group in the last sweep. */
    private var bestRecalls: Seq[Double] = Nil

    def materialize(): Unit = {
      data = Serve.vectorFrame(spark, vecs, ratings, ctx.cores * 2)
        .persist(StorageLevel.MEMORY_ONLY)
      queries = Serve.queryFrame(spark, qs.toSeq).cache()
      data.count(); queries.count()
    }

    override def prepare(): Unit = {
      val keep: Long => Boolean = id => bracket.accepts(ratings.of(id))
      oracle = qs.map { case (qid, q) => qid -> Oracle.topK(vecs, keep, q, K) }.toMap
    }

    def op(i: Int, tracer: Tracer, opId: String): OpOutcome = {
      val errs = Seq.newBuilder[String]
      val t0 = System.nanoTime()
      val truth = tracer.span("knn.truth", opId) {
        val t = GridSearch.truthSetsOf(data, queries, filterCol, K).cache()
        t.count()
        t
      }
      val filtered = data.filter(filterCol).cache()
      val quant = tracer.span("grid_search.quantizers", opId) {
        GridSearch.trainQuantizers(filtered, Seq(8, 16))
      }
      val ivf = tracer.span("grid_search.run", opId) {
        GridSearch.run(spark, data, queries, bracket.name, filterCol, vecs.length,
          precomputedTruth = Some(truth), sharedQuantizers = quant)
      }
      val ivfRows = ivf.collect()
      val nsw = tracer.span("grid_search.runNsw", opId) {
        GridSearch.runNsw(spark, data, queries, bracket.name, filterCol, vecs.length,
          precomputedTruth = Some(truth), sharedQuantizers = quant)
      }
      val nswRows = nsw.collect()
      val results = ivf.unionByName(nsw, allowMissingColumns = true)
        .select(col("algo"), col("npartitions"),
          coalesce(col("nprobe"), col("ef_search")).as("cost_knob"),
          col("recall"), col("n_candidates"))
      val (pareto, best, brackets) = tracer.span("analytics.summary", opId) {
        (Analytics.paretoFrontier(results, Seq("algo", "npartitions"),
          "cost_knob", "recall", tieCols = Seq("n_candidates")).collect(),
          Analytics.bestBy(results, Seq("algo", "npartitions"), "recall",
            Seq("cost_knob")).collect(),
          Analytics.bracketSummary(ivf, "npartitions").collect())
      }
      val ns = System.nanoTime() - t0
      val truthRows = truth.collect()
      truth.unpersist(); filtered.unpersist()
      quant.values.foreach { case (c, ix, _) => c.unpersist(); ix.unpersist() }

      candidates += ivfRows.map(r => r.getAs[Long]("n_candidates")).sum.toDouble
      errs ++= checkTruth(truthRows)
      errs ++= checkIvf(ivfRows)
      (ivfRows ++ nswRows).foreach { r =>
        if (!r.isNullAt(r.fieldIndex("error")))
          errs += s"grid row ${r.getAs[String]("algo")} failed: ${r.getAs[String]("error")}"
        else if (!(r.getAs[Double]("recall") > 0.0 && r.getAs[Double]("recall") <= 1.0))
          errs += s"grid row ${r.getAs[String]("algo")} recall ${r.getAs[Double]("recall")}"
      }
      def row(r: Row, knob: String) = (r.getAs[String]("algo"),
        r.getAs[Int]("npartitions"), r.getAs[Int](knob), r.getAs[Long]("n_candidates"),
        r.getAs[Double]("recall"))
      errs ++= checkAnalytics(
        (ivfRows.map(row(_, "nprobe")) ++ nswRows.map(row(_, "ef_search"))).toSeq,
        pareto, best)
      if (brackets.map(_.getAs[Long]("n_configs")).sum != ivfRows.length)
        errs += "bracket summary does not cover every ivf configuration"
      bestRecalls = best.map(_.getAs[Double]("best_recall")).toSeq
      OpOutcome(ivfRows.length + nswRows.length, ns, errs.result())
    }

    /** Each ground-truth neighbour must lie within the oracle's k-th
      * distance (ties at the boundary may resolve either way). */
    private def checkTruth(rows: Array[Row]): Seq[String] = {
      val got = rows.map(r => r.getAs[Long]("qid") -> r.getAs[scala.collection.Seq[Long]]("gt_ids")).toMap
      oracle.toSeq.flatMap { case (qid, want) =>
        val ids = got.getOrElse(qid, Nil)
        val kth = want.last._2 * (1 + 1e-6)
        val q = qs(qid.toInt)._2
        if (ids.size != want.length) Seq(s"truth for qid $qid has ${ids.size} ids")
        else ids.filter(id => !bracket.accepts(ratings.of(id)) ||
            Oracle.sqDist(vecs(id.toInt), q) > kth)
          .map(id => s"truth for qid $qid lists $id outside the oracle's top-$K")
      }
    }

    /** Recall is 1.0 when every cell is probed and never falls as
      * nprobe grows. */
    private def checkIvf(rows: Array[Row]): Seq[String] =
      rows.groupBy(_.getAs[Int]("npartitions")).toSeq.flatMap { case (np, rs) =>
        val byProbe = rs.map(r => r.getAs[Int]("nprobe") -> r.getAs[Double]("recall"))
          .sortBy(_._1)
        val full = byProbe.filter(_._1 >= np).filter(_._2 != 1.0)
          .map { case (p, r) => s"ivf np=$np nprobe=$p: recall $r, expected 1.0" }
        val falls = byProbe.sliding(2).collect {
          case Array((p1, r1), (p2, r2)) if r2 < r1 =>
            s"ivf np=$np: recall falls from $r1 at nprobe=$p1 to $r2 at nprobe=$p2"
        }
        full ++ falls
      }

    /** Recomputes the Pareto frontier and the best configuration of
      * each (algo, npartitions) group from the result rows. */
    private def checkAnalytics(rows: Seq[(String, Int, Int, Long, Double)],
        pareto: Array[Row], best: Array[Row]): Seq[String] = {
      val groups = rows.groupBy(r => (r._1, r._2))
      val wantPareto = groups.values.flatMap { rs =>
        var runMax = Double.NegativeInfinity
        rs.sortBy(r => (r._3, r._4)).flatMap { r =>
          val keep = r._5 > runMax
          runMax = math.max(runMax, r._5)
          if (keep) Some((r._1, r._2, r._3, r._4)) else None
        }
      }.toSet
      val gotPareto = pareto.map(r => (r.getAs[String]("algo"),
        r.getAs[Int]("npartitions"), r.getAs[Int]("cost_knob"),
        r.getAs[Long]("n_candidates"))).toSet
      val wantBest = groups.map { case (g, rs) => g -> rs.map(_._5).max }
      val gotBest = best.map(r => (r.getAs[String]("algo"), r.getAs[Int]("npartitions")) ->
        r.getAs[Double]("best_recall")).toMap
      (if (wantPareto != gotPareto) Seq("pareto frontier differs from the recomputed one")
       else Nil) ++
        (if (wantBest != gotBest) Seq("best configurations differ from the recomputed ones")
         else Nil)
    }

    /** The sweep's recall figure: its best configuration's recall,
      * averaged over the (algo, npartitions) groups. */
    def verify(tracer: Tracer, first: Boolean): Verified =
      Verified(Nil, if (bestRecalls.isEmpty) 0.0 else bestRecalls.sum / bestRecalls.size)

    def layers(spans: Seq[Span]): Map[String, Double] = Map(
      "knn.truth_s" -> Layers.medianMs(spans, "knn.truth") / 1e3,
      "grid_search.quantizers_s" -> Layers.medianMs(spans, "grid_search.quantizers") / 1e3,
      "grid_search.ivf_s" -> Layers.medianMs(spans, "grid_search.run") / 1e3,
      "grid_search.nsw_s" -> Layers.medianMs(spans, "grid_search.runNsw") / 1e3,
      "analytics.summary_s" -> Layers.medianMs(spans, "analytics.summary") / 1e3,
      "grid_search.candidates" ->
        (if (candidates.isEmpty) 0.0 else Stats.median(candidates.toSeq)))

    def close(): Unit = {
      data.unpersist(blocking = true); queries.unpersist(blocking = true)
    }
  }
}
