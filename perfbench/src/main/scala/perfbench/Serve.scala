package perfbench

import scala.collection.mutable
import scala.collection.parallel.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.operators.{AnnIvf, Knn, NswGraph, Serving}
import perfbench.Inputs.Bracket

/** Filtered top-10 serving over one seeded corpus, the reference's
  * product shape: closed-loop batches of 100 queries served from the
  * in-process replicas, rotating batch by batch through the three
  * rating brackets so every branch of the dispatcher runs: graph
  * over-fetch (low), resident pre-filter (high) and exact scan (mid).
  * The timed loop launches no Spark jobs. After the loop the oracle
  * sample is served through both tiers: the local one for recall, the
  * distributed dispatcher (queries as a DataFrame, a `Column` predicate)
  * to check its outputs and that every batch runs Spark jobs. */
object Serve extends Workload {
  val Vectors = 10000
  val Dim = 64
  val Cells = 32
  val M = 16
  val EfC = 64
  val NProbe = 4
  val EfSearch = 32
  val K = 10
  val OverFetchMult = 3
  val Batch = 100
  val PoolQueries = 3000
  val OracleQueries = 100
  /** Batches per bracket the traced run replays on each tier. */
  val LocalReplays = 30
  val SparkReplays = 2

  def name: String = "serve_local"
  override def tinyWarmup: Boolean = true
  override def warmupOps: Int = 6
  override def loopInstances: Int = 3
  override def opsPerTurn: Int = 3

  def sizes: Seq[(String, Json.Value)] = Seq(
    "vectors" -> Vectors, "dim" -> Dim, "mixture_clusters" -> Vectors / Inputs.RowsPerCluster,
    "cells" -> Cells, "graph_m" -> M, "graph_ef_construction" -> EfC,
    "nprobe" -> NProbe, "ef_search" -> EfSearch, "k" -> K,
    "batch_queries" -> Batch, "query_pool" -> PoolQueries,
    "oracle_queries_per_bracket" -> OracleQueries)

  def setup(ctx: Ctx, tracer: Tracer, phase: String, tiny: Boolean): Instance = {
    val n = if (tiny) 1000 else Vectors
    val spark = ctx.spark
    val (vecs, queries) = tracer.span("inputs.generate", phase) {
      (Inputs.mixture(ctx.seed, 1, n, Dim, n / Inputs.RowsPerCluster),
        Inputs.mixture(ctx.seed, 2, PoolQueries, Dim, n / Inputs.RowsPerCluster)
          .zipWithIndex.map { case (v, i) => (i.toLong, v) })
    }
    val ratings = Inputs.ratings(ctx.seed)
    val data = tracer.span("inputs.dataframe", phase) {
      val d = vectorFrame(spark, vecs, ratings, ctx.cores * 2)
        .persist(StorageLevel.MEMORY_ONLY)
      d.count()
      d
    }
    val centroids = tracer.span("ann_ivf.train", phase) {
      AnnIvf.train(data, Cells, iterations = 2).cache()
    }
    val indexed = tracer.span("ann_ivf.assign", phase) {
      val ix = AnnIvf.index(data, centroids).persist(StorageLevel.MEMORY_ONLY)
      ix.count()
      ix
    }
    data.unpersist()
    val graph = tracer.span("nsw_graph.build", phase) {
      val s = NswGraph.servableIndex(
        NswGraph.buildIndex(indexed, m = M, efConstruction = EfC))
      s.count()
      s
    }
    val graphRep = tracer.span("nsw_graph.replica", phase) {
      NswGraph.localReplica(graph, centroids)
    }
    val blocks = tracer.span("ann_ivf.servable", phase) {
      val c = AnnIvf.servableCells(indexed, attrCol = Some("rating_m"))
      c.count()
      c
    }
    val flatRep = tracer.span("ann_ivf.replica", phase) {
      AnnIvf.localCellReplica(blocks, centroids)
    }
    blocks.unpersist()
    new ServeInstance(spark, ctx.counts, vecs, queries, ratings, graphRep, flatRep,
      Serving.Artifacts(indexed, centroids, graph = Some(graph)), graph)
  }

  def vectorFrame(spark: SparkSession, vecs: Array[Array[Float]],
      ratings: Inputs.Ratings, slices: Int): DataFrame = {
    val schema = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType, containsNull = false),
        nullable = false),
      StructField("rating_m", DoubleType, nullable = false)))
    val rows = vecs.indices.map(i => Row(i.toLong, vecs(i), ratings.of(i)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, slices), schema)
  }

  def queryFrame(spark: SparkSession, qs: Seq[(Long, Array[Float])]): DataFrame = {
    import spark.implicits._
    qs.toDF("qid", "q_embedding")
  }

  /** The dispatcher's over-fetch width and beam width for a bracket
    * served with its selectivity hint (`Serving`'s integer rule). */
  def overFetch(b: Bracket): (Int, Int) = {
    val kF = math.min(4096, math.max(K, math.ceil(OverFetchMult * K / b.keep).toInt))
    (kF, math.max(EfSearch, kF))
  }

  def strategyKey(s: Serving.Strategy): String = s.name.replace('-', '_')

  type Rows = Seq[(Long, Long, Long, Double)]

  final class ServeInstance(spark: SparkSession, strategies: mutable.Map[String, Long],
      vecs: Array[Array[Float]],
      queries: Array[(Long, Array[Float])], ratings: Inputs.Ratings,
      graphRep: NswGraph.LocalReplica, flatRep: AnnIvf.LocalCellReplica,
      art: Serving.Artifacts, graph: RDD[NswGraph.ServableCell]) extends Instance {
    private var truth: Map[String, Map[Long, Seq[Long]]] = Map.empty
    /** Wall intervals of the distributed calls, for the job check. */
    private val sparkCalls = mutable.ArrayBuffer.empty[(Long, Long)]
    private var keptFrac = 0.0

    private def keep(b: Bracket): Long => Boolean = id => b.accepts(ratings.of(id))

    private def batchOf(i: Int): (Bracket, Array[(Long, Array[Float])]) = {
      val b = Inputs.Brackets(i % 3)
      val start = (i / 3 * Batch) % queries.length
      (b, Array.tabulate(Batch)(j => queries((start + j) % queries.length)))
    }

    private def local(b: Bracket, qs: Array[(Long, Array[Float])])
        : (Serving.Strategy, Rows) = {
      val (s, rows) = Serving.serveFilteredLocalExplained(flatRep, Some(graphRep),
        qs, K, b.accepts, nprobe = NProbe, efSearch = EfSearch,
        overFetchMult = OverFetchMult, selectivity = Some(b.keep))
      (s, rows.toSeq)
    }

    private def distributed(b: Bracket, qs: Array[(Long, Array[Float])])
        : (Serving.Strategy, Rows) = {
      val (s, df) = Serving.serveFilteredExplained(art, queryFrame(spark, qs.toSeq),
        K, col("rating_m") < b.threshold, nprobe = NProbe, efSearch = EfSearch,
        overFetchMult = OverFetchMult, selectivity = Some(b.keep))
      (s, df.select(col("qid").cast("long"), col("rank").cast("long"),
        col("neighbor_id").cast("long"), col("dist").cast("double"))
        .collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))))
    }

    /** The branch each bracket must take on each tier. */
    private def expected(b: Bracket, isLocal: Boolean): Serving.Strategy = b.name match {
      case "low" => Serving.GraphOverfetch
      case "high" => if (isLocal) Serving.IvfPrefilterResident else Serving.IvfPrefilter
      case _ => Serving.ExactScan
    }

    private def checked(b: Bracket, isLocal: Boolean, qs: Array[(Long, Array[Float])],
        s: Serving.Strategy, rows: Rows): Seq[String] = {
      strategies(strategyKey(s)) = strategies.getOrElse(strategyKey(s), 0L) + 1
      val want = expected(b, isLocal)
      (if (s == want) Nil
       else Seq(s"${b.name}: dispatcher ran ${s.name}, expected ${want.name}")) ++
        Oracle.checkBatch(rows, qs.toSeq, K, keep(b), vecs)
    }

    override def prepare(): Unit = {
      val sample = queries.take(OracleQueries)
      truth = Inputs.Brackets.map { b =>
        val kp = keep(b)
        b.name -> sample.toSeq.par.map { case (qid, q) =>
          qid -> Oracle.topK(vecs, kp, q, K).toSeq.map(_._1) }.seq.toMap
      }.toMap
    }

    def op(i: Int, tracer: Tracer, opId: String): OpOutcome = {
      val (b, qs) = batchOf(i)
      val ((s, rows), ns) = Layers.timed {
        tracer.span(s"serving.serveFilteredLocalExplained.${b.name}", opId)(local(b, qs))
      }
      OpOutcome(qs.length, ns, checked(b, isLocal = true, qs, s, rows))
    }

    /** Serves the oracle sample through the local tier, and on the first
      * instance through the distributed one too; the local recall is the
      * workload's recall. */
    def verify(tracer: Tracer, first: Boolean): Verified = {
      val errs = Seq.newBuilder[String]
      val hits = Array.fill(2)(0L)
      var all = 0L
      Inputs.Brackets.foreach { b =>
        queries.take(OracleQueries).grouped(Batch).foreach { qs =>
          val t = qs.map(q => q._1 -> truth(b.name)(q._1)).toMap
          all += t.valuesIterator.map(_.size).sum
          Seq(true, false).zipWithIndex.filter(first || _._1).foreach { case (isLocal, slot) =>
            val ms0 = System.currentTimeMillis()
            val (s, rows) =
              if (isLocal) local(b, qs)
              else tracer.span(s"serving.serveFilteredExplained.${b.name}", "verify")(
                distributed(b, qs))
            if (!isLocal) sparkCalls += ((ms0, System.currentTimeMillis()))
            errs ++= checked(b, isLocal, qs, s, rows)
            hits(slot) += Oracle.overlap(
              rows.groupBy(_._1).map { case (q, rs) => q -> rs.map(_._3) }, t)._1
          }
        }
      }
      Verified(errs.result(), hits(0).toDouble / all,
        if (first) Seq("spark_tier_recall" -> hits(1).toDouble / all) else Nil)
    }

    override def checkJobs(jobs: Seq[SparkCounters.JobRec],
        timedJobsPerOp: Seq[Int]): Seq[String] = {
      val n = timedJobsPerOp.sum
      val none = sparkCalls.count { case (a, b) => SparkCounters.window(jobs, a, b).jobs == 0 }
      (if (n == 0) Nil
       else Seq(s"in-process serving launched $n Spark jobs in the timed phase")) ++
        (if (none == 0) Nil
         else Seq(s"$none distributed serving batches ran without a Spark job"))
    }

    /** Replays, batch for batch, the kernel the dispatcher chose for each
      * bracket, with the dispatcher's own arguments, on both tiers. */
    override def replay(tracer: Tracer): Unit = {
      var fetched = 0L
      var kept = 0L
      (0 until 3 * LocalReplays).foreach { i =>
        val (b, qs) = batchOf(i)
        val op = s"replay.${b.name}"
        b.name match {
          case "low" =>
            val (kF, efF) = overFetch(b)
            val rows = tracer.span("nsw_graph.searchLocalQueries", op) {
              NswGraph.searchLocalQueries(graphRep, qs, kF, NProbe, efF)
            }
            fetched += rows.length
            kept += rows.groupBy(_._1).valuesIterator
              .map(rs => math.min(K, rs.count(r => b.accepts(ratings.of(r._3))))).sum
          case "high" =>
            tracer.span("ann_ivf.searchLocalCellsQueries", op) {
              AnnIvf.searchLocalCellsQueries(flatRep, qs, K, NProbe,
                attrPred = Some(b.accepts))
            }
          case _ =>
            tracer.span("ann_ivf.searchLocalExactQueries", op) {
              AnnIvf.searchLocalExactQueries(flatRep, qs, K, attrPred = Some(b.accepts))
            }
        }
      }
      keptFrac = if (fetched == 0) 0.0 else kept.toDouble / fetched
      (0 until 3 * SparkReplays).foreach { i =>
        val (b, qs) = batchOf(i)
        val op = s"replay.${b.name}"
        val qdf = queryFrame(spark, qs.toSeq)
        val survivors = art.indexed.filter(col("rating_m") < b.threshold)
        b.name match {
          case "low" =>
            val (kF, efF) = overFetch(b)
            tracer.span("nsw_graph.searchServable", op) {
              NswGraph.searchServable(graph, art.centroids, qdf, kF, NProbe, efF).collect()
            }
          case "high" =>
            tracer.span("ann_ivf.searchFast", op) {
              AnnIvf.searchFast(survivors, art.centroids, qdf, K, NProbe).collect()
            }
          case _ =>
            tracer.span("knn.exact", op)(Knn.exact(survivors, qdf, K).collect())
        }
      }
    }

    def layers(spans: Seq[Span]): Map[String, Double] = {
      val kernels = Map("low" -> "nsw_graph.searchLocalQueries",
        "high" -> "ann_ivf.searchLocalCellsQueries",
        "mid" -> "ann_ivf.searchLocalExactQueries")
      def call(b: Bracket) =
        Layers.medianMs(spans, s"serving.serveFilteredLocalExplained.${b.name}")
      val overhead = Inputs.Brackets.map(b => call(b) - Layers.medianMs(spans, kernels(b.name)))
      val setup = Seq("ann_ivf.train", "ann_ivf.assign", "ann_ivf.servable",
        "ann_ivf.replica", "nsw_graph.build", "nsw_graph.replica").map(n =>
        s"${n}_s" -> Layers.setupSeconds(spans, n))
      val strategy = Seq(Serving.GraphOverfetch, Serving.IvfPrefilter,
        Serving.IvfPrefilterResident, Serving.ExactScan).map(s =>
        s"serving.strategy.${strategyKey(s)}" -> strategies.getOrElse(strategyKey(s), 0L).toDouble)
      val calls = Inputs.Brackets.flatMap(b => Seq(
        s"serving.local_call_ms.${b.name}" -> call(b),
        s"serving.spark_call_ms.${b.name}" ->
          Layers.medianMs(spans, s"serving.serveFilteredExplained.${b.name}")))
      (setup ++ strategy ++ calls).toMap ++ Map(
        "ann_ivf.replica_mb" -> flatRep.approxBytes / 1048576.0,
        "nsw_graph.local_beam_ms" -> Layers.medianMs(spans, kernels("low")),
        "ann_ivf.local_scan_ms" -> Layers.medianMs(spans, kernels("high")),
        "ann_ivf.local_exact_ms" -> Layers.medianMs(spans, kernels("mid")),
        "serving.overfetch_kept_frac" -> keptFrac,
        "serving.local_overhead_ms" -> overhead.sum / overhead.size,
        "nsw_graph.search_servable_ms" -> Layers.medianMs(spans, "nsw_graph.searchServable"),
        "ann_ivf.search_fast_ms" -> Layers.medianMs(spans, "ann_ivf.searchFast"),
        "knn.exact_ms" -> Layers.medianMs(spans, "knn.exact"))
    }

    def close(): Unit = {
      graph.unpersist(blocking = true)
      art.indexed.unpersist(blocking = true)
      art.centroids.unpersist(blocking = true)
    }
  }
}
