package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Shim
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Analytics, AnnIvf, GridSearch}

/** Grid-search runner + analytics determinism. */
class GridSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  private val sf = TestSpark.sf

  // shared truth + quantizers for the parity and job-count pins, as the
  // benchmark and the grid_* pack share them
  private var fixtureBuilt = false
  private lazy val fixture = {
    fixtureBuilt = true
    val data = SparkEntry.dataDf(spark, sf)
    val queries = SparkEntry.queriesDf(spark, sf)
    val filtered = data.filter(SparkEntry.filterLow).cache()
    val truth = GridSearch.truthSetsOf(data, queries, SparkEntry.filterLow)
      .cache()
    truth.count()
    val quant = GridSearch.trainQuantizers(filtered, Seq(8, 16))
    (data, queries, filtered, truth, quant)
  }

  override def afterAll(): Unit = {
    if (fixtureBuilt) {
      val (_, _, filtered, truth, quant) = fixture
      quant.values.foreach { case (c, ix, _) => c.unpersist(); ix.unpersist() }
      truth.unpersist(); filtered.unpersist()
    }
    super.afterAll()
  }

  private def runShared(truth: DataFrame): DataFrame = {
    val (data, queries, _, _, quant) = fixture
    GridSearch.run(spark, data, queries, "low", SparkEntry.filterLow,
      totalBase = 1, precomputedTruth = Some(truth), sharedQuantizers = quant)
  }

  /** The fan-out evaluation the heap pass replaced, as a reference plan:
    * probe ranks at max nprobe, every candidate row copied to each
    * level >= its rank, per-(level, qid) `graft_topk` + candidate count,
    * LEFT truth join (a query without truth adds 0 to both recall
    * terms). (npartitions, nprobe) -> (recall rounded as `run` rounds
    * it, n_candidates). */
  private def fanOutReference(truth: DataFrame): Map[(Int, Int), (Double, Long)] = {
    val (_, queries, _, _, quant) = fixture
    GridSearch.defaultGrid.groupBy(_.npartitions).toSeq.flatMap {
      case (np, combos) =>
        val (centroids, indexed, _) = quant(np)
        val nprobes = combos.map(_.nprobe).distinct.sorted
        val probes = AnnIvf.probeRanks(centroids, queries, nprobes.max)
          .withColumnRenamed("cid", "pcid")
          .join(queries, "qid")
        indexed.join(broadcast(probes), indexed("cid") === probes("pcid"))
          .join(broadcast(nprobes.toDF("np")), $"r" <= $"np")
          .select($"np", $"qid", $"vec_id".cast("long").as("_nnid"),
            GraftFunctions.sqDist($"embedding", $"q_embedding").as("_dist"))
          .groupBy($"np", $"qid")
          .agg(GraftFunctions.topK(10, $"_dist", $"_nnid").as("topk"),
            count(lit(1)).as("qcand"))
          .select($"np", $"qid", $"topk.id".as("found_ids"), $"qcand")
          .join(broadcast(truth), Seq("qid"), "left")
          .withColumn("gt_ids",
            coalesce($"gt_ids", array().cast("array<bigint>")))
          .groupBy($"np")
          .agg(
            coalesce(
              sum(size(array_intersect($"found_ids", $"gt_ids")))
                / sum(size($"gt_ids")), lit(0.0)).as("recall"),
            sum($"qcand").as("n_cand"))
          .collect()
          .map(r => (np, r.getInt(0)) ->
            (math.rint(r.getDouble(1) * 1e6) / 1e6, r.getLong(2)))
    }.toMap
  }

  private def recallAndCandidates(res: DataFrame): Map[(Int, Int), (Double, Long)] =
    res.select($"npartitions", $"nprobe", $"recall", $"n_candidates", $"error")
      .collect().map { r =>
        assert(r.isNullAt(4), s"error row: ${r.getString(4)}")
        (r.getInt(0), r.getInt(1)) -> (r.getDouble(2), r.getLong(3))
      }.toMap

  test("heap-pass grid equals the fan-out reference plan on every combo") {
    val truth = fixture._4
    val got = recallAndCandidates(runShared(truth))
    assert(got.keySet == GridSearch.defaultGrid
      .map(c => (c.npartitions, c.nprobe)).toSet)
    assert(got == fanOutReference(truth))
  }

  test("heap-pass grid equals the fan-out reference when some query " +
      "has no truth row") {
    val (_, queries, _, truth, _) = fixture
    // every third query loses its truth row: it still counts toward
    // n_candidates and adds 0 to both recall terms
    val partial = truth.filter($"qid" % 3 =!= 0)
    assert(partial.count() < queries.count() && partial.count() > 0)
    val got = recallAndCandidates(runShared(partial))
    assert(got == fanOutReference(partial))
    // candidates do not depend on truth; recall does
    val full = recallAndCandidates(runShared(truth))
    assert(got.map { case (c, v) => c -> v._2 } ==
      full.map { case (c, v) => c -> v._2 })
  }

  test("one GridSearch.run with shared truth and quantizers stays a " +
      "short job chain") {
    // the two input counts, the truth collect, and per npartitions
    // group the centroid collect, the probe collect and the heap pass,
    // AQE stage jobs included
    val maxJobs = 14 // 13 measured on the fixture, plus one of slack
    val truth = fixture._4
    val sc = spark.sparkContext
    Shim.drainListenerBus(spark)
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try runShared(truth).collect()
    finally {
      Shim.drainListenerBus(spark)
      sc.removeSparkListener(listener)
    }
    assert(jobs.get > 0)
    assert(jobs.get <= maxJobs, s"${jobs.get} jobs > $maxJobs")
  }

  // gridResults is the harmonized union of BOTH algo sweeps (J8);
  // ivf rows carry nprobe, nsw rows carry (m, ef_search)
  private lazy val allResults = AnnQueries.gridResults(spark, sf)
  private lazy val results = allResults.filter($"algo" === "ivf")

  test("grid produces one row per pruned combo, both algos present") {
    assert(results.count() == GridSearch.defaultGrid.size)
    assert(results.filter($"nprobe" > $"npartitions").count() == 0)
    val nsw = allResults.filter($"algo" === "nsw")
    assert(nsw.count() == GridSearch.defaultNswGrid.size)
    // harmonized columns: nsw rows have null nprobe but real recall
    assert(nsw.filter($"nprobe".isNotNull).count() == 0)
    assert(nsw.filter($"recall".between(0.0, 1.0)).count() == nsw.count())
    // recall rises (weakly) with efSearch per (npartitions, m)
    val byBuild = nsw.select($"npartitions", $"m", $"ef_search", $"recall")
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getInt(2), r.getDouble(3)))
      .groupBy(_._1)
    byBuild.values.foreach { rows =>
      val sorted = rows.sortBy(_._2).map(_._3)
      assert(sorted.sliding(2).forall(p => p.length < 2 || p(0) <= p(1) + 1e-9),
        s"nsw recall not monotone in efSearch: ${rows.toSeq}")
    }
  }

  test("nsw sweep degrades to error rows when the quantizer cannot train") {
    val data = SparkEntry.dataDf(spark, sf)
    val queries = SparkEntry.queriesDf(spark, sf)
    // an impossible filter starves AnnIvf.train — every combo of the
    // sweep must come back as an error row, never an exception (P9)
    val res = GridSearch.runNsw(spark, data, queries, "none",
      lit(false), totalBase = 1)
    val rows = res.select($"algo", $"error").collect()
    assert(rows.length == GridSearch.defaultNswGrid.size)
    assert(rows.forall(r => r.getString(0) == "nsw" && !r.isNullAt(1)))
  }

  test("recall deterministic and monotone in nprobe per npartitions") {
    val byPart = results.select($"npartitions", $"nprobe", $"recall")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
      .groupBy(_._1)
    byPart.values.foreach { rows =>
      val sorted = rows.sortBy(_._2).map(_._3)
      assert(sorted.sliding(2).forall(p => p.length < 2 || p(0) <= p(1) + 1e-9),
        s"recall not monotone: ${rows.toSeq}")
    }
    // full probe = exact
    val full = results.filter($"nprobe" === $"npartitions")
      .select($"recall").collect().map(_.getDouble(0))
    assert(full.forall(r => math.abs(r - 1.0) < 1e-9))
  }

  test("pareto frontier strictly improves recall along nprobe") {
    val f = Analytics.paretoFrontier(
      results.select($"algo", $"npartitions", $"nprobe", $"recall"),
      Seq("algo", "npartitions"), "nprobe", "recall")
      .collect().map(r => (r.getInt(1), r.getInt(2), r.getDouble(3)))
      .groupBy(_._1)
    f.values.foreach { rows =>
      val s = rows.sortBy(_._2)
      assert(s.sliding(2).forall(p => p.length < 2 || p(0)._3 < p(1)._3))
    }
  }

  test("n_candidates grows with nprobe (cost knob is real)") {
    val rows = results.filter($"npartitions" === 16)
      .select($"nprobe", $"n_candidates").collect()
      .map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    assert(rows.sliding(2).forall(p => p.length < 2 || p(0)._2 < p(1)._2),
      s"candidates not increasing: ${rows.toSeq}")
  }

  test("csv results sink round-trips the sweep (S6)") {
    // the reference writes the results table as CSV after each combo
    // and at the end (cuvs_bench_grid_search_v3.py:692-693, 728-729)
    val tmp = java.nio.file.Files.createTempDirectory("graft_csv").toString
    results.drop("error")
      .write.mode("overwrite").option("header", "true").csv(tmp)
    val back = spark.read.option("header", "true")
      .option("inferSchema", "true").csv(tmp)
    assert(back.count() == results.count())
    val a = results.select($"npartitions", $"nprobe",
        round($"recall", 6).as("r")).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2))).toSet
    val b = back.select($"npartitions", $"nprobe",
        round($"recall", 6).as("r")).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2))).toSet
    assert(a == b)
  }

  test("yaml config source drives filters and the param grid (S7)") {
    import graft.sources.ConfigSource
    val cfg = ConfigSource.parse(
      """# engine sweep config (filter_config.yaml/params_config.yaml shape)
        |filters:
        |  low_label:
        |    ranges:
        |      - [0.0, 3.0]
        |      - [4.0, 6.0]
        |  mid_label:
        |    ranges:
        |      - [5.0, 6.0]
        |grid:
        |  npartitions: [8, 16]
        |  nprobe: [1, 2, 4, 8]
        |defaults:
        |  k: 10
        |""".stripMargin)
    val filters = ConfigSource.rangeFilters(cfg)
    assert(filters.map(_.name) == Seq("low_label", "mid_label"))
    // the parsed predicate selects exactly the rows the ranges say
    val emb = Tables.load(spark, sf, "embeddings")
    val kept = emb.filter(filters.head.predicate($"label".cast("double")))
      .count()
    val direct = emb.filter(($"label" >= 0 && $"label" < 3) ||
      ($"label" >= 4 && $"label" < 6)).count()
    assert(kept == direct && kept > 0)
    // cartesian grid with constraint pruning = the runner's combos
    val combos = ConfigSource.paramGrid(cfg)
      .filter(m => m("nprobe") <= m("npartitions"))
      .map(m => GridSearch.Combo(m("npartitions"), m("nprobe")))
    assert(combos.toSet == GridSearch.defaultGrid.toSet)
    assert(cfg("defaults").asInstanceOf[ConfigSource.YMap]("k")
      .asInstanceOf[ConfigSource.YScalar].asInt == 10)
  }
}
