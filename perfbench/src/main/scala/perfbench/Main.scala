package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One benchmark run: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --out <dir>`. Times the workload's set-ups of measured
  * inputs (after a tiny warm-up instance where set-up dominates), runs
  * untimed warm-up operations, then a closed loop of operations from one
  * client for `--seconds`, checking every output. Prints the result as
  * the last line of stdout and writes the full record (and, traced, the
  * spans) under `--out`. */
object Main {
  val Workloads: Seq[Workload] = Seq(Serve, Grid, Curate)

  /** End-to-end metrics, reported by every workload. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "items_per_s" -> "1/s", "op_p50_ms" -> "ms",
    "heap_mb" -> "MiB", "recall" -> "fraction")

  /** Per-layer metrics of traced runs; a layer a workload does not call
    * reads 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "ann_ivf.train_s" -> "s", "ann_ivf.assign_s" -> "s", "ann_ivf.servable_s" -> "s",
    "ann_ivf.replica_s" -> "s", "ann_ivf.replica_mb" -> "MiB",
    "nsw_graph.build_s" -> "s", "nsw_graph.replica_s" -> "s",
    "nsw_graph.local_beam_ms" -> "ms", "serving.overfetch_kept_frac" -> "fraction",
    "ann_ivf.local_scan_ms" -> "ms", "ann_ivf.local_exact_ms" -> "ms",
    "serving.local_call_ms.low" -> "ms", "serving.local_call_ms.high" -> "ms",
    "serving.local_call_ms.mid" -> "ms", "serving.local_overhead_ms" -> "ms",
    "serving.strategy.graph_overfetch" -> "count",
    "serving.strategy.ivf_prefilter" -> "count",
    "serving.strategy.ivf_prefilter_resident" -> "count",
    "serving.strategy.exact_scan" -> "count",
    "serving.spark_call_ms.low" -> "ms", "serving.spark_call_ms.high" -> "ms",
    "serving.spark_call_ms.mid" -> "ms", "nsw_graph.search_servable_ms" -> "ms",
    "ann_ivf.search_fast_ms" -> "ms", "knn.exact_ms" -> "ms",
    "knn.truth_s" -> "s", "grid_search.quantizers_s" -> "s", "grid_search.ivf_s" -> "s",
    "grid_search.nsw_s" -> "s", "grid_search.candidates" -> "count",
    "analytics.summary_s" -> "s",
    "dedup.lsh_s" -> "s", "dedup.candidate_pairs" -> "count",
    "dedup.verified_pairs" -> "count", "dedup.verify_yield" -> "fraction",
    "dedup.clusters_s" -> "s", "dedup.simhash_s" -> "s",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_ms" -> "ms", "spark.busy_frac" -> "fraction", "spark.floor_ms" -> "ms",
    "spark.shuffle_read_bytes" -> "bytes", "spark.shuffle_write_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "jvm.gc_ms" -> "ms",
    "trace.overhead_frac" -> "fraction")

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      out: String)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toDouble,
      need("--trace") == "1", m.getOrElse("--out", "."))
  }

  /** One timed operation as the loop saw it. */
  final case class Op(idx: Int, inst: Int, traced: Boolean, startMs: Long, endMs: Long,
      ns: Long, items: Long, errors: Seq[String], gcMs: Long)

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val w = Workloads.find(_.name == a.workload).getOrElse(
      throw new IllegalArgumentException(s"unknown workload ${a.workload}; " +
        s"known: ${Workloads.map(_.name).mkString(", ")}"))
    val cores = sys.props.getOrElse("perfbench.cores", "4").toInt
    val runStart = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${w.name}")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.GraftFunctions.register(spark)
    val code =
      try run(spark, w, a, cores, runStart)
      finally spark.stop()
    sys.exit(code)
  }

  private def run(spark: SparkSession, w: Workload, a: Args, cores: Int,
      runStart: Long): Int = {
    val sparkStartS = (System.nanoTime() - runStart) / 1e9
    val counters = SparkCounters.register(spark.sparkContext)
    val ctx = Ctx(spark, a.seed, cores)
    val off = new Tracer(false)
    val tracer = new Tracer(a.trace)

    // warm-up: where set-up is the expensive part, the JIT and Spark's
    // code generation first see every path on a tiny instance, so the
    // timed set-ups below measure the build, not class loading (its
    // check failures are expected and ignored: a tiny corpus keeps
    // fewer than k rows in the narrowest bracket)
    val warmT0 = System.nanoTime()
    if (w.tinyWarmup) {
      val warm = w.setup(ctx, off, "warmup", tiny = true)
      warm.prepare()
      (0 until w.warmupOps).foreach { i => warm.op(i, off, s"warmup-$i"); warm.afterOp() }
      warm.verify(off, first = true)
      warm.close()
      spark.catalog.clearCache()
    }
    val tinyWarmS = (System.nanoTime() - warmT0) / 1e9

    // each set-up builds its own corpus from a seed derived from the
    // run's seed; the timed loop rotates over the first loopInstances of
    // them, so no single corpus draw sets a run's figures
    val setupS = ArrayBuffer.empty[Double]
    val loopInsts = (0 until w.setupReps).flatMap { r =>
      System.gc()
      val t0 = System.nanoTime()
      val inst = w.setup(ctx.copy(seed = a.seed * w.setupReps + r), tracer, s"setup-$r",
        tiny = false)
      setupS += (System.nanoTime() - t0) / 1e9
      if (r < w.loopInstances) Some(inst) else { inst.close(); None }
    }
    // listener events still queued hold query plans, and with them the
    // inputs of closed instances: drain the bus before collecting
    val heapMb = {
      counters.settled()
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    val prepT0 = System.nanoTime()
    loopInsts.foreach(_.prepare())
    val prepS = (System.nanoTime() - prepT0) / 1e9
    // untimed operations on the measured instances: the timed loop starts
    // with the plans compiled and every lazily built structure in place
    val warmOpsT0 = System.nanoTime()
    loopInsts.foreach { inst =>
      (0 until w.warmupOps).foreach { i => inst.op(i, off, s"warmup-$i"); inst.afterOp() }
    }
    val warmOpsS = (System.nanoTime() - warmOpsT0) / 1e9

    // the closed loop, turn by turn over the instances; a traced run
    // traces every other operation, so the two interleaved halves give
    // the tracing overhead
    ctx.counts.clear()
    val ops = ArrayBuffer.empty[Op]
    val loopT0 = System.nanoTime()
    val deadline = loopT0 + (a.seconds * 1e9).toLong
    val turn = w.opsPerTurn
    var i = 0
    while (System.nanoTime() < deadline || ops.size < (if (a.trace) 2 else 1)) {
      val traced = a.trace && i % 2 == 1
      val k = i / turn % loopInsts.size
      val j = i / (turn * loopInsts.size) * turn + i % turn
      val g0 = gcMs()
      val ms0 = System.currentTimeMillis()
      val o =
        try loopInsts(k).op(j, if (traced) tracer else off, s"op-$i")
        catch { case NonFatal(e) => OpOutcome(0, 0L, Seq(s"op $i threw $e")) }
      val ms1 = System.currentTimeMillis()
      ops += Op(i, k, traced, ms0, ms1, o.ns, o.items, o.errors, gcMs() - g0)
      loopInsts(k).afterOp()
      i += 1
    }
    val loopS = (System.nanoTime() - loopT0) / 1e9

    val (vers, verifyNs) = Layers.timed(loopInsts.zipWithIndex.map { case (inst, k) =>
      try inst.verify(tracer, first = k == 0)
      catch { case NonFatal(e) => Verified(Seq(s"verify threw $e"), 0.0) }
    })
    val verifyS = verifyNs / 1e9
    val replayS = Layers.timed(if (a.trace) loopInsts.head.replay(tracer))._2 / 1e9

    val jobs = counters.settled()
    val windows = ops.map(o => SparkCounters.window(jobs, o.startMs, o.endMs))
    val jobErrs = loopInsts.indices.flatMap { k =>
      loopInsts(k).checkJobs(jobs, ops.indices.filter(ops(_).inst == k).map(windows(_).jobs))
    }
    val verErrs = vers.flatMap(_.errors)
    val failedOps = ops.count(_.errors.nonEmpty)
    // the timed operations, plus one unit for the checks made after
    // the loop (oracle recall sample, job counts)
    val attempted = ops.size + 1
    val failed = failedOps + (if (verErrs.nonEmpty || jobErrs.nonEmpty) 1 else 0)

    val measured = ops.filter(!_.traced)
    val opMs = measured.map(_.ns / 1e6).toSeq
    // throughput per turn (one instance's consecutive operations, e.g.
    // one batch per bracket), median over turns: a stall hits one turn
    // instead of the whole run's total
    val perTurn = measured.groupBy(_.idx / turn).values.toSeq.map(os =>
      os.map(_.items).sum / (os.map(_.ns).sum / 1e9))
    val e2e = Map(
      "setup_s" -> Stats.median(setupS.toSeq),
      "items_per_s" -> Stats.median(perTurn),
      "op_p50_ms" -> Stats.median(opMs),
      "heap_mb" -> heapMb,
      "recall" -> vers.map(_.recall).sum / vers.size)
    val tail = Stats.tail(opMs)

    val layerMetrics: Map[String, Double] =
      if (!a.trace) Map.empty
      else {
        val spans = tracer.recorded
        val tracedOps = ops.filter(_.traced)
        val tw = tracedOps.map(o => SparkCounters.window(jobs, o.startMs, o.endMs))
        val nOps = math.max(1, tracedOps.size).toDouble
        val wall = tw.map(_.wallMs).sum.toDouble
        val untracedP50 = Stats.median(opMs)
        val tracedP50 =
          if (tracedOps.isEmpty) untracedP50 else Stats.median(tracedOps.map(_.ns / 1e6).toSeq)
        val base = PerLayer.map(_._1 -> 0.0).toMap
        base ++ loopInsts.head.layers(spans) ++ Map(
          "spark.jobs" -> tw.map(_.jobs).sum / nOps,
          "spark.stages" -> tw.map(_.stages).sum / nOps,
          "spark.tasks" -> tw.map(_.tasks).sum / nOps,
          "spark.task_ms" -> tw.map(_.taskMs).sum / nOps,
          "spark.busy_frac" ->
            (if (wall <= 0) 0.0 else tw.map(_.taskMs).sum / (wall * cores)),
          "spark.floor_ms" -> tw.map(_.floorMs).sum / nOps,
          "spark.shuffle_read_bytes" -> tw.map(_.shuffleRead).sum / nOps,
          "spark.shuffle_write_bytes" -> tw.map(_.shuffleWrite).sum / nOps,
          "spark.spill_bytes" -> tw.map(_.spill).sum / nOps,
          "jvm.gc_ms" -> tracedOps.map(_.gcMs).sum / nOps,
          "trace.overhead_frac" -> (tracedP50 / untracedP50 - 1.0))
      }
    val extra = layerMetrics.keySet -- PerLayer.map(_._1)
    require(extra.isEmpty, s"per-layer metrics missing from the list: $extra")

    val errors = (ops.flatMap(_.errors) ++ verErrs ++ jobErrs).toSeq
    def metricsJson(m: Map[String, Double], order: Seq[(String, String)]) =
      Json.Obj(order.map { case (n, u) =>
        n -> (Json.obj("value" -> m(n), "unit" -> u): Json.Value) })
    val metrics =
      if (a.trace) metricsJson(layerMetrics, PerLayer) else metricsJson(e2e, EndToEnd)

    val outDir = Paths.get(a.out)
    Files.createDirectories(outDir)
    val tag = s"${w.name}-seed${a.seed}-trace${if (a.trace) 1 else 0}"
    if (a.trace) {
      val spans = tracer.recorded
      write(outDir.resolve(s"$tag-spans.json"),
        Trace.toJson(spans, SparkCounters.jobsBySpan(jobs, spans)))
    }
    val rt = ManagementFactory.getRuntimeMXBean
    val record = Json.obj(
      "workload" -> w.name, "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> a.trace,
      "provenance" -> Json.obj(
        "cpus" -> sys.props.getOrElse("perfbench.nproc", "").toIntOption
          .map(n => n: Json.Value).getOrElse(Json.Null),
        "spark_cores" -> cores,
        "git_sha" -> sys.props.getOrElse("perfbench.git_sha", null),
        "source_sha256" -> sys.props.getOrElse("perfbench.source_sha256", null),
        "jvm_flags" -> Json.Arr(rt.getInputArguments.asScala.toSeq.map(Json.Str)),
        "jvm_version" -> sys.props("java.vm.version"),
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
        "spark_version" -> spark.version, "spark_master" -> spark.sparkContext.master,
        "client" -> "one closed-loop caller"),
      "inputs" -> Json.Obj(w.sizes),
      "setups" -> w.setupReps,
      "corpora_in_loop" -> loopInsts.size,
      "end_to_end" -> Json.Obj(e2e.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.Num(v) }),
      "op_tail_ms" -> tail.map(t => Json.obj("percentile" -> t.percentile,
        "value" -> t.value, "samples_beyond" -> t.beyond): Json.Value).getOrElse(Json.Null),
      "ops_measured" -> opMs.size,
      "op_ms" -> Json.Arr(ops.toSeq.map(o => Json.Num(o.ns / 1e6))),
      "ops_total" -> ops.size,
      "spark_jobs_timed_phase" -> windows.map(_.jobs).sum,
      "setup_runs_s" -> Json.Arr(setupS.toSeq.map(Json.Num)),
      "setup_first_s" -> setupS.head,
      "spark_start_s" -> sparkStartS, "warmup_tiny_s" -> tinyWarmS,
      "warmup_ops_s" -> warmOpsS, "oracle_s" -> prepS, "loop_s" -> loopS,
      "verify_s" -> verifyS, "replay_s" -> replayS,
      "run_s" -> (System.nanoTime() - runStart) / 1e9,
      "verification" -> Json.Arr(vers.map(v => Json.Obj(v.record))),
      "per_layer" -> Json.Obj(layerMetrics.toSeq.sortBy(_._1).map { case (k, v) =>
        k -> Json.Num(v) }),
      "attempted" -> attempted, "failed" -> failed,
      "failed_frac" -> failed.toDouble / attempted,
      "errors" -> Json.Arr(errors.take(20).map(Json.Str)))
    write(outDir.resolve(s"$tag.json"), record)

    errors.take(20).foreach(e => System.err.println(s"[perfbench] check failed: $e"))
    println(s"[perfbench] ${w.name} seed=${a.seed}: ${ops.size} ops, " +
      e2e.toSeq.sortBy(_._1).map { case (k, v) => f"$k=$v%.4f" }.mkString(" ") +
      tail.map(t => f" tail p${t.percentile}%.1f=${t.value}%.3f ms (${t.beyond} beyond)")
        .getOrElse("") + s" record=${outDir.resolve(s"$tag.json")}")
    println(Json.write(Json.obj("correct" -> (failed == 0), "attempted" -> attempted,
      "failed" -> failed, "metrics" -> metrics)))
    if (failed == 0) 0 else 1
  }

  private def write(p: java.nio.file.Path, v: Json.Value): Unit =
    Files.write(p, Json.write(v).getBytes(StandardCharsets.UTF_8))
}
