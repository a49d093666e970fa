package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

import graft.operators.Dedup

/** Corpus curation, one pass per operation: MinHash LSH near-duplicate
  * pairs (3-shingles, Jaccard >= 0.5), duplicate clusters over those
  * pairs, and SimHash pairs (Hamming <= 3) over a planted-duplicate
  * corpus. The only workload that exercises the `Dedup` layer. */
object Curate extends Workload {
  val Docs = 10000
  val ShingleN = 3
  val Threshold = 0.5
  val MaxHamming = 3
  val SampledPairs = 50

  // set-up is one short Spark job, so it takes many repetitions to
  // give a steady median
  override def setupReps: Int = 9

  def name: String = "curate_dedup"

  def sizes: Seq[(String, Json.Value)] = Seq(
    "docs" -> Docs, "shingle_n" -> ShingleN, "jaccard_threshold" -> Threshold,
    "simhash_max_hamming" -> MaxHamming)

  def setup(ctx: Ctx, tracer: Tracer, phase: String, tiny: Boolean): Instance = {
    val docs = tracer.span("inputs.generate", phase) {
      Inputs.plantedDocs(ctx.seed, Docs)
    }
    val inst = new CurateInstance(ctx, docs)
    tracer.span("inputs.dataframe", phase)(inst.materialize())
    inst
  }

  final class CurateInstance(ctx: Ctx, docs: Array[(Long, String)]) extends Instance {
    private val spark = ctx.spark
    import spark.implicits._
    private var frame: DataFrame = _
    private lazy val sh = docs.map { case (_, t) => Oracle.shingles(t, ShingleN) }
    /** Planted pairs whose true Jaccard reaches the threshold. */
    private var planted: Set[(Long, Long)] = Set.empty
    private var found: Set[(Long, Long)] = Set.empty
    private val verified = mutable.ArrayBuffer.empty[Double]
    private var candidates = 0L

    def materialize(): Unit = {
      frame = docs.toSeq.toDF("doc_id", "text")
        .repartition(ctx.cores * 2).persist(StorageLevel.MEMORY_ONLY)
      frame.count()
    }

    override def prepare(): Unit = {
      planted = docs.indices.filter(_ % 10 == 0).flatMap { l =>
        Seq((l, l + 8), (l, l + 9), (l + 8, l + 9))
      }.filter { case (a, b) => b < docs.length &&
        Oracle.jaccard(sh(a), sh(b)) >= Threshold
      }.map { case (a, b) => (a.toLong, b.toLong) }.toSet
    }

    def op(i: Int, tracer: Tracer, opId: String): OpOutcome = {
      val t0 = System.nanoTime()
      val pairs = tracer.span("dedup.minhashLsh", opId) {
        Dedup.minhashLsh(frame, ShingleN, Threshold).as[(Long, Long, Double)].collect()
      }
      val clusters = tracer.span("dedup.dupClustersFromPairs", opId) {
        Dedup.dupClustersFromPairs(frame, pairs.toSeq.toDF("doc_a", "doc_b", "jaccard"))
          .as[(Long, Long, Long)].collect()
      }
      val sim = tracer.span("dedup.simhashPairs", opId) {
        Dedup.simhashPairs(frame, MaxHamming).as[(Long, Long, Long)].collect()
      }
      val ns = System.nanoTime() - t0
      verified += pairs.length.toDouble
      found = pairs.map(p => (p._1, p._2)).toSet
      OpOutcome(docs.length, ns, check(pairs, clusters, sim, i))
    }

    private def check(pairs: Array[(Long, Long, Double)],
        clusters: Array[(Long, Long, Long)], sim: Array[(Long, Long, Long)],
        i: Int): Seq[String] = {
      val errs = Seq.newBuilder[String]
      val copies = docs.indices.filter(d => d % 10 == 8).map(d => ((d - 8).toLong, d.toLong))
      val lsh = pairs.map(p => (p._1, p._2) -> p._3).toMap
      copies.filterNot(c => lsh.get(c).contains(1.0)).take(3).foreach(c =>
        errs += s"exact copy pair $c missing from the LSH pairs")
      // a different sample of reported pairs each pass
      val r = new java.util.SplittableRandom(ctx.seed + i)
      if (pairs.nonEmpty) (0 until SampledPairs).foreach { _ =>
        val (a, b, j) = pairs(r.nextInt(pairs.length))
        val want = Oracle.jaccard(sh(a.toInt), sh(b.toInt))
        if (want < Threshold || math.abs(want - j) > 1e-6)
          errs += s"pair ($a, $b): reported Jaccard $j, recomputed $want"
      }
      val label = clusters.map(c => c._1 -> c._2).toMap
      if (clusters.length != docs.length)
        errs += s"${clusters.length} cluster rows for ${docs.length} docs"
      copies.filterNot { case (l, c) => label.get(c).exists(label.get(l).contains) }
        .take(3).foreach(c => errs += s"exact copy pair $c split across clusters")
      val simPairs = sim.map(p => (p._1, p._2) -> p._3).toMap
      copies.filterNot(c => simPairs.get(c).contains(0L)).take(3).foreach(c =>
        errs += s"exact copy pair $c missing from the SimHash pairs")
      errs.result()
    }

    override def afterOp(): Unit = {
      // the LSH pipeline caches intermediate relations it does not
      // release; drop them so every pass starts from the same state
      spark.catalog.clearCache()
      materialize()
    }

    def verify(tracer: Tracer, first: Boolean): Verified = {
      val missed = planted.diff(found)
      Verified(Nil,
        if (planted.isEmpty) 1.0 else 1.0 - missed.size.toDouble / planted.size)
    }

    override def replay(tracer: Tracer): Unit =
      candidates = tracer.span("dedup.lshCandidatePairs", "replay") {
        Dedup.lshCandidatePairs(frame, ShingleN).count()
      }

    def layers(spans: Seq[Span]): Map[String, Double] = {
      val v = if (verified.isEmpty) 0.0 else Stats.median(verified.toSeq)
      Map(
        "dedup.lsh_s" -> Layers.medianMs(spans, "dedup.minhashLsh") / 1e3,
        "dedup.clusters_s" -> Layers.medianMs(spans, "dedup.dupClustersFromPairs") / 1e3,
        "dedup.simhash_s" -> Layers.medianMs(spans, "dedup.simhashPairs") / 1e3,
        "dedup.verified_pairs" -> v,
        "dedup.candidate_pairs" -> candidates.toDouble,
        "dedup.verify_yield" -> (if (candidates == 0) 0.0 else v / candidates))
    }

    def close(): Unit = frame.unpersist(blocking = true)
  }
}
