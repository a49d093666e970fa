package perfbench

import org.scalatest.funsuite.AnyFunSuite

class HelpersSpec extends AnyFunSuite {

  private def span(id: Int, parent: Int, start: Long, end: Long) =
    Span(id, parent, s"s$id", "op", start, end, start, end)

  test("nearestRank: the smallest value with at least p percent at or below it") {
    val xs = (1 to 10).map(_.toDouble).toArray
    assert(Stats.nearestRank(xs, 50) == 5.0)
    assert(Stats.nearestRank(xs, 51) == 6.0)
    assert(Stats.nearestRank(xs, 90) == 9.0)
    assert(Stats.nearestRank(xs, 100) == 10.0)
    assert(Stats.nearestRank(xs, 1) == 1.0)
    assert(Stats.nearestRank(Array(7.0), 99) == 7.0)
  }

  test("median: middle value, or the mean of the middle pair") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  test("tail: the highest percentile with at least ten samples beyond it") {
    val hundred = (1 to 100).map(_.toDouble)
    // p99.9..p95 leave 0, 1, 2 and 5 samples beyond; p90 leaves 10
    assert(Stats.tail(hundred).contains(Stats.Tail(90.0, 90.0, 10)))
    val thousand = (1 to 1000).map(_.toDouble)
    assert(Stats.tail(thousand).contains(Stats.Tail(99.0, 990.0, 10)))
    assert(Stats.tail((1 to 20).map(_.toDouble)).contains(Stats.Tail(50.0, 10.0, 10)))
    assert(Stats.tail((1 to 19).map(_.toDouble)).isEmpty)
    assert(Stats.tail(Nil).isEmpty)
  }

  test("covered: union length of overlapping and disjoint intervals") {
    assert(Trace.covered(Seq((10L, 30L), (20L, 50L), (80L, 90L))) == 50L)
    assert(Trace.covered(Seq((0L, 10L), (0L, 10L))) == 10L)
    assert(Trace.covered(Nil) == 0L)
  }

  test("selfTimes: duration minus the part its direct children cover") {
    val spans = Seq(
      span(0, -1, 0, 100),
      span(1, 0, 10, 30),
      span(2, 0, 20, 50), // overlaps its sibling: counted once
      span(3, 1, 12, 28), // grandchild: only its parent's self time shrinks
      span(4, 0, 90, 120)) // runs past its parent: clipped to [90, 100)
    val self = Trace.selfTimes(spans)
    assert(self(0) == 100 - 40 - 10)
    assert(self(1) == 20 - 16)
    assert(self(2) == 30)
    assert(self(3) == 16)
    assert(self(4) == 30)
  }

  test("Tracer records nested spans with their parents, and nothing when off") {
    val t = new Tracer(true)
    val r = t.span("outer", "op-0")(t.span("inner", "op-0")(42))
    assert(r == 42)
    val Seq(outer, inner) = t.recorded.sortBy(_.name).reverse
    assert(outer.parent == -1 && inner.parent == outer.id)
    assert(inner.startNs >= outer.startNs && inner.endNs <= outer.endNs)
    val off = new Tracer(false)
    off.span("x", "op")(())
    assert(off.recorded.isEmpty)
  }

  test("window: job counts, task sums and the floor of an interval") {
    def job(id: Int, submit: Long, end: Long, tasks: Long) = {
      val j = new SparkCounters.JobRec(id, submit)
      j.endMs = end; j.tasks = tasks; j.taskMs = 10 * tasks
      j
    }
    val jobs = Seq(job(0, 100, 140, 4), job(1, 130, 160, 2), job(2, 300, 310, 1))
    val w = SparkCounters.window(jobs, 100, 200)
    assert(w.jobs == 2 && w.tasks == 6 && w.taskMs == 60)
    assert(w.floorMs == 100 - 60)
    assert(SparkCounters.window(jobs, 200, 250).jobs == 0)
    assert(SparkCounters.window(jobs, 200, 250).floorMs == 50)
  }

  test("jobsBySpan: each job goes to the innermost span containing its submission") {
    val spans = Seq(span(0, -1, 0, 100), span(1, 0, 10, 50))
    val jobs = Seq(new SparkCounters.JobRec(0, 20), new SparkCounters.JobRec(1, 60),
      new SparkCounters.JobRec(2, 500))
    assert(SparkCounters.jobsBySpan(jobs, spans) == Map(1 -> 1, 0 -> 1))
  }

  // hand-checked fixture: squared distances from the origin are
  // id 0 -> 0, 1 -> 1, 2 -> 4, 3 -> 18, 4 -> 2, 5 -> 1
  private val vecs = Array(
    Array(0f, 0f), Array(1f, 0f), Array(0f, 2f), Array(3f, 3f), Array(-1f, -1f),
    Array(0f, -1f))
  private val origin = Array(0f, 0f)

  test("oracle topK: nearest first, ties broken by id, filter applied") {
    assert(Oracle.topK(vecs, _ => true, origin, 4).toSeq ==
      Seq((0L, 0.0), (1L, 1.0), (5L, 1.0), (4L, 2.0)))
    assert(Oracle.topK(vecs, _ % 2 == 1, origin, 2).toSeq == Seq((1L, 1.0), (5L, 1.0)))
    assert(Oracle.topK(vecs, _ >= 2, origin, 10).map(_._1).toSeq == Seq(5L, 4L, 2L, 3L))
  }

  test("checkBatch: accepts a correct batch and names every violation") {
    val q = Seq((7L, origin))
    val good = Seq((7L, 1L, 0L, 0.0), (7L, 2L, 1L, 1.0), (7L, 3L, 5L, 1.0))
    assert(Oracle.checkBatch(good, q, 3, _ => true, vecs).isEmpty)
    // missing rank 3
    assert(Oracle.checkBatch(good.take(2), q, 3, _ => true, vecs).size == 1)
    // id 0 fails an odd-only filter
    assert(Oracle.checkBatch(good, q, 3, _ % 2 == 1, vecs).size == 1)
    // wrong distance, and distances decreasing with rank
    val bad = Seq((7L, 1L, 2L, 4.0), (7L, 2L, 1L, 1.0), (7L, 3L, 5L, 3.0))
    val errs = Oracle.checkBatch(bad, q, 3, _ => true, vecs)
    assert(errs.exists(_.contains("recomputed")))
    assert(errs.exists(_.contains("decrease")))
  }

  test("overlap and Jaccard on hand-checked inputs") {
    assert(Oracle.overlap(Map(1L -> Seq(1L, 2L)), Map(1L -> Seq(2L, 3L))) == ((1L, 2L)))
    assert(Oracle.shingles("a b c d", 3) == Set("a b c", "b c d"))
    assert(Oracle.jaccard(Oracle.shingles("a b c d", 3), Oracle.shingles("a b c e", 3)) ==
      1.0 / 3)
    assert(Oracle.shingles("a b", 3).isEmpty)
  }

  test("ratings reproduce the reference brackets exactly on 10,000 ids") {
    val r = Inputs.ratings(42)
    val levels = (0L until 10000L).map(r.level)
    assert(levels.distinct.size == 10000)
    Inputs.Brackets.foreach { b =>
      val kept = (0L until 10000L).count(id => b.accepts(r.of(id)))
      assert(kept == math.round(b.keep * 10000), b.name)
    }
  }

  test("generators are deterministic in the seed") {
    assert(Inputs.mixture(3, 1, 5, 4, 2).map(_.toSeq).toSeq ==
      Inputs.mixture(3, 1, 5, 4, 2).map(_.toSeq).toSeq)
    assert(Inputs.mixture(3, 1, 5, 4, 2).map(_.toSeq).toSeq !=
      Inputs.mixture(4, 1, 5, 4, 2).map(_.toSeq).toSeq)
    val docs = Inputs.plantedDocs(9, 20)
    assert(docs(8)._2 == docs(0)._2 && docs(18)._2 == docs(10)._2)
    assert(docs(9)._2 != docs(0)._2)
    assert(Oracle.jaccard(Oracle.shingles(docs(0)._2, 3), Oracle.shingles(docs(9)._2, 3)) > 0.5)
  }

  test("the Json writer escapes strings and keeps every digit") {
    assert(Json.write(Json.obj("a" -> 1, "b" -> 0.1234567891234, "c" -> "x\"y",
      "d" -> Json.Arr(Seq(Json.Null, Json.Bool(true))))) ==
      """{"a":1,"b":0.1234567891234,"c":"x\"y","d":[null,true]}""")
  }
}
