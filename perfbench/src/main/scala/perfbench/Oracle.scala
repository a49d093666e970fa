package perfbench

/** Plain-Scala reference answers and output checks, independent of the
  * program's kernels. */
object Oracle {

  def sqDist(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) {
      val d = a(i).toDouble - b(i)
      s += d * d
      i += 1
    }
    s
  }

  /** Brute-force filtered top-k: ids of the `k` rows nearest to `q`
    * among those `keep` accepts, nearest first, ties broken by id. */
  def topK(vecs: Array[Array[Float]], keep: Long => Boolean, q: Array[Float],
      k: Int): Array[(Long, Double)] = {
    val heap = new java.util.PriorityQueue[(Long, Double)](k + 1,
      (x: (Long, Double), y: (Long, Double)) =>
        if (x._2 != y._2) java.lang.Double.compare(y._2, x._2)
        else java.lang.Long.compare(y._1, x._1))
    var i = 0
    while (i < vecs.length) {
      if (keep(i.toLong)) {
        val d = sqDist(vecs(i), q)
        if (heap.size < k) heap.add((i.toLong, d))
        else {
          val worst = heap.peek()
          if (d < worst._2 || (d == worst._2 && i < worst._1)) {
            heap.poll(); heap.add((i.toLong, d))
          }
        }
      }
      i += 1
    }
    val out = new Array[(Long, Double)](heap.size)
    var j = out.length - 1
    while (j >= 0) { out(j) = heap.poll(); j -= 1 }
    out
  }

  /** Checks one served batch and returns one message per violation:
    * every query has exactly `k` rows ranked 1..k, every neighbour
    * passes the filter, each reported distance matches the vectors, and
    * distances do not decrease with rank. Row ids index `vecs`. */
  def checkBatch(rows: Seq[(Long, Long, Long, Double)],
      queries: Seq[(Long, Array[Float])], k: Int, keep: Long => Boolean,
      vecs: Array[Array[Float]]): Seq[String] = {
    val byQ = rows.groupBy(_._1)
    val errs = Seq.newBuilder[String]
    val unknown = byQ.keySet -- queries.map(_._1)
    if (unknown.nonEmpty) errs += s"rows for unknown qids ${unknown.take(3)}"
    queries.foreach { case (qid, q) =>
      val rs = byQ.getOrElse(qid, Nil).sortBy(_._2)
      if (rs.map(_._2) != (1L to k.toLong))
        errs += s"qid $qid: ranks ${rs.map(_._2).mkString(",")} instead of 1..$k"
      rs.foreach { case (_, rank, id, dist) =>
        if (id < 0 || id >= vecs.length) errs += s"qid $qid rank $rank: unknown id $id"
        else {
          if (!keep(id)) errs += s"qid $qid rank $rank: id $id fails the filter"
          val want = sqDist(vecs(id.toInt), q)
          if (math.abs(want - dist) > 1e-3 * math.max(1.0, want))
            errs += s"qid $qid rank $rank: distance $dist, recomputed $want"
        }
      }
      if (rs.sliding(2).exists { case Seq(a, b) => b._4 < a._4; case _ => false })
        errs += s"qid $qid: distances decrease with rank"
    }
    errs.result()
  }

  /** Neighbour ids found that the oracle also lists, and the oracle's
    * total, over the queries of `truth`; recall is their ratio. */
  def overlap(found: Map[Long, Seq[Long]], truth: Map[Long, Seq[Long]]): (Long, Long) = {
    val hit = truth.iterator.map { case (q, t) =>
      t.toSet.intersect(found.getOrElse(q, Nil).toSet).size.toLong }.sum
    (hit, truth.valuesIterator.map(_.size.toLong).sum)
  }

  /** Distinct word 3-shingles (word n-grams) of a document. */
  def shingles(text: String, n: Int): Set[String] = {
    val toks = text.split(" ")
    if (toks.length < n) Set.empty
    else toks.sliding(n).map(_.mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val inter = a.intersect(b).size
    val union = a.size + b.size - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }
}
