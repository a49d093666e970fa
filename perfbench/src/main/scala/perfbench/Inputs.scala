package perfbench

import java.util.SplittableRandom

/** The benchmark's own seeded generators. The program under test only
  * ever sees what these produce; the same seed gives the same inputs. */
object Inputs {

  /** A reference rating bracket: `rating < threshold` keeps `keep` of
    * the rows. */
  final case class Bracket(name: String, threshold: Double, keep: Double) {
    def accepts(rating: Double): Boolean = rating < threshold
  }

  /** The reference's three filters, in the order the serving workloads
    * rotate through them: the graph over-fetch, resident pre-filter and
    * exact-scan branches of the dispatcher. */
  val Brackets: Seq[Bracket] = Seq(
    Bracket("low", 8.363, 0.8363),
    Bracket("high", 1.561, 0.1561),
    Bracket("mid", 0.077, 0.0077))

  val RatingLevels = 10000

  /** Ratings on the 10,000-level grid {0, 0.001, ..., 9.999}. Ids map to
    * levels by a fixed permutation of the residues mod 10,000 with a
    * seeded offset, so every block of 10,000 consecutive ids holds each
    * level once and a corpus whose size is a multiple of 10,000 keeps
    * exactly the reference's fractions. The checks recompute a row's
    * rating from its id with this same function. */
  final case class Ratings(offset: Int) {
    def level(id: Long): Int =
      java.lang.Math.floorMod(id * 7919L + offset, RatingLevels.toLong).toInt
    def of(id: Long): Double = level(id) / 1000.0
  }

  def ratings(seed: Long): Ratings =
    Ratings(new SplittableRandom(seed ^ 0x5eedL).nextInt(RatingLevels))

  /** Corpus rows per mixture cluster: enough clusters that the cell
    * structure, and with it the serving cost, varies little from seed
    * to seed. */
  val RowsPerCluster = 250

  /** Vectors from a Gaussian-like mixture: seeded cluster centres in
    * [-1, 1]^dim, each vector a centre plus uniform noise of width 0.25.
    * `stream` separates the corpus from the queries drawn around the
    * same centres. */
  def mixture(seed: Long, stream: Long, n: Int, dim: Int,
      clusters: Int): Array[Array[Float]] = {
    val cr = new SplittableRandom(seed)
    val centres = Array.fill(clusters, dim)(cr.nextDouble(-1.0, 1.0))
    val r = new SplittableRandom(seed * 31 + stream)
    Array.fill(n) {
      val c = centres(r.nextInt(clusters))
      Array.tabulate(dim)(j => (c(j) + 0.25 * r.nextDouble(-1.0, 1.0)).toFloat)
    }
  }

  /** Planted-duplicate documents in groups of ten: id = 8 (mod 10) is an
    * exact copy of its group leader (id = 0 mod 10), id = 9 swaps about
    * one token in twenty of the leader for fresh ones (3-shingle Jaccard
    * near 0.75), and the other seven are unique. 50 to 70 tokens a doc. */
  def plantedDocs(seed: Long, n: Int, vocab: Int = 50000): Array[(Long, String)] =
    Array.tabulate(n) { i =>
      val id = i.toLong
      val leader = id / 10 * 10
      val role = (id % 10).toInt
      val base = if (role >= 8) leader else id
      val r = new SplittableRandom(seed * 1000003L + base)
      val toks = Array.fill(50 + r.nextInt(21))("w" + r.nextInt(vocab))
      if (role == 9) {
        val m = new SplittableRandom(seed * 1000003L + id + 0x9e3779b9L)
        toks.indices.foreach { j =>
          if (m.nextInt(20) == 0) toks(j) = "x" + m.nextInt(vocab)
        }
      }
      (id, toks.mkString(" "))
    }
}
