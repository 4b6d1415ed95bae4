package perfbench

import scala.util.Random

/** Seeded input generators. The same seed gives the same inputs; nothing
  * here reads a fixture or a file.
  */
object Inputs {

  final case class Ratings(users: Array[Int], items: Array[Int], values: Array[Float]) {
    def size: Int = users.length
    def rows: Seq[(Int, Int, Float)] = users.indices.map(i => (users(i), items(i), values(i)))
  }

  private final class RatingsBuilder {
    val users = Array.newBuilder[Int]
    val items = Array.newBuilder[Int]
    val values = Array.newBuilder[Float]
    def add(u: Int, i: Int, v: Float): Unit = { users += u; items += i; values += v }
    def result(): Ratings = Ratings(users.result(), items.result(), values.result())
  }

  /** Draws item indices with probability ∝ 1/(rank+1)^exponent. Which id
    * holds which popularity rank is a fixed permutation, the same for
    * every seed: it decides how the skew falls on the hash-partitioned
    * blocks, and a layout that moved with the seed would move the
    * straggler time with it.
    */
  final class Zipf(n: Int, exponent: Double, rnd: Random) {
    private val byRank = new Random(n).shuffle((0 until n).toVector).toArray
    private val cdf = {
      val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1, exponent))
      val c = w.scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last)
    }
    def draw(): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      byRank(math.min(n - 1, if (i >= 0) i else -i - 1))
    }
  }

  private def gaussian(rnd: Random, k: Int, sd: Double): Array[Double] =
    Array.fill(k)(rnd.nextGaussian() * sd)

  /** `n` distinct items for one user. */
  private def distinct(n: Int, draw: () => Int): Array[Int] = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[Int]
    while (seen.size < n) seen += draw()
    seen.toArray
  }

  /** Explicit ratings from a planted model: a global mean, user and item
    * biases and a rank-`planted` interaction, plus Gaussian noise of
    * standard deviation `noise`. Items are drawn with Zipf-skewed
    * popularity; each user's last tenth of ratings is held out.
    */
  final case class Explicit(train: Ratings, test: Ratings, noise: Double)

  def explicit(seed: Long, users: Int, items: Int, minPerUser: Int, maxPerUser: Int,
      planted: Int, noise: Double, zipf: Double): Explicit = {
    val rnd = new Random(seed)
    val sd = math.pow(1.0 / planted, 0.25) // interaction term has unit variance
    val p = Array.fill(users)(gaussian(rnd, planted, sd))
    val q = Array.fill(items)(gaussian(rnd, planted, sd))
    val bu = gaussian(rnd, users, 0.3)
    val bi = gaussian(rnd, items, 0.3)
    val pop = new Zipf(items, zipf, rnd)
    val train = new RatingsBuilder
    val test = new RatingsBuilder
    for (u <- 0 until users) {
      val n = minPerUser + rnd.nextInt(maxPerUser - minPerUser + 1)
      val chosen = distinct(n, () => pop.draw())
      val held = math.max(1, n / 10)
      chosen.zipWithIndex.foreach { case (i, j) =>
        var d = 0.0
        var f = 0
        while (f < planted) { d += p(u)(f) * q(i)(f); f += 1 }
        val r = (3.0 + bu(u) + bi(i) + d + rnd.nextGaussian() * noise).toFloat
        (if (j < n - held) train else test).add(u, i, r)
      }
    }
    Explicit(train.result(), test.result(), noise)
  }

  /** Implicit feedback from a planted rank-`planted` taste model: each
    * user interacts with the `n` items of highest β·(p_u·q_i) + log(pop_i)
    * plus Gumbel noise (a draw without replacement ∝ taste × Zipf
    * popularity); the strength of an interaction is 1 to 5. `fresh`
    * further users, with ids after the trained ones, form the fold-in
    * batch.
    */
  final case class Implicit(train: Ratings, fresh: Ratings)

  def implicitFeedback(seed: Long, users: Int, fresh: Int, items: Int, minPerUser: Int,
      maxPerUser: Int, planted: Int, zipf: Double): Implicit = {
    val rnd = new Random(seed)
    val sd = math.pow(1.0 / planted, 0.25)
    val q = Array.fill(items)(gaussian(rnd, planted, sd))
    val logPop = {
      val pop = new Zipf(items, zipf, rnd)
      val counts = new Array[Double](items)
      (0 until 20 * items).foreach(_ => counts(pop.draw()) += 1)
      counts.map(c => math.log(c + 1))
    }
    val beta = 2.0
    def interactions(out: RatingsBuilder, u: Int): Unit = {
      val p = gaussian(rnd, planted, sd)
      val n = minPerUser + rnd.nextInt(maxPerUser - minPerUser + 1)
      val keys = Array.tabulate(items) { i =>
        var d = 0.0
        var f = 0
        while (f < planted) { d += p(f) * q(i)(f); f += 1 }
        beta * d + logPop(i) - math.log(-math.log(rnd.nextDouble()))
      }
      Oracle.topK(keys.iterator.zipWithIndex.map { case (k, i) => (i.toLong, k) }, n)
        .foreach { case (i, _) => out.add(u, i.toInt, (1 + rnd.nextInt(5)).toFloat) }
    }
    val train = new RatingsBuilder
    (0 until users).foreach(interactions(train, _))
    val batch = new RatingsBuilder
    (users until users + fresh).foreach(interactions(batch, _))
    Implicit(train.result(), batch.result())
  }

  /** A document corpus with planted duplicates.
    *
    * Background documents are 80 to 120 words drawn from a vocabulary of
    * 20,000, so two of them share no word 3-shingle in practice. A share
    * of them get one or two exact copies. Each near-duplicate cluster is a
    * base document plus variants that each replace one or two words of
    * the base at positions at least three apart, which puts every variant
    * at word-3-shingle Jaccard 0.85 or more from its base. Document ids
    * are a seeded permutation, so planted documents are spread over the
    * id range.
    */
  final case class Corpus(
      ids: Array[Long],
      texts: Array[String],
      exactGroups: Seq[Seq[Long]],
      clusters: Seq[Seq[Long]])

  def corpus(seed: Long, background: Int, copyShare: Double, clusters: Int,
      minCluster: Int, maxCluster: Int): Corpus = {
    val rnd = new Random(seed)
    def word(): String = "w" + rnd.nextInt(20000)
    def doc(): Array[String] = Array.fill(80 + rnd.nextInt(41))(word())
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    val exact = scala.collection.mutable.ArrayBuffer.empty[Seq[Int]]
    val near = scala.collection.mutable.ArrayBuffer.empty[Seq[Int]]
    for (_ <- 0 until background) {
      val t = doc().mkString(" ")
      val first = texts.length
      texts += t
      if (rnd.nextDouble() < copyShare) {
        val copies = 1 + rnd.nextInt(2)
        (0 until copies).foreach(_ => texts += t)
        exact += (first to first + copies)
      }
    }
    for (_ <- 0 until clusters) {
      val base = doc()
      val members = minCluster + rnd.nextInt(maxCluster - minCluster + 1)
      val first = texts.length
      texts += base.mkString(" ")
      for (_ <- 1 until members) {
        val v = base.clone()
        val edits = 1 + rnd.nextInt(2)
        val slot = v.length / edits
        (0 until edits).foreach { e =>
          val at = e * slot + rnd.nextInt(slot - 3)
          var w = word()
          while (w == base(at)) w = word()
          v(at) = w
        }
        texts += v.mkString(" ")
      }
      near += (first until first + members)
    }
    val ids = rnd.shuffle((0L until texts.length.toLong).toVector).toArray
    Corpus(ids, texts.toArray, exact.map(_.map(ids(_))).toSeq, near.map(_.map(ids(_))).toSeq)
  }
}
