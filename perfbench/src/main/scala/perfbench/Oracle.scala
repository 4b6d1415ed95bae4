package perfbench

import scala.util.hashing.MurmurHash3

/** Computations the benchmark checks the program against. They share no
  * code with the program: plain Scala, double precision throughout.
  */
object Oracle {

  /** Solves `a x = b` by Gaussian elimination with partial pivoting. */
  def solve(a0: Array[Array[Double]], b0: Array[Double]): Array[Double] = {
    val n = b0.length
    val a = a0.map(_.clone())
    val b = b0.clone()
    for (c <- 0 until n) {
      val p = (c until n).maxBy(r => math.abs(a(r)(c)))
      val ta = a(c); a(c) = a(p); a(p) = ta
      val tb = b(c); b(c) = b(p); b(p) = tb
      for (r <- c + 1 until n) {
        val f = a(r)(c) / a(c)(c)
        if (f != 0.0) {
          var j = c
          while (j < n) { a(r)(j) -= f * a(c)(j); j += 1 }
          b(r) -= f * b(c)
        }
      }
    }
    val x = new Array[Double](n)
    for (r <- n - 1 to 0 by -1) {
      var s = b(r)
      for (j <- r + 1 until n) s -= a(r)(j) * x(j)
      x(r) = s / a(r)(r)
    }
    x
  }

  /** Dense `(Σ c·v vᵀ + λ I, Σ w·v)` accumulated in double. */
  final class Normal(k: Int) {
    val a: Array[Array[Double]] = Array.ofDim[Double](k, k)
    val b: Array[Double] = new Array[Double](k)
    def add(v: Array[Float], w: Double, c: Double): Unit = {
      var i = 0
      while (i < k) {
        var j = 0
        while (j < k) { a(i)(j) += c * v(i) * v(j); j += 1 }
        b(i) += w * v(i)
        i += 1
      }
    }
    def addGram(g: Array[Array[Double]]): Unit =
      for (i <- 0 until k; j <- 0 until k) a(i)(j) += g(i)(j)
    def solve(lambda: Double): Array[Double] = {
      val reg = a.map(_.clone())
      for (i <- 0 until k) reg(i)(i) += lambda
      Oracle.solve(reg, b)
    }
  }

  /** Largest difference between a float solution and the double one, as a
    * share of the double solution's largest entry.
    */
  def relErr(got: Array[Float], want: Array[Double]): Double = {
    val scale = math.max(1e-12, want.map(math.abs).max)
    got.indices.map(i => math.abs(got(i) - want(i))).max / scale
  }

  def dot(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i).toDouble * b(i); i += 1 }
    s
  }

  /** Word 3-shingles: space-separated tokens, three at a time; a text of
    * fewer than three tokens is its own single shingle.
    */
  def shingles(text: String): Set[String] = {
    val t = text.split(" ")
    if (t.length < 3) Set(text)
    else (0 to t.length - 3).map(i => s"${t(i)} ${t(i + 1)} ${t(i + 2)}").toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double =
    a.intersect(b).size.toDouble / a.union(b).size

  /** The `k` best `(id, score)` by score, ties broken by the smaller id. */
  def topK(scores: Iterator[(Long, Double)], k: Int): Array[(Long, Double)] = {
    val best = new Array[(Long, Double)](k)
    var n = 0
    def before(a: (Long, Double), b: (Long, Double)) = a._2 > b._2 || (a._2 == b._2 && a._1 < b._1)
    scores.foreach { c =>
      if (n < k || before(c, best(k - 1))) {
        var i = math.min(n, k - 1)
        while (i > 0 && before(c, best(i - 1))) { best(i) = best(i - 1); i -= 1 }
        best(i) = c
        if (n < k) n += 1
      }
    }
    best.take(n)
  }
}

/** Order-independent checksum of a set of rows: xor of row hashes, mixed
  * with the row count.
  */
final class Checksum {
  private var x = 0L
  private var n = 0L

  private def mix(h: Int, salt: Int): Long =
    (h.toLong << 32) ^ (MurmurHash3.mix(h, salt).toLong & 0xffffffffL)

  def row(values: Any*): Checksum = {
    val h = MurmurHash3.orderedHash(values.map {
      case f: Array[Float] => MurmurHash3.arrayHash(f.map(java.lang.Float.floatToIntBits))
      case d: Double => java.lang.Double.doubleToLongBits(d).##
      case v => v.##
    })
    x ^= mix(h, values.length)
    n += 1
    this
  }

  def value: Long = x ^ (n * 0x9E3779B97F4A7C15L)
}
