package perfbench

import graft.als._
import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable

/** The traced run's tour of the program's layers. Each section calls one
  * layer's public API on the input of the workload that uses that layer:
  * once untraced, to warm it (skipped on tiny inputs), then once traced.
  * Metrics come from the traced call's spans and the engine counters
  * given to them.
  */
final class Layers(spark: SparkSession, counters: Counters, workload: String => Workload,
    tiny: Boolean) {
  private val sc = spark.sparkContext
  private val level = StorageLevel.MEMORY_AND_DISK
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val problems = mutable.ArrayBuffer.empty[String]
  val tracers = mutable.ArrayBuffer.empty[Tracer]

  private def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  private def traced(section: Tracer => Unit): Tracer = {
    if (!tiny) section(Tracer.Off)
    val t = new Tracer(sc, on = true)
    section(t)
    counters.settle(sc)
    tracers += t
    t
  }

  private def mb(bytes: Double): Double = bytes / (1 << 20)

  def run(): Unit = {
    blockedAls()
    solvers()
    explicitModel()
    serving()
    dedup()
  }

  /** The fit's kernel step by step: tile, build both sides' blocks, then
    * alternate half-steps, with the explicit fit's own configuration.
    */
  private def blockedAls(): Unit = {
    val w = workload("als_explicit").asInstanceOf[AlsExplicit]
    val als = w.als
    val ratings = w.train.rdd.map(r => Rating(r.getInt(0), r.getInt(1), r.getFloat(2))).persist()
    val n = BlockedALS.autoBlockCount(ratings.count(), als.rank, sc.defaultParallelism)
    val part = new HashPartitioner(n)
    var skew = 0.0
    val t = traced { t =>
      val tiles = t.span("blocked_als.partition_ratings") {
        val x = BlockedALS.partitionRatings(ratings, part, part).persist(level)
        x.count()
        x
      }
      val swapped = tiles.map { case ((a, b), blk) =>
        ((b, a), RatingBlock(blk.dstIds, blk.srcIds, blk.ratings))
      }
      def side(name: String, r: RDD[((Int, Int), RatingBlock)]) = t.span(name) {
        val s = BlockedALS.makeBlocks(r, part, part, level)
        s._2.count()
        s
      }
      val (uIn, uOut, uCounts) = side("blocked_als.make_blocks_user", tiles)
      val (iIn, iOut, iCounts) = side("blocked_als.make_blocks_item", swapped)
      skew = Seq(uCounts.value, iCounts.value).map(c => c.max * c.length.toDouble / c.sum).max
      val enc = new LocalIndexEncoder(n)
      val solver = new CholeskySolver
      def half(src: BlockedALS.FactorBlocks, out: BlockedALS.OutBlocks,
          in: RDD[(Int, InBlock)]): BlockedALS.FactorBlocks = t.span("blocked_als.halfstep") {
        val f = BlockedALS.computeFactors(src, out, in, als.rank, als.regParam, enc,
          implicitPrefs = false, als.alpha, solver).persist(level)
        f.count()
        f
      }
      var users = BlockedALS.initialize(uIn, als.rank, als.seed).persist(level)
      var items = BlockedALS.initialize(iIn, als.rank, als.seed * 2 + 1)
      for (_ <- 0 until als.maxIter) {
        val nextItems = half(users, uOut, iIn)
        items.unpersist()
        items = nextItems
        val nextUsers = half(items, iOut, uIn)
        users.unpersist()
        users = nextUsers
      }
      Seq(tiles, uIn, uOut, iIn, iOut, users, items).foreach(_.unpersist())
      Seq(uCounts, iCounts).foreach(_.unpersist())
    }
    ratings.unpersist()
    val halves = t.named("blocked_als.halfstep")
    put("blocked_als.partition_ratings_s", t.last("blocked_als.partition_ratings").seconds, "s")
    put("blocked_als.make_blocks_user_s", t.last("blocked_als.make_blocks_user").seconds, "s")
    put("blocked_als.make_blocks_item_s", t.last("blocked_als.make_blocks_item").seconds, "s")
    put("blocked_als.halfstep_s", Stats.median(halves.map(_.seconds)), "s")
    put("blocked_als.halfstep_shuffle_mb",
      Stats.median(halves.map(s => mb(counters.ofSpan(s.id).shuffleWriteBytes))), "MB")
    put("blocked_als.block_skew", skew, "ratio")

    // YᵀY, the implicit path's per-half-step Gramian, over the serving
    // workload's item factors at its rank
    val s = workload("als_serve").asInstanceOf[AlsServe]
    val r2 = s.train.rdd.map(r => Rating(r.getInt(0), r.getInt(1), r.getFloat(2)))
    val part2 = new HashPartitioner(
      BlockedALS.autoBlockCount(s.data.train.size, s.als.rank, sc.defaultParallelism))
    val (iIn2, iOut2, c2) = BlockedALS.makeBlocks(
      BlockedALS.partitionRatings(r2, part2, part2).map { case ((a, b), blk) =>
        ((b, a), RatingBlock(blk.dstIds, blk.srcIds, blk.ratings))
      }, part2, part2, level)
    val factors = BlockedALS.initialize(iIn2, s.als.rank, 3L).persist(level)
    factors.count()
    val ty = traced { t =>
      (0 until 3).foreach(_ => t.span("blocked_als.yty")(BlockedALS.computeYtY(factors, s.als.rank)))
    }
    Seq(factors, iIn2, iOut2).foreach(_.unpersist())
    c2.unpersist()
    put("blocked_als.yty_s", Stats.median(ty.named("blocked_als.yty").map(_.seconds)), "s")
  }

  /** `NormalEquation.add` and `CholeskySolver.solve`, single-threaded on
    * seeded systems; every solve is checked against a double-precision
    * solve of the same system.
    */
  private def solvers(): Unit = {
    val rnd = new scala.util.Random(5)
    for (k <- Seq(8, 64)) {
      val vecs = Array.fill(1024)(Array.fill(k)(rnd.nextFloat() - 0.5f))
      val adds = (if (k == 8) 2000000 else 200000) / (if (tiny) 10 else 1)
      val ne = new NormalEquation(k)
      val addRates = (0 until 5).map { _ =>
        ne.reset()
        val t0 = System.nanoTime()
        var i = 0
        while (i < adds) { ne.add(vecs(i & 1023), 0.5, 1.0); i += 1 }
        adds / ((System.nanoTime() - t0) / 1e9)
      }
      put(s"normal_equation.adds_per_s_r$k", Stats.median(addRates), "1/s")

      // systems of 2k observations each, kept packed so every timed
      // repetition solves fresh copies
      val systems = (if (k == 8) 20000 else 2000) / (if (tiny) 10 else 1)
      val packed = Array.fill(systems) {
        val e = new NormalEquation(k)
        (0 until 2 * k).foreach(_ => e.add(vecs(rnd.nextInt(1024)), rnd.nextGaussian(), 1.0))
        (e.ata.clone(), e.atb.clone())
      }
      val lambda = 0.1
      val solver = new CholeskySolver
      var solved: Array[Array[Float]] = null
      val solveRates = (0 until 5).map { _ =>
        val fresh = packed.map { case (a, b) =>
          val e = new NormalEquation(k)
          System.arraycopy(a, 0, e.ata, 0, a.length)
          System.arraycopy(b, 0, e.atb, 0, b.length)
          e
        }
        val t0 = System.nanoTime()
        solved = fresh.map(solver.solve(_, lambda))
        systems / ((System.nanoTime() - t0) / 1e9)
      }
      put(s"cholesky.solves_per_s_r$k", Stats.median(solveRates), "1/s")
      val worst = packed.indices.map { s =>
        val (a, b) = packed(s)
        val dense = Array.ofDim[Double](k, k)
        var pos = 0
        for (i <- 0 until k; j <- i until k) {
          dense(i)(j) = a(pos); dense(j)(i) = a(pos); pos += 1
        }
        for (i <- 0 until k) dense(i)(i) += lambda
        Oracle.relErr(solved(s), Oracle.solve(dense, b))
      }.max
      if (!(worst <= 1e-4)) problems += f"rank-$k Cholesky solves differ from the double solve by $worst%.3g"
    }
  }

  private def explicitModel(): Unit = {
    val w = workload("als_explicit")
    val t = traced(t => w.pass(t).free())
    put("graft_als.fit_s", t.last("graft_als.fit").seconds, "s")
    put("graft_als.transform_s", t.last("graft_als.transform").seconds, "s")
  }

  /** Index build on a fresh model copy, then the four serving calls on the
    * built index, so the serving spans exclude the build.
    */
  private def serving(): Unit = {
    val w = workload("als_serve").asInstanceOf[AlsServe]
    val t = traced { t =>
      val m = w.model.copy(backingRdds = Nil)
      t.span("graft_als.index_build")(w.buildIndexes(m, t))
      w.serve(t, m).free()
    }
    Seq("train_index", "build_cells").foreach(n =>
      put(s"similarity.${n}_s", t.last(s"similarity.$n").seconds, "s"))
    Seq("index_build", "foldin", "recommend_exact", "recommend_approx", "item_neighbors_approx")
      .foreach(n => put(s"graft_als.${n}_s", t.last(s"graft_als.$n").seconds, "s"))
  }

  private def dedup(): Unit = {
    val w = workload("dedup_near_dups").asInstanceOf[DedupNearDups]
    var pairs = 0L
    var components = 0L
    val t = traced { t =>
      val out = w.run(t, shingleFirst = true)
      pairs = out.pairs.count()
      components = out.components.map(_._2).distinct.length.toLong
      out.free()
    }
    Seq("exact", "shingle", "near_dups", "components", "keepers").foreach(n =>
      put(s"dedup.${n}_s", t.last(s"dedup.$n").seconds, "s"))
    put("dedup.pairs", pairs.toDouble, "count")
    put("dedup.components", components.toDouble, "count")
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }
}
