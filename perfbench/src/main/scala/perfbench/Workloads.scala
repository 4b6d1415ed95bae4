package perfbench

import graft.als.{GraftALS, GraftALSModel}
import graft.ops.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** What one pass left behind: its outputs, and how to free what it holds. */
trait PassOut {
  /** One checksum per output; identical input must give identical sums. */
  def checksums: Seq[(String, Long)]
  def free(): Unit
}

/** A workload: set-up that builds what the passes read, then passes that
  * redo the same calls on it. The benchmark checks the first pass against
  * its own computations and every later pass against the first pass.
  */
trait Workload {
  def name: String
  /** Builds the inputs (and whatever the passes read), replacing and
    * freeing what an earlier call built.
    */
  def setup(): Unit
  def pass(t: Tracer): PassOut
  /** Failed checks of a pass's outputs, empty when all hold. */
  def verify(out: PassOut): Seq[String]
  /** The quality score of a verified pass; higher is better. */
  def quality(out: PassOut): Double
  /** Frees everything set-up built. */
  def close(): Unit
}

object Workload {
  val Names: Seq[String] = Seq("als_explicit", "als_serve", "dedup_near_dups")

  def apply(name: String, spark: SparkSession, seed: Long, tiny: Boolean): Workload = name match {
    case "als_explicit" => new AlsExplicit(spark, seed, tiny)
    case "als_serve" => new AlsServe(spark, seed, tiny)
    case "dedup_near_dups" => new DedupNearDups(spark, seed, tiny)
    case "mllib_explicit" => new AlsExplicit(spark, seed, tiny, mllib = true)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (known: ${Names.mkString(", ")})")
  }

  /** Order-independent checksum of collected rows. */
  def sum(rows: Iterable[Seq[Any]]): Long = {
    val c = new Checksum
    rows.foreach(r => c.row(r: _*))
    c.value
  }

  def factorRows(df: DataFrame): Array[(Long, Array[Float])] =
    df.select(col("id").cast("long"), col("features")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))

  def ratingsFrame(spark: SparkSession, r: Inputs.Ratings, parts: Int): DataFrame = {
    import spark.implicits._
    spark.sparkContext.parallelize(r.rows, parts).toDF("user", "item", "rating")
  }
}

/** Explicit ALS-WR at low rank: fit, then score a held-out split.
  *
  * Ratings come from a planted rank-6 model with user and item biases and
  * Gaussian noise (so a rank-8 model can represent the signal), with
  * Zipf-skewed item popularity. The fit uses the default AutoBlocks grid.
  *
  * With `mllib`, the same pass and checks run Spark MLlib's `ALS` with the
  * same hyperparameters and its default block grid: the reference figure
  * the README quotes, not a benchmark workload.
  */
final class AlsExplicit(spark: SparkSession, seed: Long, tiny: Boolean, mllib: Boolean = false)
    extends Workload {
  val name = if (mllib) "mllib_explicit" else "als_explicit"
  val als: GraftALS = GraftALS(rank = 8, maxIter = 8, regParam = 0.05, seed = 7L)
  /** Model RMSE may be at most this many times the planted noise. */
  val NoiseFactor = 1.5

  var data: Inputs.Explicit = _
  var train: DataFrame = _
  var test: DataFrame = _
  private val parts = spark.sparkContext.defaultParallelism

  def setup(): Unit = {
    close()
    data = if (tiny) Inputs.explicit(seed, 600, 150, 20, 40, 6, 0.5, 0.9)
      else Inputs.explicit(seed, 5000, 1500, 10, 40, 6, 0.5, 0.9)
    train = Workload.ratingsFrame(spark, data.train, parts).persist()
    test = Workload.ratingsFrame(spark, data.test, parts).persist()
    train.count()
    test.count()
  }

  final class Out(userFactors: DataFrame, itemFactors: DataFrame, val rmse: Double,
      val scored: Long, val predictions: Long, release: () => Unit) extends PassOut {
    lazy val users: Array[(Long, Array[Float])] = Workload.factorRows(userFactors)
    lazy val items: Array[(Long, Array[Float])] = Workload.factorRows(itemFactors)
    lazy val checksums: Seq[(String, Long)] = Seq(
      "user_factors" -> Workload.sum(users.map { case (i, f) => Seq(i, f) }),
      "item_factors" -> Workload.sum(items.map { case (i, f) => Seq(i, f) }),
      "predictions" -> (predictions ^ scored),
      "rmse" -> java.lang.Double.doubleToLongBits(rmse))
    def free(): Unit = release()
  }

  def pass(t: Tracer): PassOut = {
    val fitted: (DataFrame, DataFrame, DataFrame => DataFrame, () => Unit) =
      if (!mllib) {
        val m = t.span("graft_als.fit")(als.fit(train))
        (m.userFactors, m.itemFactors, m.transform _, () => m.unpersist())
      } else {
        // MLlib's model has no unpersist: free the RDDs its fit persisted
        val held = spark.sparkContext.getPersistentRDDs.keySet
        val m = t.span("mllib.fit")(new org.apache.spark.ml.recommendation.ALS()
          .setRank(als.rank).setMaxIter(als.maxIter).setRegParam(als.regParam)
          .setSeed(als.seed).setUserCol("user").setItemCol("item").setRatingCol("rating")
          .fit(train))
        val fresh = spark.sparkContext.getPersistentRDDs.filter(r => !held(r._1)).values.toSeq
        (m.userFactors, m.itemFactors, m.transform _, () => fresh.foreach(_.unpersist()))
      }
    val (userFactors, itemFactors, transform, release) = fitted
    val row = t.span("graft_als.transform") {
      transform(test)
        .where(!isnan(col("prediction")))
        .agg(
          sqrt(avg(pow(col("prediction").cast("double") - col("rating"), 2.0))),
          count(lit(1)),
          bit_xor(xxhash64(col("user"), col("item"), col("prediction"))))
        .head()
    }
    new Out(userFactors, itemFactors, row.getDouble(0), row.getLong(1), row.getLong(2), release)
  }

  /** Held-out RMSE of μ + b_u + b_i, fit on the training split. */
  lazy val baselineRmse: Double = {
    val tr = data.train
    val mu = tr.values.map(_.toDouble).sum / tr.size
    def means(keys: Array[Int], resid: Int => Double): Map[Int, Double] =
      keys.indices.groupBy(keys(_)).map { case (k, ix) =>
        k -> ix.map(resid).sum / (ix.size + 5.0) // shrunk toward 0
      }
    val bi = means(tr.items, j => tr.values(j) - mu)
    val bu = means(tr.users, j => tr.values(j) - mu - bi(tr.items(j)))
    val te = data.test
    val errs = te.users.indices.collect {
      case j if bu.contains(te.users(j)) && bi.contains(te.items(j)) =>
        val e = te.values(j) - (mu + bu(te.users(j)) + bi(te.items(j)))
        e * e
    }
    math.sqrt(errs.sum / errs.size)
  }

  def quality(out: PassOut): Double = baselineRmse / out.asInstanceOf[Out].rmse

  /** The final user factors solve the ALS-WR normal equations against the
    * final item factors: (Σ v vᵀ + λ·n_u·I) x = Σ r·v over the user's
    * training ratings. Checked for a sample of users, solved here in
    * double precision.
    */
  def verify(out0: PassOut): Seq[String] = {
    val out = out0.asInstanceOf[Out]
    System.err.println(f"[perfbench] $name: held-out RMSE ${out.rmse}%.4f, bias-only $baselineRmse%.4f")
    val items = out.items.toMap
    val users = out.users.toMap
    val tr = data.train
    val sample = users.keys.toSeq.sorted.grouped(math.max(1, users.size / 200)).map(_.head).toSet
    val byUser = tr.users.indices.filter(j => sample.contains(tr.users(j).toLong))
      .groupBy(j => tr.users(j).toLong)
    val worst = byUser.map { case (u, js) =>
      val ne = new Oracle.Normal(als.rank)
      js.foreach(j => ne.add(items(tr.items(j).toLong), tr.values(j), 1.0))
      Oracle.relErr(users(u), ne.solve(als.regParam * js.size))
    }.max
    Seq(
      Option.when(!(worst <= 1e-3))(f"user factors miss the normal equations: relative error $worst%.3g"),
      Option.when(!(out.rmse < baselineRmse))(
        f"held-out RMSE ${out.rmse}%.4f is not below the bias-only baseline $baselineRmse%.4f"),
      Option.when(!(out.rmse <= NoiseFactor * data.noise))(
        f"held-out RMSE ${out.rmse}%.4f exceeds $NoiseFactor x the planted noise ${data.noise}"),
      Option.when(out.scored < data.test.size * 9 / 10)(
        s"only ${out.scored} of ${data.test.size} held-out ratings were scored")
    ).flatten
  }

  def close(): Unit = {
    Option(train).foreach(_.unpersist())
    Option(test).foreach(_.unpersist())
  }
}

/** The read side of an implicit-feedback model at high rank. Set-up fits
  * the model and builds its serving indexes; a pass folds in a batch of
  * new users, recommends exactly for a user sample, recommends
  * approximately for every user and finds approximate item neighbours.
  * Each pass works on a fresh copy of the fitted model, which carries none
  * of the model's lazily built serving indexes.
  */
final class AlsServe(spark: SparkSession, seed: Long, tiny: Boolean) extends Workload {
  val name = "als_serve"
  val als: GraftALS = GraftALS(rank = if (tiny) 16 else 64, maxIter = 4, regParam = 0.05,
    implicitPrefs = true, alpha = 1.0, seed = 11L)
  val K = 10
  /** Users whose id is a multiple of this get exact recommendations. */
  val SampleEvery = 10L

  var data: Inputs.Implicit = _
  var train: DataFrame = _
  var fresh: DataFrame = _
  var model: GraftALSModel = _
  private val parts = spark.sparkContext.defaultParallelism

  def setup(): Unit = {
    close()
    data = if (tiny) Inputs.implicitFeedback(seed, 400, 40, 200, 5, 20, 16, 0.9)
      else Inputs.implicitFeedback(seed, 3000, 300, 1500, 10, 30, 16, 0.9)
    train = Workload.ratingsFrame(spark, data.train, parts).persist()
    fresh = Workload.ratingsFrame(spark, data.fresh, parts).persist()
    train.count()
    fresh.count()
    model = als.fit(train)
    buildIndexes(model.copy(backingRdds = Nil)).unpersist()
  }

  /** Trains and builds both serving indexes of a model copy. */
  def buildIndexes(m: GraftALSModel, t: Tracer = Tracer.Off): GraftALSModel = {
    t.span("similarity.train_index") {
      m.servingMipsIndex()
      m.servingItemCodebook()
    }
    t.span("similarity.build_cells") {
      m.servingMipsCellIndex().materialize()
      m.servingItemCellIndex().materialize()
    }
    m
  }

  type Rec = (Long, Long, Int, Double)
  private def recs(df: DataFrame): Array[Rec] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))

  final class Out(val copy: GraftALSModel, val folded: Array[(Long, Array[Float])],
      val exact: Array[Rec], val approx: Array[Rec], val neighbours: Array[Rec]) extends PassOut {
    lazy val checksums: Seq[(String, Long)] = Seq(
      "fold_in" -> Workload.sum(folded.map { case (i, f) => Seq(i, f) }),
      "recommend_exact" -> Workload.sum(exact.map(_.productIterator.toSeq)),
      "recommend_approx" -> Workload.sum(approx.map(_.productIterator.toSeq)),
      "item_neighbors_approx" -> Workload.sum(neighbours.map(_.productIterator.toSeq)))
    def free(): Unit = copy.unpersist()
  }

  def pass(t: Tracer): PassOut = serve(t, model.copy(backingRdds = Nil))

  /** The pass's four calls on model copy `m`, which the output frees. */
  def serve(t: Tracer, m: GraftALSModel): Out = {
    val folded = t.span("graft_als.foldin") {
      Workload.factorRows(m.foldInUsersImplicit(fresh, als.regParam, als.alpha))
    }
    val exact = t.span("graft_als.recommend_exact") {
      recs(m.copy(userFactors = m.userFactors.where(pmod(col("id"), lit(SampleEvery)) === 0L))
        .recommendForAllUsers(K))
    }
    val approx = t.span("graft_als.recommend_approx")(recs(m.recommendForAllUsersApprox(K)))
    val neighbours = t.span("graft_als.item_neighbors_approx")(recs(m.itemNeighborsApprox(K)))
    new Out(m, folded, exact, approx, neighbours)
  }

  private lazy val factors = (Workload.factorRows(model.userFactors).toMap,
    Workload.factorRows(model.itemFactors).toMap)

  /** The brute-force top-K of every user, scored in double. */
  private lazy val bruteForce: Map[Long, Array[(Long, Double)]] = {
    val (users, items) = factors
    users.map { case (u, x) =>
      u -> Oracle.topK(items.iterator.map { case (i, y) => (i, Oracle.dot(x, y)) }, K)
    }
  }

  /** Share of the brute-force top-K of all users that the approximate
    * recommendations return.
    */
  def quality(out0: PassOut): Double = {
    val out = out0.asInstanceOf[Out]
    val got = out.approx.groupBy(_._1)
    val hits = bruteForce.map { case (u, want) =>
      val ids = got.getOrElse(u, Array.empty).map(_._2).toSet
      want.count { case (i, _) => ids.contains(i) }
    }.sum
    hits.toDouble / bruteForce.values.map(_.length).sum
  }

  def verify(out0: PassOut): Seq[String] = {
    val out = out0.asInstanceOf[Out]
    val (users, items) = factors
    val tol = 1e-4
    // fold-in: (YᵀY + Σ c·y yᵀ + λ·n·I) x = Σ (1 + c)·y over the positive
    // interactions, with c = α·|r|; items the model never saw carry no
    // signal
    val gram = Array.ofDim[Double](als.rank, als.rank)
    items.values.foreach(y =>
      for (i <- 0 until als.rank; j <- 0 until als.rank) gram(i)(j) += y(i).toDouble * y(j))
    val fr = data.fresh
    val byUser = fr.users.indices.groupBy(fr.users(_).toLong)
    val folded = out.folded.toMap
    val foldErr = byUser.map { case (u, js) =>
      val ne = new Oracle.Normal(als.rank)
      ne.addGram(gram)
      var n = 0
      js.filter(j => items.contains(fr.items(j).toLong)).foreach { j =>
        val r = fr.values(j)
        val c = als.alpha * math.abs(r)
        ne.add(items(fr.items(j).toLong), if (r > 0) 1.0 + c else 0.0, c)
        if (r > 0) n += 1
      }
      folded.get(u).map(x => Oracle.relErr(x, ne.solve(als.regParam * n))).getOrElse(1.0)
    }.max
    // exact recommendations: the brute-force top-K, ties allowed — the
    // returned scores are the best K scores and each is the item's true
    // score
    val exact = out.exact.groupBy(_._1)
    val exactBad = bruteForce.filter(_._1 % SampleEvery == 0).count { case (u, want) =>
      val got = exact.getOrElse(u, Array.empty).sortBy(_._3)
      got.length != want.length ||
        got.zip(want).exists { case ((_, i, _, s), (_, ws)) =>
          math.abs(s - ws) > tol * math.max(1.0, math.abs(ws)) ||
            math.abs(Oracle.dot(users(u), items(i)) - s) > tol * math.max(1.0, math.abs(s))
        }
    }
    // approximate results: true scores, best first, no duplicates
    def ranked(rows: Array[Rec], score: (Long, Long) => Double, self: Boolean): Int =
      rows.groupBy(_._1).count { case (q, rs) =>
        val sorted = rs.sortBy(_._3)
        sorted.map(_._2).distinct.length != rs.length ||
          (!self && rs.exists(_._2 == q)) ||
          sorted.sliding(2).exists(w => w.length == 2 && w(0)._4 < w(1)._4) ||
          rs.exists(r => math.abs(score(q, r._2) - r._4) > tol * math.max(1.0, math.abs(r._4)))
      }
    def cosine(a: Long, b: Long): Double = {
      val (x, y) = (items(a), items(b))
      Oracle.dot(x, y) / math.sqrt(Oracle.dot(x, x) * Oracle.dot(y, y))
    }
    val approxBad = ranked(out.approx, (u, i) => Oracle.dot(users(u), items(i)), self = true)
    val neighBad = ranked(out.neighbours, cosine, self = false)
    Seq(
      Option.when(!(foldErr <= 1e-3))(
        f"folded-in users miss the implicit normal equations: relative error $foldErr%.3g"),
      Option.when(byUser.size != out.folded.length)(
        s"fold-in returned ${out.folded.length} users for a batch of ${byUser.size}"),
      Option.when(exactBad > 0)(s"$exactBad sampled users' exact top-$K differ from brute force"),
      Option.when(approxBad > 0)(s"$approxBad users' approximate recommendations are mis-scored"),
      Option.when(neighBad > 0)(s"$neighBad items' approximate neighbours are mis-scored"),
      Option.when(out.approx.map(_._1).distinct.length != users.size)(
        "approximate recommendations do not cover every user")
    ).flatten
  }

  def close(): Unit = {
    Option(model).foreach(_.unpersist())
    Option(train).foreach(_.unpersist())
    Option(fresh).foreach(_.unpersist())
    model = null
  }
}

/** Exact then near-duplicate removal over a generated corpus: exact
  * keepers, MinHash-LSH near-duplicate pairs over what survives, the
  * connected components of those pairs, and the near-dedup keep-list.
  */
final class DedupNearDups(spark: SparkSession, seed: Long, tiny: Boolean) extends Workload {
  val name = "dedup_near_dups"
  val Threshold = 0.7

  var corpus: Inputs.Corpus = _
  var docs: DataFrame = _

  def setup(): Unit = {
    close()
    corpus = if (tiny) Inputs.corpus(seed, 400, 0.08, 30, 2, 5)
      else Inputs.corpus(seed, 2500, 0.08, 120, 2, 5)
    import spark.implicits._
    docs = spark.sparkContext
      .parallelize(corpus.ids.zip(corpus.texts).toSeq, spark.sparkContext.defaultParallelism)
      .toDF("doc_id", "text").persist()
    docs.count()
  }

  final class Out(val deduped: DataFrame, val pairs: DataFrame,
      val components: Array[(Long, Long)], val keepers: Array[Long]) extends PassOut {
    lazy val exactIds: Array[Long] = deduped.select("doc_id").collect().map(_.getLong(0))
    lazy val pairRows: Array[(Long, Long, Double)] =
      pairs.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    lazy val checksums: Seq[(String, Long)] = Seq(
      "exact_keepers" -> Workload.sum(exactIds.map(Seq(_))),
      "near_dup_pairs" -> Workload.sum(pairRows.map(_.productIterator.toSeq)),
      "components" -> Workload.sum(components.map(_.productIterator.toSeq)),
      "near_keepers" -> Workload.sum(keepers.map(Seq(_))))
    def free(): Unit = {
      pairs.unpersist()
      deduped.unpersist()
    }
  }

  def pass(t: Tracer): PassOut = run(t, shingleFirst = false)

  /** The pass. With `shingleFirst` the shingle frame is built in a span of
    * its own and handed to the near-duplicate step as `preShingled`.
    */
  def run(t: Tracer, shingleFirst: Boolean): Out = {
    val deduped = t.span("dedup.exact") {
      val keep = Dedup.exactKeepers(docs)
      val d = docs.join(keep, docs("doc_id") === keep("keeper_id"), "left_semi").persist()
      d.count()
      d
    }
    val shingled = Option.when(shingleFirst)(t.span("dedup.shingle") {
      val sh = Dedup.shingleFrame(deduped).persist()
      sh.count()
      sh
    })
    val pairs = t.span("dedup.near_dups")(
      Dedup.minhashNearDups(deduped, threshold = Threshold, preShingled = shingled))
    shingled.foreach(_.unpersist())
    val components = t.span("dedup.components") {
      Dedup.connectedComponents(pairs).collect().map(r => (r.getLong(0), r.getLong(1)))
    }
    val keepers = t.span("dedup.keepers") {
      Dedup.nearDedupKeepers(deduped, pairs).select("doc_id").collect().map(_.getLong(0))
    }
    new Out(deduped, pairs, components, keepers)
  }

  private lazy val text: Map[Long, String] = corpus.ids.zip(corpus.texts).toMap
  private lazy val shingles: Map[Long, Set[String]] =
    text.map { case (id, t) => id -> Oracle.shingles(t) }

  /** Ids that survive exact dedup: the smallest id of each distinct text. */
  private lazy val exactSurvivors: Set[Long] =
    text.groupBy(_._2).values.map(_.keys.min).toSet

  /** Pairs inside a planted cluster, both surviving exact dedup, whose
    * Jaccard reaches the threshold.
    */
  private lazy val plantedPairs: Set[(Long, Long)] = corpus.clusters.flatMap { c =>
    val live = c.filter(exactSurvivors).sorted
    for (i <- live.indices; j <- i + 1 until live.length
         if Oracle.jaccard(shingles(live(i)), shingles(live(j))) >= Threshold)
      yield (live(i), live(j))
  }.toSet

  /** Recall of the planted near-duplicate pairs. */
  def quality(out0: PassOut): Double = {
    val found = out0.asInstanceOf[Out].pairRows.map(p => (p._1, p._2)).toSet
    plantedPairs.count(found).toDouble / plantedPairs.size
  }

  def verify(out0: PassOut): Seq[String] = {
    val out = out0.asInstanceOf[Out]
    val lowPairs = out.pairRows.count { case (a, b, _) =>
      Oracle.jaccard(shingles(a), shingles(b)) < Threshold
    }
    val cluster = out.components.toMap
    val split = corpus.clusters.count { c =>
      c.filter(exactSurvivors).map(id => cluster.getOrElse(id, id)).distinct.length > 1
    }
    val removedNear = out.pairRows.map(_._2).toSet
    Seq(
      Option.when(out.exactIds.toSet != exactSurvivors)(
        s"exact keepers differ from the smallest id per distinct text " +
          s"(${out.exactIds.length} kept, ${exactSurvivors.size} expected)"),
      Option.when(corpus.exactGroups.exists(_.sorted.tail.exists(out.exactIds.contains)))(
        "a planted exact duplicate survived exact dedup"),
      Option.when(lowPairs > 0)(s"$lowPairs emitted pairs have word-3-shingle Jaccard below $Threshold"),
      Option.when(split > 0)(s"$split planted clusters are split over several components"),
      Option.when(out.keepers.toSet != exactSurvivors.diff(removedNear))(
        "near-dedup keepers are not the exact keepers minus every pair's larger id")
    ).flatten
  }

  def close(): Unit = Option(docs).foreach(_.unpersist())
}
