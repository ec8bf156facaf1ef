package graft.bdf

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Golden-fixture factorization tests (SURVEY.md §5.4): a rank-2
  * synthetic matrix must be recovered well below the
  * predict-the-global-mean baseline, deterministically. */
class GibbsSpec extends SparkSpec {

  private def rank2Matrix(nRows: Int, nCols: Int, seed: Long): Seq[(Long, Long, Double)] = {
    def u(i: Int, j: Int) = CbRng.gaussian(seed, 1L, i.toLong, j.toLong)
    def v(i: Int, j: Int) = CbRng.gaussian(seed, 2L, i.toLong, j.toLong)
    for (i <- 0 until nRows; j <- 0 until nCols) yield {
      val x = u(i, 0) * v(j, 0) + u(i, 1) * v(j, 1) +
        0.05 * CbRng.gaussian(seed, 3L, i.toLong, j.toLong)
      (i.toLong, j.toLong, x)
    }
  }

  test("BPMF recovers a rank-2 matrix below the mean-baseline RMSE") {
    val s = spark
    import s.implicits._
    val cells = rank2Matrix(40, 30, seed = 7L)
    val df = cells.toDF("row", "col", "v")
    val res = Macau.fit(spark, df, Seq("row", "col"), "v",
      Gibbs.Options(numLatent = 8, burnin = 6, samples = 6, alpha = 20.0, seed = 11L),
      testFraction = 0.2)

    // baseline: predict the global mean of the full matrix
    val stats = df.select(avg($"v").as("m"), stddev_pop($"v").as("sd")).head()
    val baseline = stats.getDouble(1)
    assert(res.predictions.count() > 0)
    assert(res.finalRmse < 0.5 * baseline,
      s"rmse ${res.finalRmse} not < 0.5 * baseline $baseline")
    // posterior averaging should not be worse than the first sample
    assert(res.rmseHistory.last <= res.rmseHistory.head + 1e-9)
    // posterior predictive std: finite, non-negative, and actually
    // varying across samples for at least some cells
    val stds = res.predictions.select("pred_std").collect().map(_.getDouble(0))
    assert(stds.forall(x => x >= 0.0 && !x.isNaN))
    assert(stds.exists(_ > 0.0))
  }

  test("Gibbs is deterministic for a fixed seed") {
    val s = spark
    import s.implicits._
    val df = rank2Matrix(20, 15, seed = 3L).toDF("row", "col", "v")
    val opts = Gibbs.Options(numLatent = 4, burnin = 2, samples = 2, seed = 5L)
    val r1 = Macau.fit(spark, df, Seq("row", "col"), "v", opts)
    val r2 = Macau.fit(spark, df, Seq("row", "col"), "v", opts)
    assert(r1.finalRmse === r2.finalRmse)
  }

  test("3-mode tensor factorization runs and beats the zero predictor") {
    val s = spark
    import s.implicits._
    def f(stream: Long, i: Int, j: Int) = CbRng.gaussian(13L, stream, i.toLong, j.toLong)
    val cells = for (i <- 0 until 12; j <- 0 until 10; k <- 0 until 6) yield {
      val x = (0 until 2).map(r => f(1, i, r) * f(2, j, r) * f(3, k, r)).sum +
        0.05 * CbRng.gaussian(13L, 4L, (i * 100 + j * 10 + k).toLong, 0L)
      (i.toLong, j.toLong, k.toLong, x)
    }
    val df = cells.toDF("a", "b", "c", "v")
    val res = Macau.fit(spark, df, Seq("a", "b", "c"), "v",
      Gibbs.Options(numLatent = 4, burnin = 4, samples = 4, alpha = 20.0, seed = 17L))
    val sd = df.select(stddev_pop($"v")).head().getDouble(0)
    assert(res.finalRmse < sd, s"tensor rmse ${res.finalRmse} not < sd $sd")
  }

  test("side information shifts the latent mean (Macau link term)") {
    val s = spark
    import s.implicits._
    // rows cluster by a binary side feature; values = feature effect + noise
    val n = 30; val m = 20
    val cells = for (i <- 0 until n; j <- 0 until m) yield {
      val g = if (i % 2 == 0) 1.0 else -1.0
      (i.toLong, j.toLong, g + 0.1 * CbRng.gaussian(23L, 1L, i.toLong, j.toLong))
    }
    val df = cells.toDF("row", "col", "v")
    val side = (0 until n).map(i => (i.toLong, Array(if (i % 2 == 0) 1.0 else -1.0)))
      .toDF("id", "features")
    val rd0 = RelationData.fromDF(df, Seq("row", "col"), "v")
    val rd = rd0.copy(entities = rd0.entities.updated("row",
      rd0.entities("row").copy(side = Some(side))))
    val split = Macau.assignToTest(rd, 0.2)
    val res = Macau.macau(spark, split.train, split.test,
      Gibbs.Options(numLatent = 4, burnin = 4, samples = 4, alpha = 20.0, seed = 29L))
    val sd = df.select(stddev_pop($"v")).head().getDouble(0)
    assert(res.finalRmse < sd, s"side-info rmse ${res.finalRmse} not < sd $sd")
  }

  test("distributed-factors mode recovers the rank-2 matrix too") {
    val s = spark
    import s.implicits._
    val cells = rank2Matrix(40, 30, seed = 7L)
    val df = cells.toDF("row", "col", "v")
    val res = Macau.fit(spark, df, Seq("row", "col"), "v",
      Gibbs.Options(numLatent = 8, burnin = 4, samples = 4, alpha = 20.0,
        seed = 11L, distributedFactors = Some(true)),
      testFraction = 0.2)
    val baseline = df.select(stddev_pop($"v")).head().getDouble(0)
    assert(res.finalRmse < 0.5 * baseline,
      s"distributed rmse ${res.finalRmse} not < 0.5 * baseline $baseline")
    // the distributed path surfaces the same persistable uncertainty
    // state as the broadcast path, and it derives the SAME predictions
    assert(res.mode === "distributed")
    assert(res.predMoments.nonEmpty,
      "distributed train did not surface the moments table")
    val fromMoments = Macau.predictionsFromMoments(res.predMoments.get)
      .select("row_id", "pred", "pred_std").collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    val inRun = res.predictions.select("row_id", "pred", "pred_std").collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    assert(fromMoments === inRun,
      "distributed moments diverged from in-run predictions")
  }

  test("auto mode switch routes by the broadcast driver footprint") {
    val s = spark
    import s.implicits._
    val df = rank2Matrix(20, 15, seed = 3L).toDF("row", "col", "v")
    // footprint here = (20 + 15) entities x k=4 = 140 doubles
    val base = Gibbs.Options(numLatent = 4, burnin = 1, samples = 1, seed = 5L)
    val small = Macau.fit(spark, df, Seq("row", "col"), "v",
      base, testFraction = 0.2)
    assert(small.mode == "broadcast",
      s"tiny problem should stay on the broadcast path, got ${small.mode}")
    val forced = Macau.fit(spark, df, Seq("row", "col"), "v",
      base.copy(autoDistributedDoubles = 100L), testFraction = 0.2)
    assert(forced.mode == "distributed",
      s"footprint 140 > threshold 100 should switch, got ${forced.mode}")
    // explicit flag always wins over the heuristic
    val explicit = Macau.fit(spark, df, Seq("row", "col"), "v",
      base.copy(autoDistributedDoubles = 100L,
        distributedFactors = Some(false)), testFraction = 0.2)
    assert(explicit.mode == "broadcast")
  }

  test("the broadcast footprint counts each side table's F x F Gram matrix") {
    val s = spark
    import s.implicits._
    val cells = Seq((0L, 0L, 1.0), (1L, 1L, 2.0)).toDF("row", "col", "v")
    val side = Seq((0L, Array(1.0, 0.0, 2.0)), (1L, Array(0.0, 3.0, 0.0))).toDF("id", "features")
    val rd = RelationData(
      Map("row" -> Entity("row", 2, Some(side)), "col" -> Entity("col", 5)),
      Seq(Relation("r0", cells, Seq("row", "col"), Seq("row", "col"), "v")))
    // N (K + F) + F^2 for the side-equipped entity, N K for the other
    assert(Gibbs.broadcastFootprint(rd, 4) === 2 * (4 + 3) + 3 * 3 + 5 * 4)
  }

  test("multi-relation coupling: a second relation sharing the row entity helps") {
    val s = spark
    import s.implicits._
    // shared row factors drive BOTH relations; train jointly (Macau §2.3)
    def u(i: Int, r: Int) = CbRng.gaussian(41L, 1L, i.toLong, r.toLong)
    def v1(j: Int, r: Int) = CbRng.gaussian(41L, 2L, j.toLong, r.toLong)
    def v2(j: Int, r: Int) = CbRng.gaussian(41L, 3L, j.toLong, r.toLong)
    val r1 = for (i <- 0 until 30; j <- 0 until 20) yield
      (i.toLong, j.toLong, u(i, 0) * v1(j, 0) + u(i, 1) * v1(j, 1) +
        0.05 * CbRng.gaussian(41L, 4L, i.toLong, j.toLong))
    val r2 = for (i <- 0 until 30; j <- 0 until 15) yield
      (i.toLong, j.toLong, u(i, 0) * v2(j, 0) + u(i, 1) * v2(j, 1) +
        0.05 * CbRng.gaussian(41L, 5L, i.toLong, j.toLong))
    val df1 = r1.toDF("row", "col", "v")
    val df2 = r2.toDF("row", "col2", "v")
    val rd = RelationData(
      Map("row" -> Entity("row", 30), "col" -> Entity("col", 20),
          "col2" -> Entity("col2", 15)),
      Seq(Relation("r1", df1, Seq("row", "col"), Seq("row", "col"), "v"),
          Relation("r2", df2, Seq("row", "col2"), Seq("row", "col2"), "v")))
    val split = Macau.assignToTest(rd, 0.2)
    val res = Macau.macau(spark, split.train, split.test,
      Gibbs.Options(numLatent = 6, burnin = 4, samples = 4, alpha = 20.0, seed = 43L))
    val sd = df1.select(stddev_pop($"v")).head().getDouble(0)
    assert(res.finalRmse < 0.6 * sd,
      s"multi-relation rmse ${res.finalRmse} not < 0.6 * sd $sd")
  }

  test("sampled noise precision (alpha) still converges") {
    val s = spark
    import s.implicits._
    val df = rank2Matrix(25, 20, seed = 9L).toDF("row", "col", "v")
    val res = Macau.fit(spark, df, Seq("row", "col"), "v",
      Gibbs.Options(numLatent = 6, burnin = 4, samples = 4, sampleAlpha = true,
        alpha = 1.0, seed = 19L))
    val sd = df.select(stddev_pop($"v")).head().getDouble(0)
    assert(res.finalRmse < sd, s"sampled-alpha rmse ${res.finalRmse} not < sd $sd")
  }

  test("distributed-factors mode samples the noise precision too") {
    val s = spark
    import s.implicits._
    val df = rank2Matrix(25, 20, seed = 9L).toDF("row", "col", "v")
    val res = Macau.fit(spark, df, Seq("row", "col"), "v",
      Gibbs.Options(numLatent = 6, burnin = 3, samples = 3, sampleAlpha = true,
        alpha = 1.0, seed = 19L, distributedFactors = Some(true)))
    val sd = df.select(stddev_pop($"v")).head().getDouble(0)
    assert(res.finalRmse < sd,
      s"distributed sampled-alpha rmse ${res.finalRmse} not < sd $sd")
  }

  test("distributed-factors mode handles a 3-mode tensor") {
    val s = spark
    import s.implicits._
    def f(stream: Long, i: Int, j: Int) = CbRng.gaussian(13L, stream, i.toLong, j.toLong)
    val cells = for (i <- 0 until 10; j <- 0 until 8; k2 <- 0 until 5) yield {
      val x = (0 until 2).map(r => f(1, i, r) * f(2, j, r) * f(3, k2, r)).sum +
        0.05 * CbRng.gaussian(13L, 4L, (i * 100 + j * 10 + k2).toLong, 0L)
      (i.toLong, j.toLong, k2.toLong, x)
    }
    val df = cells.toDF("a", "b", "c", "v")
    val res = Macau.fit(spark, df, Seq("a", "b", "c"), "v",
      Gibbs.Options(numLatent = 4, burnin = 3, samples = 3, alpha = 20.0,
        seed = 17L, distributedFactors = Some(true)))
    val sd = df.select(stddev_pop($"v")).head().getDouble(0)
    assert(res.finalRmse < sd, s"distributed tensor rmse ${res.finalRmse} not < sd $sd")
  }

  test("distributed-factors mode with side info (full Macau, nothing on the driver)") {
    val s = spark
    import s.implicits._
    val n = 30; val m = 20
    val cells = for (i <- 0 until n; j <- 0 until m) yield {
      val g = if (i % 2 == 0) 1.0 else -1.0
      (i.toLong, j.toLong, g + 0.1 * CbRng.gaussian(23L, 1L, i.toLong, j.toLong))
    }
    val df = cells.toDF("row", "col", "v")
    val side = (0 until n).map(i => (i.toLong, Array(if (i % 2 == 0) 1.0 else -1.0)))
      .toDF("id", "features")
    val rd0 = RelationData.fromDF(df, Seq("row", "col"), "v")
    val rd = rd0.copy(entities = rd0.entities.updated("row",
      rd0.entities("row").copy(side = Some(side))))
    val split = Macau.assignToTest(rd, 0.2)
    val res = Macau.macau(spark, split.train, split.test,
      Gibbs.Options(numLatent = 4, burnin = 3, samples = 3, alpha = 20.0,
        seed = 37L, distributedFactors = Some(true)))
    val sd = df.select(stddev_pop($"v")).head().getDouble(0)
    assert(res.finalRmse < sd,
      s"distributed side-info rmse ${res.finalRmse} not < sd $sd")
  }

  /** A planted Macau problem in the benchmark's shape: row factors are a
    * linear function of dense gaussian row features plus noise, column
    * factors are gaussian, each row observes `perRow` columns and ~20%
    * of cells are held out. Returns (train, test, stddev of test v). */
  private def linkedMacau(seed: Long): (RelationData, org.apache.spark.sql.DataFrame, Double) = {
    val s = spark
    import s.implicits._
    val rows = 150; val cols = 30; val perRow = 12; val nf = 5; val kt = 3
    val rng = new scala.util.Random(seed)
    val beta = Array.fill(nf, kt)(rng.nextGaussian() / math.sqrt(nf))
    val x = Array.fill(rows, nf)(rng.nextGaussian())
    val u = Array.tabulate(rows, kt)((i, k) =>
      (0 until nf).map(f => x(i)(f) * beta(f)(k)).sum + 0.3 * rng.nextGaussian())
    val v = Array.fill(cols, kt)(rng.nextGaussian())
    val cells = for (i <- 0 until rows; j <- rng.shuffle((0 until cols).toList).take(perRow))
      yield (i.toLong, j.toLong,
        (0 until kt).map(k => u(i)(k) * v(j)(k)).sum + 0.5 * rng.nextGaussian(),
        rng.nextDouble() < 0.2)
    val test = cells.filter(_._4)
      .map { case (i, j, y, _) => (i * cols + j, Seq(i, j), y) }.toDF("row_id", "ids", "v")
    val side = x.zipWithIndex.map { case (f, i) => (i.toLong, f) }.toSeq.toDF("id", "features")
    val rd = RelationData(
      Map("row" -> Entity("row", rows, Some(side)), "col" -> Entity("col", cols)),
      Seq(Relation("r0", cells.filterNot(_._4).map(c => (c._1, c._2, c._3)).toDF("row", "col", "v"),
        Seq("row", "col"), Seq("row", "col"), "v")))
    (rd, test, test.select(stddev_pop($"v")).head().getDouble(0))
  }

  test("distributed mode with dense linked side info agrees with broadcast mode") {
    val (rd, test, sd) = linkedMacau(42L)
    val opts = Gibbs.Options(numLatent = 4, burnin = 3, samples = 3, seed = 42L)
    val b = Gibbs.train(spark, rd, test, opts.copy(distributedFactors = Some(false)))
    val d1 = Gibbs.train(spark, rd, test, opts.copy(distributedFactors = Some(true)))
    // storageLevel is the cache manager's lookup of an equal plan
    assert(test.storageLevel === StorageLevel.NONE, "distributed train left the test table cached")
    for (r <- rd.relations)
      assert(r.coo.storageLevel === StorageLevel.NONE, s"distributed train left ${r.name} cached")
    val d2 = Gibbs.train(spark, rd, test, opts.copy(distributedFactors = Some(true)))
    assert(b.mode == "broadcast" && d1.mode == "distributed")
    assert(d1.finalRmse < sd, s"distributed rmse ${d1.finalRmse} not < sd $sd")
    assert(math.abs(d1.finalRmse - b.finalRmse) <= 0.2 * b.finalRmse,
      s"distributed rmse ${d1.finalRmse} vs broadcast ${b.finalRmse}")
    // every draw reads the shared prior mean; none may write to it
    assert(d1.rmseHistory === d2.rmseHistory)
  }

  /** One X in both side-table shapes: `side`'s dense rows with about a
    * third of the entries and every tenth row set to zero, as a dense
    * table and as a sparse one, which leaves the all-zero rows out. */
  private def bothShapes(side: org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val s = spark
    import s.implicits._
    val xs = side.collect().map { r =>
      val id = r.getLong(0)
      (id, r.getSeq[Double](1).zipWithIndex.map { case (x, f) =>
        if (id % 10 == 0 || (id + f) % 3 == 0) 0.0 else x })
    }
    val sparse = xs.filterNot(_._1 % 10 == 0).map { case (id, x) =>
      val nz = x.zipWithIndex.filter(_._1 != 0.0)
      (id, nz.map(_._2), nz.map(_._1))
    }
    (xs.toSeq.toDF("id", "features"), sparse.toSeq.toDF("id", "indices", "values"))
  }

  test("a sparse and a dense side table of the same X train to the same factors, both modes") {
    val (rd, test, _) = linkedMacau(42L)
    val (dense, sparse) = bothShapes(rd.entities("row").side.get)
    def withSide(side: org.apache.spark.sql.DataFrame) =
      rd.copy(entities = rd.entities.updated("row", rd.entities("row").copy(side = Some(side))))
    for (distributed <- Seq(false, true)) {
      val opts = Gibbs.Options(numLatent = 4, burnin = 3, samples = 2, seed = 42L,
        distributedFactors = Some(distributed))
      val d = Gibbs.train(spark, withSide(dense), test, opts)
      val sp = Gibbs.train(spark, withSide(sparse), test, opts)
      val mode = s"distributed=$distributed"
      if (!distributed) {
        assert(factorBits(sp) === factorBits(d), mode)
        assert(cellBits(sp) === cellBits(d), mode)
        assert(bits(sp.rmseHistory) === bits(d.rmseHistory), mode)
        assert(bits(sp.links("row").flatten.toSeq) === bits(d.links("row").flatten.toSeq), mode)
      } else {
        // the sparse table has fewer rows, so the joins on it and on its
        // link shift can place rows in other partitions, and the
        // per-partition sums then add in another order: equal to
        // relative 1e-12, not bit for bit
        def close(a: Seq[Double], b: Seq[Double]) = a.length == b.length && a.zip(b).forall {
          case (x, y) => math.abs(x - y) <= 1e-12 * math.max(math.abs(x), math.abs(y)) }
        def values(r: Gibbs.Result) = r.factors.toSeq.sortBy(_._1).flatMap { case (_, df) =>
          df.collect().sortBy(_.getLong(0)).flatMap(_.getSeq[Double](1)) }
        assert(close(values(sp), values(d)), mode)
        assert(close(sp.rmseHistory, d.rmseHistory), mode)
        assert(close(sp.links("row").flatten.toSeq, d.links("row").flatten.toSeq), mode)
      }
    }
  }

  test("cold start reads a sparse xNew as the dense one of the same X, bit for bit") {
    val s = spark
    import s.implicits._
    val (rd, test, _) = linkedMacau(42L)
    val (_, sparseSide) = bothShapes(rd.entities("row").side.get)
    // a model trained on the sparse shape, as Macau.sideFromCoo builds it
    val res = Gibbs.train(spark,
      rd.copy(entities = rd.entities.updated("row", rd.entities("row").copy(side = Some(sparseSide)))),
      test, Gibbs.Options(numLatent = 4, burnin = 2, samples = 1, seed = 42L))
    // new ids; one all-zero row, given as an empty sparse row
    val newSide = rd.entities("row").side.get.filter($"id" < 20)
      .select(($"id" + 1000L).as("id"), $"features")
    val (dense, sparse) = bothShapes(newSide)
    val sparseAll = sparse.unionByName(
      dense.filter($"id" % 10 === 0).select($"id", expr("array()").cast("array<int>").as("indices"),
        expr("array()").cast("array<double>").as("values")))
    def coldBits(x: org.apache.spark.sql.DataFrame) =
      Macau.coldStartFactors(spark, res, "row", x).collect()
        .map(r => r.getLong(0) -> bits(r.getSeq[Double](1))).toMap
    val fromDense = coldBits(dense)
    assert(fromDense.size === 20)
    assert(coldBits(sparseAll) === fromDense)
    // an index at F or beyond is rejected with its id
    val tooWide = Seq((2000L, Seq(1, 5), Seq(1.0, 2.0))).toDF("id", "indices", "values")
    val e = intercept[Exception](Macau.coldStartFactors(spark, res, "row", tooWide).collect())
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).toSeq
    assert(messages.exists(_.contains("cold-start side table: index outside [0, 5) in column indices " +
      "at row (id=2000, indices=[1,5])")), messages.mkString("\n"))
  }

  test("distributed-factors mode with SPARSE side info (CSR one-hot rows)") {
    val s = spark
    import s.implicits._
    val n = 30; val m = 20
    val cells = for (i <- 0 until n; j <- 0 until m) yield {
      val g = if (i % 2 == 0) 1.0 else -1.0
      (i.toLong, j.toLong, g + 0.1 * CbRng.gaussian(23L, 1L, i.toLong, j.toLong))
    }
    val df = cells.toDF("row", "col", "v")
    // sparse one-hot group feature: indices = [group], values = [1.0]
    val side = (0 until n).map(i => (i.toLong, Seq(i % 2), Seq(1.0)))
      .toDF("id", "indices", "values")
    val rd0 = RelationData.fromDF(df, Seq("row", "col"), "v")
    val rd = rd0.copy(entities = rd0.entities.updated("row",
      rd0.entities("row").copy(side = Some(side))))
    val split = Macau.assignToTest(rd, 0.2)
    val res = Macau.macau(spark, split.train, split.test,
      Gibbs.Options(numLatent = 4, burnin = 3, samples = 3, alpha = 20.0,
        seed = 37L, distributedFactors = Some(true)))
    val sd = df.select(stddev_pop($"v")).head().getDouble(0)
    assert(res.finalRmse < sd,
      s"sparse side-info rmse ${res.finalRmse} not < sd $sd")
  }

  test("binary probit (Albert-Chib) extension ranks positives above negatives") {
    val s = spark
    import s.implicits._
    // rank-1 latent scores -> probit probabilities -> Bernoulli labels
    val n = 40; val m = 30
    def uF(i: Int) = CbRng.gaussian(51L, 1L, i.toLong, 0L)
    def wF(j: Int) = CbRng.gaussian(51L, 2L, j.toLong, 0L)
    val cells = for (i <- 0 until n; j <- 0 until m) yield {
      val score = 1.5 * uF(i) * wF(j)
      val p = Gibbs.Probit.phi(score)
      val y = if (CbRng.uniform(51L, 3L, i.toLong, j.toLong) < p) 1.0 else 0.0
      (i.toLong, j.toLong, y)
    }
    val df = cells.toDF("row", "col", "v")
    val res = Macau.fit(spark, df, Seq("row", "col"), "v",
      Gibbs.Options(numLatent = 4, burnin = 6, samples = 6,
        binaryProbit = true, seed = 61L), testFraction = 0.2)
    val preds = res.predictions.select("v", "pred").collect()
      .map(r => (r.getDouble(0), r.getDouble(1)))
    val pos = preds.filter(_._1 > 0.5).map(_._2)
    val neg = preds.filter(_._1 < 0.5).map(_._2)
    assert(pos.nonEmpty && neg.nonEmpty)
    val auc = pos.map(p =>
      neg.count(_ < p) + 0.5 * neg.count(_ == p)).sum /
      (pos.length.toDouble * neg.length)
    assert(auc > 0.75, s"probit AUC $auc not > 0.75")

    // distributed-factors parity: same model, same quality bar
    val resD = Macau.fit(spark, df, Seq("row", "col"), "v",
      Gibbs.Options(numLatent = 4, burnin = 4, samples = 4,
        binaryProbit = true, seed = 61L, distributedFactors = Some(true)),
      testFraction = 0.2)
    val predsD = resD.predictions.select("v", "pred").collect()
      .map(r => (r.getDouble(0), r.getDouble(1)))
    val posD = predsD.filter(_._1 > 0.5).map(_._2)
    val negD = predsD.filter(_._1 < 0.5).map(_._2)
    val aucD = posD.map(p =>
      negD.count(_ < p) + 0.5 * negD.count(_ == p)).sum /
      (posD.length.toDouble * negD.length)
    assert(aucD > 0.75, s"distributed probit AUC $aucD not > 0.75")
  }

  test("dense-matrix ingest (fromDense) equals the COO path bitwise") {
    val s = spark
    import s.implicits._
    val cells = rank2Matrix(20, 12, seed = 3L)
    val dense = cells.groupBy(_._1).toSeq.sortBy(_._1).map { case (i, rows) =>
      (i, rows.sortBy(_._2).map(_._3).toArray)
    }.toDF("row", "vals")
    val rdDense = RelationData.fromDense(dense, "row", "vals")
    val rdCoo = RelationData.fromDF(cells.toDF("row", "col", "v"),
      Seq("row", "col"), "v")
    val opts = Gibbs.Options(numLatent = 3, burnin = 2, samples = 2, seed = 7L)
    val r1 = Macau.macau(spark, Macau.assignToTest(rdDense, 0.2).train,
      Macau.assignToTest(rdDense, 0.2).test, opts)
    val r2 = Macau.macau(spark, Macau.assignToTest(rdCoo, 0.2).train,
      Macau.assignToTest(rdCoo, 0.2).test, opts)
    // draws are counter-based (partitioning-invariant); only the final
    // RMSE avg() accumulates in physical row order, hence the epsilon
    assert(math.abs(r1.finalRmse - r2.finalRmse) < 1e-12,
      s"${r1.finalRmse} vs ${r2.finalRmse}")
  }

  test("per-relation alpha: a zero-precision relation contributes nothing (bitwise)") {
    val s = spark
    import s.implicits._
    val cells = rank2Matrix(30, 20, seed = 7L) // dense: every id observed in r1
    val df1 = cells.toDF("row", "col", "v")
    val noise = for (i <- 0 until 30; j <- 0 until 15)
      yield (i.toLong, j.toLong, CbRng.gaussian(99L, 1L, i.toLong, j.toLong))
    val df2 = noise.toDF("row", "col2", "v")
    val opts = Gibbs.Options(numLatent = 4, burnin = 2, samples = 2,
      alpha = 20.0, seed = 31L)

    val rd1 = RelationData.fromDF(df1, Seq("row", "col"), "v")
    val s1 = Macau.assignToTest(rd1, 0.2)
    val res1 = Macau.macau(spark, s1.train, s1.test, opts)

    // same factorization + a second relation whose alpha = 0: its
    // likelihood terms are exactly zero, so every draw must be
    // bit-identical to the single-relation run
    val rd2 = RelationData(
      Map("row" -> Entity("row", 30), "col" -> Entity("col", 20),
          "col2" -> Entity("col2", 15)),
      Seq(Relation("r0", df1, Seq("row", "col"), Seq("row", "col"), "v"),
          Relation("r2", df2, Seq("row", "col2"), Seq("row", "col2"), "v",
            alpha = Some(0.0))))
    val s2 = Macau.assignToTest(rd2, 0.2)
    val res2 = Macau.macau(spark, s2.train, s2.test, opts)

    assert(res1.finalRmse === res2.finalRmse)
    assert(res1.rmseHistory === res2.rmseHistory)
  }

  test("model persistence: save -> load -> predict reproduces in-memory factors") {
    val s = spark
    import s.implicits._
    val df = rank2Matrix(25, 20, seed = 5L).toDF("row", "col", "v")
    val res = Macau.fit(spark, df, Seq("row", "col"), "v",
      Gibbs.Options(numLatent = 4, burnin = 2, samples = 2, alpha = 20.0, seed = 13L))
    assert(res.factors.keySet === Set("row", "col"))

    val dir = java.nio.file.Files.createTempDirectory("macau-model").toString
    Macau.saveModel(dir, res)
    val loaded = Macau.loadModel(spark, dir, Seq("row", "col"))

    val cells = (for (i <- 0 until 5; j <- 0 until 4)
      yield (i.toLong, j.toLong)).toDF("row", "col")
    def score(f: Map[String, org.apache.spark.sql.DataFrame]) =
      Macau.predict(spark, f, cells, Seq("row", "col"))
        .select("row", "col", "pred").collect()
        .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val fromMem = score(res.factors)
    val fromDisk = score(loaded)
    assert(fromMem === fromDisk)
    assert(fromMem.size === 20 && fromMem.values.forall(v => !v.isNaN))
  }

  test("saved-model uncertainty equals in-run posterior std (moments round-trip)") {
    val s = spark
    import s.implicits._
    val df = rank2Matrix(25, 20, seed = 9L).toDF("row", "col", "v")
    val clamp = Some((-3.0, 3.0))
    val res = Macau.fit(spark, df, Seq("row", "col"), "v",
      Gibbs.Options(numLatent = 4, burnin = 2, samples = 3, alpha = 20.0,
        seed = 17L, clamp = clamp))
    assert(res.predMoments.nonEmpty, "train did not surface the moments table")

    val dir = java.nio.file.Files.createTempDirectory("macau-unc").toString
    Macau.saveModel(dir, res)

    def asMap(p: org.apache.spark.sql.DataFrame) =
      p.select("row_id", "v", "pred", "pred_std").collect()
        .map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2), r.getDouble(3))))
        .toMap
    val inRun = asMap(res.predictions)
    // the LOADED moments answer the same uncertainty queries, bitwise
    val fromDisk = asMap(
      Macau.predictionsFromMoments(Macau.loadMoments(spark, dir), clamp))
    assert(fromDisk === inRun,
      "saved-model (pred, pred_std) diverged from the in-run values")
    assert(inRun.nonEmpty &&
      inRun.values.exists { case (_, _, sd) => sd > 0.0 })
    // the moments carry the kept-sample count (merge-ready state)
    val n = Macau.loadMoments(spark, dir).select("n_samples")
      .distinct().collect().map(_.getInt(0)).toSeq
    assert(n === Seq(3), s"expected n_samples = 3, got $n")
  }

  test("keepSamples: saved empirical credible bounds equal in-run, both modes") {
    val s = spark
    import s.implicits._
    val df = rank2Matrix(25, 20, seed = 21L).toDF("row", "col", "v")
    for (distributed <- Seq(false, true)) {
      val res = Macau.fit(spark, df, Seq("row", "col"), "v",
        Gibbs.Options(numLatent = 4, burnin = 2, samples = 5, alpha = 20.0,
          seed = 19L, keepSamples = 5,
          distributedFactors = Some(distributed)))
      assert(res.samplePreds.nonEmpty, s"no sample trace (distributed=$distributed)")
      // keepSamples = samples retains EVERY kept sweep
      val trace = res.samplePreds.get
      val idxs = trace.select("sample_idx").distinct()
        .collect().map(_.getInt(0)).sorted.toSeq
      assert(idxs === Seq(0, 1, 2, 3, 4),
        s"retention not exhaustive at keepSamples=samples: $idxs")

      def asMap(p: org.apache.spark.sql.DataFrame) =
        p.select("row_id", "lo_pred", "hi_pred").collect()
          .map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
      val inRun = asMap(Macau.empiricalCredible(trace, 0.2, 0.8))
      val dir = java.nio.file.Files
        .createTempDirectory(s"macau-samp-$distributed").toString
      Macau.saveModel(dir, res)
      val fromDisk = asMap(
        Macau.empiricalCredible(Macau.loadSamples(spark, dir), 0.2, 0.8))
      assert(fromDisk === inRun,
        s"saved-sample quantiles diverged from in-run (distributed=$distributed)")
      assert(inRun.nonEmpty && inRun.values.forall { case (lo, hi) => lo <= hi })
      // order stats ARE order stats: with 5 samples, (0.2, 0.8) are the
      // 1st and 4th values — strictly inside the (min, max) envelope
      // whenever the trace varies
      val envelope = trace.groupBy("row_id")
        .agg(min("pred").as("mn"), max("pred").as("mx"))
        .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
      assert(inRun.forall { case (id, (lo, hi)) =>
        lo >= envelope(id)._1 && hi <= envelope(id)._2 })
    }
  }

  test("keepSamples thinning: evenly spaced, bounded count") {
    // pure selector arithmetic (no Spark): 2 of 6 -> indices 2 and 5;
    // keep >= total -> all; keep = 0 -> none
    def retained(total: Int, keep: Int): Seq[Int] =
      (0 until total).filter(Posterior.retainSample(_, total, keep))
    assert(retained(6, 2) === Seq(2, 5))
    assert(retained(5, 5) === Seq(0, 1, 2, 3, 4))
    assert(retained(3, 7) === Seq(0, 1, 2))
    assert(retained(4, 0) === Seq())
    assert(retained(10, 3).size === 3)
  }

  test("sampled link precision (lambda_beta) still converges and is observable") {
    val s = spark
    import s.implicits._
    val n = 30; val m = 20
    val cells = for (i <- 0 until n; j <- 0 until m) yield {
      val g = if (i % 2 == 0) 1.0 else -1.0
      (i.toLong, j.toLong, g + 0.1 * CbRng.gaussian(41L, 1L, i.toLong, j.toLong))
    }
    val df = cells.toDF("row", "col", "v")
    val side = (0 until n).map(i => (i.toLong, Array(if (i % 2 == 0) 1.0 else -1.0)))
      .toDF("id", "features")
    val rd0 = RelationData.fromDF(df, Seq("row", "col"), "v")
    val rd = rd0.copy(entities = rd0.entities.updated("row",
      rd0.entities("row").copy(side = Some(side))))
    val split = Macau.assignToTest(rd, 0.2)
    val res = Macau.macau(spark, split.train, split.test,
      Gibbs.Options(numLatent = 4, burnin = 3, samples = 3, alpha = 20.0,
        seed = 43L, sampleLambdaBeta = true))
    val sd = df.select(stddev_pop($"v")).head().getDouble(0)
    assert(res.finalRmse < sd, s"sampled-lambda rmse ${res.finalRmse} not < sd $sd")
    // the drawn precision must be positive and have actually moved off
    // the fixed default
    val lp = res.linkPrecisions("row")
    assert(lp > 0.0 && math.abs(lp - Gibbs.Options().lambdaBeta) > 1e-9,
      s"lambda_beta not sampled: $lp")

    // distributed mode draws it too
    val resD = Macau.macau(spark, split.train, split.test,
      Gibbs.Options(numLatent = 4, burnin = 2, samples = 2, alpha = 20.0,
        seed = 43L, sampleLambdaBeta = true, distributedFactors = Some(true)))
    assert(resD.mode == "distributed")
    val lpD = resD.linkPrecisions("row")
    assert(lpD > 0.0 && math.abs(lpD - Gibbs.Options().lambdaBeta) > 1e-9)
  }

  test("cold start: side info alone predicts rows never observed in training") {
    val s = spark
    import s.implicits._
    // values depend ONLY on the row's side feature (plus noise), so a
    // model that learned the link matrix can score brand-new rows
    val nTrain = 30; val nCold = 10; val m = 20
    def gOf(i: Int) = if (i % 2 == 0) 1.0 else -1.0
    val train = for (i <- 0 until nTrain; j <- 0 until m) yield
      (i.toLong, j.toLong, gOf(i) + 0.1 * CbRng.gaussian(31L, 1L, i.toLong, j.toLong))
    val df = train.toDF("row", "col", "v")
    val side = (0 until nTrain).map(i => (i.toLong, Array(gOf(i))))
      .toDF("id", "features")
    val rd0 = RelationData.fromDF(df, Seq("row", "col"), "v")
    val rd = rd0.copy(entities = rd0.entities.updated("row",
      rd0.entities("row").copy(side = Some(side))))
    val split = Macau.assignToTest(rd, 0.1)
    val res = Macau.macau(spark, split.train, split.test,
      Gibbs.Options(numLatent = 4, burnin = 4, samples = 4, alpha = 20.0, seed = 37L))
    assert(res.links.contains("row") && res.priorMu.contains("row"))

    // rows nTrain..nTrain+nCold-1 were NEVER in the model — only their
    // side features exist
    val xNew = (0 until nCold).map(c => ((nTrain + c).toLong, Array(gOf(nTrain + c))))
      .toDF("id", "features")
    val coldU = Macau.coldStartFactors(spark, res, "row", xNew)
    val cells = (for (c <- 0 until nCold; j <- 0 until m)
      yield ((nTrain + c).toLong, j.toLong)).toDF("row", "col")
    val preds = Macau.predict(spark,
      res.factors + ("row" -> coldU), cells, Seq("row", "col"))
    val truth = (for (c <- 0 until nCold; j <- 0 until m) yield {
      val i = nTrain + c
      (i.toLong, j.toLong, gOf(i) + 0.1 * CbRng.gaussian(31L, 1L, i.toLong, j.toLong))
    }).toDF("row", "col", "t")
    val rmse = math.sqrt(preds.join(truth, Seq("row", "col"))
      .select(avg(pow($"pred" - $"t", 2))).head().getDouble(0))
    val sd2 = truth.select(stddev_pop($"t")).head().getDouble(0)
    assert(rmse < 0.6 * sd2,
      s"cold-start rmse $rmse not < 0.6 * baseline $sd2")
  }

  private def bits(xs: Seq[Double]): Seq[Long] = xs.map(java.lang.Double.doubleToLongBits)

  /** Every factor row of a result, as bits, in id order. */
  private def factorBits(r: Gibbs.Result): Map[String, Seq[(Long, Seq[Long])]] =
    r.factors.map { case (e, df) =>
      e -> df.collect().map(row => (row.getLong(0), bits(row.getSeq[Double](1))))
        .sortBy(_._1).toSeq
    }

  /** Every test cell's (pred, pred_std), as bits. */
  private def cellBits(r: Gibbs.Result): Map[Long, Seq[Long]] =
    r.predictions.select("row_id", "pred", "pred_std").collect()
      .map(row => row.getLong(0) -> bits(Seq(row.getDouble(1), row.getDouble(2)))).toMap

  test("sampled alpha is reproducible bit for bit, both modes") {
    val s = spark
    import s.implicits._
    val df = rank2Matrix(25, 20, seed = 9L).toDF("row", "col", "v")
    for (distributed <- Seq(false, true)) {
      val opts = Gibbs.Options(numLatent = 6, burnin = 3, samples = 3, sampleAlpha = true,
        alpha = 1.0, seed = 19L, distributedFactors = Some(distributed))
      val r1 = Macau.fit(spark, df, Seq("row", "col"), "v", opts)
      val r2 = Macau.fit(spark, df, Seq("row", "col"), "v", opts)
      assert(bits(r1.rmseHistory) === bits(r2.rmseHistory), s"distributed=$distributed")
      assert(bits(r1.sampleRmseHistory) === bits(r2.sampleRmseHistory),
        s"distributed=$distributed")
      assert(factorBits(r1) === factorBits(r2), s"distributed=$distributed")
    }
  }

  test("both RMSE traces are reproducible bit for bit, both modes") {
    val s = spark
    import s.implicits._
    val df = rank2Matrix(25, 20, seed = 5L).toDF("row", "col", "v")
    for (distributed <- Seq(false, true)) {
      val opts = Gibbs.Options(numLatent = 4, burnin = 2, samples = 3, alpha = 20.0,
        seed = 13L, distributedFactors = Some(distributed))
      val r1 = Macau.fit(spark, df, Seq("row", "col"), "v", opts)
      val r2 = Macau.fit(spark, df, Seq("row", "col"), "v", opts)
      assert(bits(r1.rmseHistory) === bits(r2.rmseHistory), s"distributed=$distributed")
      assert(bits(r1.sampleRmseHistory) === bits(r2.sampleRmseHistory),
        s"distributed=$distributed")
    }
  }

  test("broadcast mode: factors and per-cell predictions do not depend on the partition count") {
    val s = spark
    import s.implicits._
    val base = Gibbs.Options(numLatent = 3, burnin = 2, samples = 2, alpha = 20.0,
      seed = 71L, distributedFactors = Some(false))
    val rank2 = rank2Matrix(20, 15, seed = 3L).toDF("row", "col", "v")
    val tensor = (for (i <- 0 until 8; j <- 0 until 6; c <- 0 until 4)
      yield (i.toLong, j.toLong, c.toLong, CbRng.gaussian(73L, 1L, i * 100L + j * 10L + c, 0L)))
      .toDF("a", "b", "c", "v")
    val multi = RelationData(
      Map("row" -> Entity("row", 20), "col" -> Entity("col", 15),
          "col2" -> Entity("col2", 10)),
      Seq(Relation("r1", rank2, Seq("row", "col"), Seq("row", "col"), "v"),
          Relation("r2", (for (i <- 0 until 20; j <- 0 until 10)
              yield (i.toLong, j.toLong, CbRng.gaussian(79L, 1L, i.toLong, j.toLong)))
            .toDF("row", "col2", "v"),
            Seq("row", "col2"), Seq("row", "col2"), "v")))
    val binary = rank2.withColumn("v", when($"v" > 0, 1.0).otherwise(0.0))
    val multiSplit = Macau.assignToTest(multi, 0.2)
    val runs: Seq[(String, () => Gibbs.Result)] = Seq(
      "rank2" -> (() => Macau.fit(spark, rank2, Seq("row", "col"), "v", base)),
      "tensor" -> (() => Macau.fit(spark, tensor, Seq("a", "b", "c"), "v", base)),
      "multi-relation" -> (() => Macau.macau(spark, multiSplit.train, multiSplit.test, base)),
      "probit" -> (() => Macau.fit(spark, binary, Seq("row", "col"), "v",
        base.copy(binaryProbit = true))))
    // only the RMSE scalars may differ: they are sums in partition order
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    try {
      for ((name, run) <- runs) {
        val outs = Seq(1, 4, 7).map { p =>
          spark.conf.set(key, p.toString)
          val r = run()
          (factorBits(r), cellBits(r))
        }
        assert(outs.head._2.nonEmpty, name)
        outs.tail.foreach(o => assert(o === outs.head, s"$name differs across partition counts"))
      }
    } finally spark.conf.set(key, prev)
  }

  /** The job group ("" outside one) of every Spark job started while `run`
    * runs, in start order, and the shuffle bytes written. */
  private def jobsRun(run: => Unit): (Seq[String], Long) = {
    val c = graft.JobCount(spark.sparkContext)(run)
    (c.groups, c.shuffleBytes)
  }

  /** Spark jobs started and shuffle bytes written while `run` runs. */
  private def jobsAndShuffleBytes(run: => Unit): (Int, Long) = {
    val (groups, bytes) = jobsRun(run)
    (groups.size, bytes)
  }

  test("broadcast sweeps after the one-time index build shuffle nothing") {
    // per-sweep tripwire: two more burn-in sweeps may add one draw job
    // per entity type and sweep, and no shuffle byte
    val (rd, test, _) = linkedMacau(42L)
    def trainCost(burnin: Int): (Int, Long) = jobsAndShuffleBytes(Gibbs.train(spark, rd, test,
      Gibbs.Options(numLatent = 4, burnin = burnin, samples = 2, seed = 42L,
        distributedFactors = Some(false))))
    val (jobs2, bytes2) = trainCost(2)
    val (jobs4, bytes4) = trainCost(4)
    assert(bytes2 > 0, "the index build should shuffle once")
    assert(bytes4 === bytes2, s"two more sweeps shuffled ${bytes4 - bytes2} bytes")
    assert(jobs4 - jobs2 <= 2 * rd.entities.size,
      s"two more sweeps ran ${jobs4 - jobs2} jobs for ${rd.entities.size} entity types")
  }

  test("each kept sample after the one-time test index is one narrow job") {
    // kept-sample tripwire: two more kept samples may add one draw job
    // per entity type and one posterior job each, and no shuffle byte
    val (rd, test, _) = linkedMacau(42L)
    def trainCost(samples: Int): (Int, Long) = jobsAndShuffleBytes(Gibbs.train(spark, rd, test,
      Gibbs.Options(numLatent = 4, burnin = 2, samples = samples, seed = 42L,
        distributedFactors = Some(false))))
    val (jobs2, bytes2) = trainCost(2)
    val (jobs4, bytes4) = trainCost(4)
    assert(bytes4 === bytes2, s"two more kept samples shuffled ${bytes4 - bytes2} bytes")
    assert(jobs4 - jobs2 <= 2 * (rd.entities.size + 1),
      s"two more kept samples ran ${jobs4 - jobs2} jobs for ${rd.entities.size} entity types")
  }

  test("result tables: fixed columns and types, one row per test row, both modes") {
    val s = spark
    import s.implicits._
    val df = rank2Matrix(20, 15, seed = 3L).toDF("row", "col", "v")
    val split = Macau.assignToTest(RelationData.fromDF(df, Seq("row", "col"), "v"), 0.1)
    // a repeated cell (legal input) and int mode ids, which come back as bigint
    val test = split.test.unionByName(split.test.orderBy("row_id").limit(1))
      .withColumn("ids", $"ids".cast("array<int>"))
    val n = test.count()
    assert(n === split.test.count() + 1)
    def types(t: org.apache.spark.sql.DataFrame) =
      t.schema.map(f => f.name -> f.dataType.catalogString)
    for (distributed <- Seq(false, true)) {
      val res = Gibbs.train(spark, split.train, test, Gibbs.Options(numLatent = 3, burnin = 2,
        samples = 3, alpha = 20.0, seed = 71L, keepSamples = 2,
        distributedFactors = Some(distributed)))
      val mode = s"distributed=$distributed"
      assert(types(res.predictions) === Seq("row_id" -> "bigint", "ids" -> "array<bigint>",
        "v" -> "double", "pred" -> "double", "pred_std" -> "double"), mode)
      assert(types(res.predMoments.get) === Seq("row_id" -> "bigint", "ids" -> "array<bigint>",
        "v" -> "double", "n_samples" -> "int", "pred_sum" -> "double", "pred_sq_sum" -> "double"),
        mode)
      assert(types(res.samplePreds.get) === Seq("row_id" -> "bigint", "sample_idx" -> "int",
        "pred" -> "double"), mode)
      assert(res.predictions.count() === n, mode)
      assert(res.predMoments.get.count() === n, mode)
      assert(res.samplePreds.get.count() === 2 * n, mode)
      // the RMSE counts every test row once
      val mse = res.predictions.select(avg(pow($"pred" - $"v", 2))).head().getDouble(0)
      assert(math.abs(res.finalRmse - math.sqrt(mse)) <= 1e-12 * res.finalRmse,
        s"rmse ${res.finalRmse} vs ${math.sqrt(mse)}, $mode")
    }
  }

  /** A broadcast-mode model with a sample trace: two factor tables,
    * `__moments` and `__samples`. */
  private def keepSamplesModel(): Gibbs.Result = {
    val s = spark
    import s.implicits._
    Macau.fit(spark, rank2Matrix(20, 15, seed = 3L).toDF("row", "col", "v"), Seq("row", "col"), "v",
      Gibbs.Options(numLatent = 3, burnin = 1, samples = 2, alpha = 20.0, seed = 71L,
        keepSamples = 2))
  }

  test("a saved model loads without a Spark job") {
    val res = keepSamplesModel()
    val dir = java.nio.file.Files.createTempDirectory("macau-load").toString
    Macau.saveModel(dir, res)
    var factors = Map.empty[String, org.apache.spark.sql.DataFrame]
    var moments, samples: org.apache.spark.sql.DataFrame = null
    val (jobs, _) = jobsAndShuffleBytes {
      factors = Macau.loadModel(spark, dir, Seq("row", "col"))
      moments = Macau.loadMoments(spark, dir)
      samples = Macau.loadSamples(spark, dir)
    }
    assert(jobs === 0, "loading ran Spark jobs")
    def types(t: org.apache.spark.sql.DataFrame) =
      t.schema.map(f => f.name -> f.dataType.catalogString)
    for (e <- Seq("row", "col")) assert(types(factors(e)) === types(res.factors(e)), e)
    assert(types(moments) === types(res.predMoments.get))
    assert(types(samples) === types(res.samplePreds.get))
  }

  test("saveModel writes every table in the caller's job group") {
    val res = keepSamplesModel()
    val dir = java.nio.file.Files.createTempDirectory("macau-group").toString
    val sc = spark.sparkContext
    val (groups, _) = jobsRun {
      sc.setJobGroup("macau-save", "save a model", interruptOnCancel = false)
      try Macau.saveModel(dir, res) finally sc.clearJobGroup()
    }
    // one job per table: row, col, __moments, __samples
    assert(groups === Seq.fill(4)("macau-save"))
    for (e <- Seq("row", "col")) {
      val parts = new java.io.File(s"$dir/$e").list().filter(_.startsWith("part-"))
      assert(parts.length === 1, s"$e: ${parts.mkString(", ")}")
    }
  }

  test("a failed table write surfaces after the other writes end") {
    val res = keepSamplesModel()
    val dir = java.nio.file.Files.createTempDirectory("macau-fail").toString
    // fails at execution time, in the write's tasks
    val bad = res.factors("row").select(col("id"),
      when(col("id") >= 0, raise_error(lit("planted write failure"))).otherwise(col("f")).as("f"))
    val e = intercept[Exception](Macau.saveModel(dir, res.copy(factors = res.factors + ("bad" -> bad))))
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).toSeq
    assert(messages.exists(_.contains("planted write failure")), messages.mkString("\n"))
    for (t <- Seq("row", "col", "__moments", "__samples"))
      assert(new java.io.File(s"$dir/$t/_SUCCESS").exists(), s"$t was not written")
  }

  test("auto mode runs as many jobs as the explicit mode it routes to") {
    val s = spark
    import s.implicits._
    val df = rank2Matrix(20, 15, seed = 3L).toDF("row", "col", "v")
    val sparse = (0 until 20).map(i => (i.toLong, Seq(i % 2), Seq(1.0))).toDF("id", "indices", "values")
    val dense = (0 until 20).map(i => (i.toLong, Array(if (i % 2 == 0) 1.0 else -1.0)))
      .toDF("id", "features")
    val base = Gibbs.Options(numLatent = 3, burnin = 1, samples = 1, alpha = 20.0, seed = 5L)
    // footprints: sparse 20 (3 + 2) + 2^2 + 15 x 3 = 149, under the default
    // threshold; dense 20 (3 + 1) + 1 + 15 x 3 = 126, over 100
    val cases = Seq((sparse, "broadcast", base),
                    (dense, "distributed", base.copy(autoDistributedDoubles = 100L)))
    // (mode, jobs) of the explicit train, then of the auto one, per case
    val runs = cases.map { case (side, routed, opts) =>
      val rd0 = RelationData.fromDF(df, Seq("row", "col"), "v")
      val split = Macau.assignToTest(rd0.copy(entities = rd0.entities.updated("row",
        rd0.entities("row").copy(side = Some(side)))), 0.2)
      def modeAndJobs(o: Gibbs.Options): (String, Int) = {
        var mode = ""
        val (jobs, _) = jobsAndShuffleBytes { mode = Gibbs.train(spark, split.train, split.test, o).mode }
        (mode, jobs)
      }
      (modeAndJobs(opts.copy(distributedFactors = Some(routed == "distributed"))), modeAndJobs(opts))
    }
    assert(runs.map(_._1._1) === cases.map(_._2))
    assert(runs.map(_._2) === runs.map(_._1), "auto mode vs the explicit mode it routes to")
  }
}
