package graft.bdf

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** User-facing API mirroring the reference's entry points:
  * `RelationData(df)` -> [[RelationData.fromDF]], `assignToTest!` ->
  * [[Macau.assignToTest]], `macau(rd; ...)` -> [[Macau.macau]].
  * (Macau arXiv:1509.04610; BPMF ICML'08.) */
object Macau {

  final case class Split(train: RelationData, test: DataFrame)

  /** Deterministic cell key: two independent modular polynomial folds of
    * the mode ids combined into a 62-bit key — pure integer arithmetic
    * that never overflows (Spark 4 runs ANSI mode: wrapping multiplies
    * would throw ARITHMETIC_OVERFLOW), reproducible across engines and
    * partitionings (never engine hash()). */
  private def cellKey(ids: org.apache.spark.sql.Column) = {
    val h1 = aggregate(ids, lit(17L),
      (acc, x) => pmod(acc * lit(31L) + x, lit(2147483647L)))
    val h2 = aggregate(ids, lit(23L),
      (acc, x) => pmod(acc * lit(37L) + x * lit(13L) + lit(7L), lit(2147483629L)))
    h1 * lit(2147483648L) + h2
  }

  /** The reference's assignToTest!: move ~fraction of observed cells of
    * relation 0 into a held-out test set (deterministic hash split).
    *
    * The test row_id is the cell's mixed-radix position in the dense
    * index space — collision-free by construction, unlike the 62-bit
    * hash key (which stays as the split bucket only): a hash row_id
    * would silently merge/duplicate prediction rows on birthday-bound
    * collisions at billions of cells, while the mixed-radix id throws
    * on overflow under ANSI mode if the dims product ever exceeds
    * 63 bits (fail-loud). */
  def assignToTest(rd: RelationData, fraction: Double = 0.2): Split = {
    val r = rd.relations.head
    val dims = r.modeEntities.map(e => rd.entities(e).numItems.toLong)
    val rowId = dims.indices.drop(1).foldLeft(col("ids").getItem(0)) {
      (acc, m) => acc * lit(dims(m)) + col("ids").getItem(m)
    }
    val coo = r.coo.withColumn("key", cellKey(col("ids")))
    val bucket = pmod(col("key"), lit(1000L))
    val cut = (fraction * 1000).toLong
    val test = coo.filter(bucket < cut)
      .select(rowId.as("row_id"), col("ids"), col("v"))
    val trainDf = r.df.withColumn("__key",
        cellKey(array(r.modeCols.map(c => col(c).cast("long")): _*)))
      .filter(pmod(col("__key"), lit(1000L)) >= cut)
      .drop("__key")
    val train = rd.copy(relations =
      rd.relations.head.copy(df = trainDf) +: rd.relations.tail)
    Split(train, test)
  }

  /** Train + predict: the reference's `macau(rd; num_latent, burnin,
    * psamples, clamp, ...)`. */
  def macau(spark: SparkSession, rd: RelationData, test: DataFrame,
            opts: Gibbs.Options = Gibbs.Options()): Gibbs.Result =
    Gibbs.train(spark, rd, test, opts)

  /** Convenience: build + split + train from one COO DataFrame. */
  def fit(spark: SparkSession, df: DataFrame, modeCols: Seq[String],
          valueCol: String, opts: Gibbs.Options = Gibbs.Options(),
          testFraction: Double = 0.2): Gibbs.Result = {
    val rd = RelationData.fromDF(df, modeCols, valueCol)
    val s = assignToTest(rd, testFraction)
    macau(spark, s.train, s.test, opts)
  }

  /** Assemble a sparse CSR side-information table from a COO feature
    * matrix (row=entity id, col=feature index, v=weight) — the shape
    * MatrixMarket.read produces for the reference's sparse feature
    * files. Output: (id, indices asc, values), directly attachable as
    * Entity.side or given to [[coldStartFactors]]; both execution modes
    * read it through [[SideTable]], and a COO cell given twice becomes a
    * repeated index, which they reject. */
  def sideFromCoo(coo: DataFrame, rowCol: String = "row",
                  colCol: String = "col", valueCol: String = "v"): DataFrame =
    coo.select(col(rowCol).cast("long").as("id"),
               col(colCol).cast("int").as("j"),
               col(valueCol).cast("double").as("x"))
      .groupBy("id")
      .agg(expr("sort_array(collect_list(struct(j, x)))").as("jx"))
      .select(col("id"),
              expr("transform(jx, s -> s.j)").as("indices"),
              expr("transform(jx, s -> s.x)").as("values"))

  // ---------- model persistence (train -> save -> load -> predict) ----------

  /** Persist the trained model: the factor tables (one parquet dir per
    * entity) PLUS the per-test-cell posterior moments
    * (`__moments/`: row_id, ids, v, n_samples, pred_sum, pred_sq_sum)
    * — so a loaded model answers uncertainty queries (posterior std,
    * credible-shaped) and not just point predictions. Distributed
    * writes — nothing passes through the driver.
    *
    * The tables are written at the same time, one new thread per table
    * (3 tables, or 4 with a sample trace). Each thread is created here,
    * so its jobs carry the caller's local properties (job group,
    * description, scheduler pool) and run in the caller's session. Every
    * write runs to its end even when another one fails; the first failure
    * in table order is then rethrown, with the others attached as
    * suppressed exceptions. A broadcast-mode factor table is one
    * partition (see [[Gibbs.Result.factors]]), so it is written as one
    * part file. */
  def saveModel(path: String, res: Gibbs.Result): Unit = {
    // the thinned posterior sample trace (Options.keepSamples > 0) lets
    // the LOADED model answer empirical order-stat credible bounds, not
    // just the moments' normal approximation
    val tables = res.factors.toSeq.map { case (e, df) => s"$path/$e" -> df } ++
      res.predMoments.map(s"$path/__moments" -> _) ++
      res.samplePreds.map(s"$path/__samples" -> _)
    val failures = new Array[Throwable](tables.length)
    val writers = tables.zipWithIndex.map { case ((dir, df), i) =>
      val t = new Thread(() =>
        try df.write.mode("overwrite").parquet(dir)
        catch { case e: Throwable => failures(i) = e }, s"saveModel $dir")
      t.start()
      t
    }
    writers.foreach(_.join())
    failures.filter(_ != null) match {
      case Array(first, rest @ _*) =>
        rest.foreach(first.addSuppressed)
        throw first
      case _ =>
    }
  }

  /** Load factor tables written by [[saveModel]]. Read with their
    * declared schema, so loading runs no Spark job (no parquet schema
    * inference); the caller's own query is the first. Saves made before
    * the schema was declared hold the same parquet types and load
    * unchanged. */
  def loadModel(spark: SparkSession, path: String,
                entities: Seq[String]): Map[String, DataFrame] =
    entities.map(e => e -> spark.read.schema(ModelSchema.factors).parquet(s"$path/$e")).toMap

  /** Load the posterior moments table written by [[saveModel]], with its
    * declared schema and no Spark job, as [[loadModel]] does. */
  def loadMoments(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(ModelSchema.moments).parquet(s"$path/__moments")

  /** Load the thinned posterior sample trace written by [[saveModel]]
    * (present iff the run used Options.keepSamples > 0), with its
    * declared schema and no Spark job, as [[loadModel]] does. */
  def loadSamples(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(ModelSchema.samples).parquet(s"$path/__samples")

  /** EMPIRICAL credible bounds from a retained sample trace
    * ([[Gibbs.Result.samplePreds]] or [[loadSamples]]): per test cell,
    * the value-at-rank order statistics at `lo`/`hi` — rank =
    * ceil(q * n), 1-based, the same tie-order-independent discipline
    * as the in-run q_bdf_credible query — so no normality assumption,
    * unlike [[predictionsFromMoments]]'s mean +/- z * std. Traces from
    * two saved chains can be unioned first (sample_idx keeps them
    * distinct). One partitioned window over ~|test| cells — fully
    * parallel, no global sort. */
  def empiricalCredible(samples: DataFrame, lo: Double = 0.1,
                        hi: Double = 0.9): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(lo > 0 && hi <= 1 && lo <= hi, s"bad quantiles ($lo, $hi)")
    val cell = Window.partitionBy("row_id")
    samples
      .withColumn("rn", row_number().over(cell.orderBy("pred")))
      .withColumn("n", count(lit(1)).over(cell))
      .groupBy("row_id")
      .agg(first(col("n")).as("n_samples"),
           max(when(col("rn") === ceil(lit(lo) * col("n")).cast("int"),
             col("pred"))).as("lo_pred"),
           max(when(col("rn") === ceil(lit(hi) * col("n")).cast("int"),
             col("pred"))).as("hi_pred"))
  }

  /** Derive (pred, pred_std) from a moments table — the SAME
    * arithmetic the in-run `Result.predictions` uses (divide by the
    * kept-sample count, population variance of the sample trace,
    * clamp on the mean only), so saved-model uncertainty is
    * bit-identical to the in-run values. Works on [[loadMoments]]
    * output or directly on `Result.predMoments`; moments from two
    * saved chains can be combined first by summing (n_samples,
    * pred_sum, pred_sq_sum) per row_id. */
  def predictionsFromMoments(moments: DataFrame,
                             clamp: Option[(Double, Double)] = None): DataFrame = {
    val p = moments
      .withColumn("pred", col("pred_sum") / col("n_samples"))
      .withColumn("pred_std", sqrt(greatest(lit(0.0),
        col("pred_sq_sum") / col("n_samples")
          - pow(col("pred_sum") / col("n_samples"), 2))))
    clamp match {
      case Some((lo, hi)) =>
        p.withColumn("pred", least(greatest(col("pred"), lit(lo)), lit(hi)))
          .select("row_id", "ids", "v", "pred", "pred_std")
      case None => p.select("row_id", "ids", "v", "pred", "pred_std")
    }
  }

  /** COLD START (Macau §3.2's main payoff): factor rows for entities
    * NEVER observed in training, from side features alone — the prior
    * mean u_new = mu + beta^T x with the trained link matrix. `xNew`
    * takes either shape of [[Entity.side]], whatever shape the model
    * was trained on; its rows pass the same checks, except that ids
    * may be any non-null value, and a dense row may be shorter than the
    * trained F (its missing features are zero) but an entry at F or
    * beyond is rejected. Returns the same (id, f) shape as
    * [[Gibbs.Result.factors]], so it composes directly with [[predict]]:
    * swap the cold table in for the entity's factor table and score
    * any (new, old) cell. beta (F x K) and mu are tiny driver state
    * broadcast once; the map over `xNew` is one narrow pass at any
    * scale. */
  def coldStartFactors(spark: SparkSession, res: Gibbs.Result,
                       entity: String, xNew: DataFrame): DataFrame = {
    val beta = res.links.getOrElse(entity, Array.empty[Array[Double]])
    require(beta.nonEmpty, s"no trained link matrix for entity $entity")
    coldStartFactorsFromLink(spark, beta, res.priorMu(entity), xNew)
  }

  /** [[coldStartFactors]] from a SAVED link matrix + prior mean — the
    * serve face when the trained model comes from an artifact store
    * instead of an in-session [[Gibbs.Result]]. */
  def coldStartFactorsFromLink(spark: SparkSession,
                               beta: Array[Array[Double]],
                               mu: Array[Double],
                               xNew: DataFrame): DataFrame = {
    import spark.implicits._
    require(beta.nonEmpty, "empty link matrix")
    val spec = SideTable.spec("cold-start side table", xNew, None, maxWidth = beta.length)
    val bBeta = spark.sparkContext.broadcast(beta)
    val bMu = spark.sparkContext.broadcast(mu)
    val kk = mu.length
    SideTable.rows(xNew).map { r =>
      SideTable.check(spec, r)
      val ix = if (r.isNullAt(1)) null else r.getSeq[Int](1)
      val x = r.getSeq[Double](2)
      val b = bBeta.value
      val u = bMu.value.clone()
      var q = 0
      while (q < x.length) {
        val xf = x(q)
        if (xf != 0.0) {
          val f = if (ix == null) q else ix(q)
          var j = 0
          while (j < kk) { u(j) += xf * b(f)(j); j += 1 }
        }
        q += 1
      }
      (r.getLong(0), u)
    }.toDF("id", "f")
  }

  /** Score arbitrary cells with saved factors: for each row of `cells`
    * (one long id column per mode, named by `modeEntities`),
    * pred = sum_k prod_m U_m(id_m, k) — the same elementwise-product
    * rule the sampler uses (BPMF dot product; Macau §2.4 for arity>2),
    * computed by joining each mode's factor table (AQE broadcasts small
    * factor sides automatically). The product starts from the first
    * mode's factor row, which equals the sampler's 1.0-seeded product
    * bit for bit, and needs no job to learn K. */
  def predict(spark: SparkSession, factors: Map[String, DataFrame],
              cells: DataFrame, modeEntities: Seq[String]): DataFrame = {
    var df = cells
    modeEntities.zipWithIndex.foreach { case (e, m) =>
      val f = factors(e).select(col("id").as(s"fid$m"), col("f").as(s"f$m"))
      df = df.join(f, col(e).cast("long") === col(s"fid$m"))
        .withColumn("z", if (m == 0) col("f0") else expr(s"zip_with(z, f$m, (a, b) -> a * b)"))
        .drop(s"fid$m", s"f$m")
    }
    df.withColumn("pred", expr("aggregate(z, 0D, (acc, x) -> acc + x)"))
      .drop("z")
  }
}

/** The one declared schema of each table a model is made of, used where
  * the table is built ([[BroadcastStore]]'s factor tables, [[Posterior]]'s
  * result tables) and where [[Macau]] loads it back. A saved table's
  * parquet types follow from these. */
private[bdf] object ModelSchema {
  val factors = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("f", ArrayType(DoubleType, containsNull = false))))
  val moments = StructType(Seq(
    StructField("row_id", LongType, nullable = false),
    StructField("ids", ArrayType(LongType, containsNull = false)),
    StructField("v", DoubleType, nullable = false),
    StructField("n_samples", IntegerType, nullable = false),
    StructField("pred_sum", DoubleType, nullable = false),
    StructField("pred_sq_sum", DoubleType, nullable = false)))
  val samples = StructType(Seq(
    StructField("row_id", LongType, nullable = false),
    StructField("sample_idx", IntegerType, nullable = false),
    StructField("pred", DoubleType, nullable = false)))
}
