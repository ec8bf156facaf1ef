package graft.bdf

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Data model for the Bayesian-factorization engine — the Spark-native
  * re-expression of the reference's RelationData/IndexedDF containers
  * (Macau arXiv:1509.04610 §2; BPMF ICML'08 §3).
  *
  * An Entity is a named id domain (0-based Long ids) with an optional
  * dense side-information matrix (Macau §2.2). A Relation is a sparsely
  * observed measurement over a tuple of entities, stored in long/COO
  * form — one row per observed cell — which is exactly the layout of
  * the testdata fact tables (lineitem/events). Arity 2 = matrix,
  * arity >= 3 = tensor (Macau §2.4). Relations may share entities
  * (collective factorization, Macau §2.3).
  */
final case class Entity(
    name: String,
    numItems: Int,
    /** Optional side info: dense (id: Long, features: Array[Double]) or
      * sparse CSR (id: Long, indices: Array[Int], values: Array[Double]). */
    side: Option[DataFrame] = None) {

  /** Feature width F of the side table — max(indices)+1 for sparse
    * rows, size(features) for dense ones, 0 without side info — in one
    * aggregate query that also rejects a non-finite feature. Each call
    * runs that query again; [[Gibbs.train]] asks once per entity. */
  def sideWidth: Int = side.fold(0) { df =>
    val sparse = df.columns.contains("indices")
    val xs = if (sparse) "values" else "features"
    val width =
      if (sparse) max(array_max(col("indices"))) + 1 else max(size(col(xs)))
    // Spark orders NaN above +Inf: one comparison rejects NaN, ±Inf and null
    val finite = forall(col(xs), x => coalesce(abs(x) < Double.PositiveInfinity, lit(false)))
    val row = df.agg(width,
      first(when(!finite, struct(col("id"), col(xs))), ignoreNulls = true)).head()
    if (!row.isNullAt(1)) {
      val bad = row.getStruct(1)
      throw new IllegalArgumentException(s"entity $name side table: non-finite value in " +
        s"column $xs at row (id=${bad.get(0)}, $xs=${bad.getSeq(1).mkString("[", ",", "]")})")
    }
    require(!row.isNullAt(0), s"side table for entity $name " +
      (if (sparse) "has no nonzero features" else "is empty"))
    row.getInt(0)
  }
}

final case class Relation(
    name: String,
    /** COO DataFrame: one Long id column per mode + a Double value. */
    df: DataFrame,
    /** Mode id column names, in order; each maps to an entity name. */
    modeCols: Seq[String],
    /** Entity name per mode (same length as modeCols). */
    modeEntities: Seq[String],
    valueCol: String,
    /** Per-relation observation noise precision (Macau §2.3: relations
      * in a collective factorization may be measured with different
      * noise). None = use the global Options.alpha (which may itself be
      * Gibbs-sampled). */
    alpha: Option[Double] = None) {
  require(modeCols.length == modeEntities.length && modeCols.length >= 2)

  /** The cells as rows of (mode ids as long..., value as double):
    * planned once per Relation, like `Dataset.rdd`, and read by
    * validation and by every [[CellIndex]] build. */
  @transient private[bdf] lazy val cells: RDD[Row] =
    df.select(modeCols.map(col(_).cast("long")) :+ col(valueCol).cast("double"): _*).rdd

  /** Normalized COO projection: ids array + value. */
  def coo: DataFrame =
    df.select(array(modeCols.map(c => col(c).cast("long")): _*).as("ids"),
              col(valueCol).cast("double").as("v"))
}

final case class RelationData(
    entities: Map[String, Entity],
    relations: Seq[Relation]) {
  require(relations.nonEmpty)
  relations.foreach(r => r.modeEntities.foreach(e =>
    require(entities.contains(e), s"unknown entity $e")))

  /** Reject cells the sampler cannot use — a null, a mode id outside
    * [0, numItems), a non-finite value — or an empty relation, naming
    * the relation, the column and one offending row. One Spark job per
    * relation. */
  def validate(): Unit = relations.foreach { r =>
    val cols = r.modeCols :+ r.valueCol
    val sizes = r.modeEntities.map(entities(_).numItems.toLong).toArray
    // per partition: the cell count and the first bad row of each column
    val parts = r.cells.mapPartitions { it =>
      val bad = new Array[Row](sizes.length + 1)
      var n = 0L
      it.foreach { row =>
        n += 1
        var c = 0
        while (c < bad.length) {
          if (bad(c) == null && (row.isNullAt(c) ||
              (if (c < sizes.length) row.getLong(c) < 0 || row.getLong(c) >= sizes(c)
               else !java.lang.Double.isFinite(row.getDouble(c)))))
            bad(c) = row
          c += 1
        }
      }
      Iterator((n, bad))
    }.collect()
    require(parts.map(_._1).sum > 0, s"relation ${r.name} is empty")
    cols.indices.foreach { c =>
      parts.map(_._2(c)).find(_ != null).foreach { row =>
        val what =
          if (c < sizes.length) s"id outside [0, ${sizes(c)}) of entity ${r.modeEntities(c)}"
          else "non-finite value"
        throw new IllegalArgumentException(s"relation ${r.name}: $what in column ${cols(c)} " +
          s"at row ${cols.zip(row.toSeq).map { case (k, v) => s"$k=$v" }.mkString("(", ", ", ")")}")
      }
    }
  }
}

object RelationData {

  /** The reference's dense entry point `RelationData(M::Matrix)` —
    * every cell observed — from a row-major DataFrame
    * (rowId, values: array<double>): melted to COO long form with
    * posexplode (one row per cell, 0-based column ids), then through
    * the standard COO constructor. */
  def fromDense(df: DataFrame, rowCol: String, valuesCol: String): RelationData = {
    val coo = df
      .select(col(rowCol).cast("long").as("row"),
              posexplode(col(valuesCol)).as(Seq("col", "v")))
      .select(col("row"), col("col").cast("long").as("col"),
              col("v").cast("double").as("v"))
    fromDF(coo, Seq("row", "col"), "v")
  }

  /** Convenience constructor from one COO DataFrame (the reference's
    * `RelationData(df)` entry point): entity sizes inferred as
    * max(id)+1 per mode. */
  def fromDF(df: DataFrame, modeCols: Seq[String], valueCol: String): RelationData = {
    val maxes = df.select(modeCols.map(c => max(col(c).cast("long"))): _*)
      .head().toSeq.map(_.asInstanceOf[Long])
    val entities = modeCols.zip(maxes).map { case (c, mx) =>
      c -> Entity(c, (mx + 1).toInt)
    }.toMap
    RelationData(entities,
      Seq(Relation("r0", df, modeCols, modeCols, valueCol)))
  }
}

/** Counter-based deterministic RNG (SURVEY.md §7.4.5): draws are pure
  * functions of (seed, counters...), so executor-side sampling is
  * reproducible under any partitioning/scheduling — never a stateful
  * Random captured in a task closure. splitmix64 mixing; Box-Muller
  * gaussians. */
object CbRng {
  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def mix(seed: Long, counters: Long*): Long =
    counters.foldLeft(mix64(seed))((acc, c) => mix64(acc ^ mix64(c)))

  /** Uniform in (0,1). */
  def uniform(seed: Long, counters: Long*): Double = {
    val bits = mix(seed, counters: _*) >>> 11 // 53 bits
    (bits + 0.5) / 9007199254740992.0         // 2^53
  }

  /** Standard gaussian via Box-Muller (counter c gives an independent
    * stream element). */
  def gaussian(seed: Long, counters: Long*): Double = {
    val u1 = uniform(seed, counters :+ 1L: _*)
    val u2 = uniform(seed, counters :+ 2L: _*)
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)
  }
}

/** Driver-side sequential deterministic stream for the hyperprior draws
  * (Gamma/Wishart need rejection sampling — unbounded draw counts — so
  * they run on the driver where a sequential stream stays
  * deterministic). */
final class RngStream(seed: Long, stream: Long) {
  private var n: Long = 0L
  def nextUniform(): Double = { n += 1; CbRng.uniform(seed, stream, n) }
  def nextGaussian(): Double = { n += 1; CbRng.gaussian(seed, stream, n) }

  /** Marsaglia–Tsang Gamma(shape, scale=1) for shape >= 1 (boosted for
    * shape < 1). */
  def nextGamma(shape: Double): Double = {
    if (shape < 1.0) {
      val g = nextGamma(shape + 1.0)
      g * math.pow(nextUniform(), 1.0 / shape)
    } else {
      val d = shape - 1.0 / 3.0
      val c = 1.0 / math.sqrt(9.0 * d)
      var res = -1.0
      while (res < 0) {
        var x = 0.0; var v = 0.0
        do { x = nextGaussian(); v = 1.0 + c * x } while (v <= 0)
        v = v * v * v
        val u = nextUniform()
        if (u < 1.0 - 0.0331 * x * x * x * x ||
            math.log(u) < 0.5 * x * x + d * (1.0 - v + math.log(v)))
          res = d * v
      }
      res
    }
  }

  def nextChiSq(df: Double): Double = 2.0 * nextGamma(df / 2.0)
}
