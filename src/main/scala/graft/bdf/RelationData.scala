package graft.bdf

import breeze.linalg.DenseMatrix
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Data model for the Bayesian-factorization engine — the Spark-native
  * re-expression of the reference's RelationData/IndexedDF containers
  * (Macau arXiv:1509.04610 §2; BPMF ICML'08 §3).
  *
  * An Entity is a named id domain (0-based Long ids) with an optional
  * dense or sparse side-information matrix (Macau §2.2), read through
  * [[SideTable]]. A Relation is a sparsely
  * observed measurement over a tuple of entities, stored in long/COO
  * form — one row per observed cell — which is exactly the layout of
  * the testdata fact tables (lineitem/events). Arity 2 = matrix,
  * arity >= 3 = tensor (Macau §2.4). Relations may share entities
  * (collective factorization, Macau §2.3).
  */
final case class Entity(
    name: String,
    numItems: Int,
    /** Optional side info (Macau §3.2), in one of two shapes:
      *  - dense: (id, features: array<double>), every row of one width F;
      *  - sparse CSR: (id, indices: array<int>, values: array<double>),
      *    as [[Macau.sideFromCoo]] builds it; F is the largest index + 1.
      * Ids absent from the table have an all-zero feature row. Both
      * execution modes reject, naming the column and the row: a null or
      * out-of-range id (outside [0, numItems)), a null array, indices
      * that do not match the values one to one or are not strictly
      * ascending from 0 (a repeated index included), dense rows of
      * different widths, and a non-finite value. */
    side: Option[DataFrame] = None) {

  /** How this entity's side table is read and checked. */
  private[bdf] def sideSpec(df: DataFrame): SideTable.Spec =
    SideTable.spec(s"entity $name side table", df, Some(numItems.toLong))

  /** Feature width F of the side table (0 without side info), in one
    * job that also runs every row check. Each call runs that job
    * again; [[Gibbs.train]] asks once per entity. */
  def sideWidth: Int = side.fold(0)(df => SideTable.width(sideSpec(df), df))
}

/** The one reader of a side-information table ([[Entity.side]]): it
  * alone looks at the table's columns. Every consumer reads the table
  * in one row form, (id bigint, indices array<int>, null for a dense
  * row, values array<double>), and every row passes one check. */
private[bdf] object SideTable {

  /** How a table is read: its name in messages, its shape, the id
    * range of its rows (None: any id) and the largest width a row may
    * reach. */
  final case class Spec(label: String, sparse: Boolean, numItems: Option[Long], maxWidth: Int) {
    def valuesCol: String = if (sparse) "values" else "features"
  }

  private def isSparse(df: DataFrame): Boolean = df.columns.contains("indices")

  def spec(label: String, df: DataFrame, numItems: Option[Long],
           maxWidth: Int = Int.MaxValue): Spec = Spec(label, isSparse(df), numItems, maxWidth)

  /** The table in row form: a narrow projection, so it keeps the
    * table's partitioning. */
  def rows(df: DataFrame): DataFrame = {
    val sparse = isSparse(df)
    df.select(col("id").cast("long").as("id"),
      (if (sparse) col("indices") else lit(null)).cast("array<int>").as("indices"),
      col(if (sparse) "values" else "features").cast("array<double>").as("values"))
  }

  /** The first fault of one row in row form, as (column, fault), or
    * null if it has none. */
  private def fault(s: Spec, r: Row): (String, String) = {
    def finite(x: Any) = x != null && java.lang.Double.isFinite(x.asInstanceOf[Double])
    if (r.isNullAt(0)) ("id", "null id")
    else if (s.numItems.exists(n => r.getLong(0) < 0 || r.getLong(0) >= n))
      ("id", s"id outside [0, ${s.numItems.get})")
    else if (r.isNullAt(2)) (s.valuesCol, "null array")
    else if (s.sparse && r.isNullAt(1)) ("indices", "null array")
    else {
      val v = r.getSeq[Any](2)
      val ixFault = if (!s.sparse) {
        if (v.length > s.maxWidth) s"width ${v.length}, more than F=${s.maxWidth}" else null
      } else {
        val ix = r.getSeq[Any](1)
        if (ix.length != v.length) s"indices and values of lengths ${ix.length} and ${v.length}"
        else ix.indices.collectFirst {
          case q if ix(q) == null => "null index"
          case q if ix(q).asInstanceOf[Int] < 0 => "negative index"
          case q if q > 0 && ix(q).asInstanceOf[Int] <= ix(q - 1).asInstanceOf[Int] =>
            "repeated or unsorted index"
          case q if ix(q).asInstanceOf[Int] >= s.maxWidth => s"index outside [0, ${s.maxWidth})"
        }.orNull
      }
      if (ixFault != null) (if (s.sparse) "indices" else "features", ixFault)
      else if (!v.forall(finite)) (s.valuesCol, "non-finite value")
      else null
    }
  }

  private def reject(s: Spec, r: Row, f: (String, String)): Nothing = {
    val (c, what) = f
    val shown = if (c == "id") "" else {
      val a = r.getSeq[Any](if (c == "indices") 1 else 2)
      s", $c=${if (a == null) "null" else a.mkString("[", ",", "]")}"
    }
    throw new IllegalArgumentException(
      s"${s.label}: $what in column $c at row (id=${if (r.isNullAt(0)) "null" else r.getLong(0)}$shown)")
  }

  /** Reject one row in row form if it has a fault. */
  def check(s: Spec, r: Row): Unit = {
    val f = fault(s, r)
    if (f != null) reject(s, r, f)
  }

  /** One partition's part of the table's checks: its width (the
    * largest index + 1 of sparse rows, the first row's length for dense
    * ones), its first row if that row has no fault, and its first
    * faulty row with the fault. A dense row whose length differs from
    * the partition's first row is faulty. */
  private final case class Part(width: Int, first: Row, bad: Row, fault: (String, String))

  private def ragged(len: Int, ref: Int) = ("features", s"width $len, not $ref like the first row")

  private def scan(s: Spec, it: Iterator[Row]): Part = {
    var width = if (s.sparse) 0 else -1
    var first, bad: Row = null
    var why: (String, String) = null
    var start = true
    while (bad == null && it.hasNext) {
      val r = it.next()
      var f = fault(s, r)
      if (f == null) {
        if (s.sparse) {
          val ix = r.getSeq[Int](1)
          if (ix.nonEmpty) width = math.max(width, ix.last + 1)
        } else {
          val len = r.getSeq[Any](2).length
          if (start) { first = r; width = len } else if (len != width) f = ragged(len, width)
        }
      }
      if (f != null) { bad = r; why = f }
      start = false
    }
    Part(width, first, bad, why)
  }

  /** Reject the first faulty row in partition order, or return the
    * table's width. Folding the parts in partition order finds the row
    * that one scan of the whole table would. */
  private def widthOf(s: Spec, parts: Seq[Part]): Int = {
    val ref = parts.find(_.first != null).fold(-1)(_.width)
    parts.foreach { p =>
      if (p.first != null && p.width != ref) reject(s, p.first, ragged(p.width, ref))
      if (p.bad != null) reject(s, p.bad, p.fault)
    }
    val w = if (s.sparse) parts.map(_.width).max else ref
    require(w > 0, s"${s.label} " + (if (s.sparse) "has no nonzero features" else "is empty"))
    w
  }

  /** Feature width F, in one job that also runs every row check: it
    * reads the table once and caches nothing, so a rejected table leaves
    * no cache behind. */
  def width(s: Spec, df: DataFrame): Int =
    widthOf(s, rows(df).rdd.mapPartitions(it => Iterator(scan(s, it))).collect().toSeq)

  /** The N x F matrix X, collected and checked on the driver. A dense
    * table's width is its rows' length, so it costs no job of its own.
    * A sparse table's width is taken from `sparseWidth`, the width job
    * the auto mode switch may already have run, so that an explicit
    * broadcast train runs the jobs of an auto-routed one. */
  def matrix(s: Spec, df: DataFrame, sparseWidth: => Int): DenseMatrix[Double] = {
    val rs = rows(df).collect()
    val w = widthOf(s, Seq(scan(s, rs.iterator)))
    val x = DenseMatrix.zeros[Double](s.numItems.get.toInt, if (s.sparse) sparseWidth else w)
    rs.foreach { r =>
      val i = r.getLong(0).toInt
      val v = r.getSeq[Double](2)
      val ix = if (r.isNullAt(1)) null else r.getSeq[Int](1)
      var q = 0
      while (q < v.length) { x(i, if (ix == null) q else ix(q)) = v(q); q += 1 }
    }
    x
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
