package graft.bdf

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable.ArrayBuilder

/** One partition of an entity type's cell index: the Spark analog of the
  * reference's IndexedDF, built once per train so that every sweep draws
  * each entity from its own cells (BPMF ICML'08 §3.1, Macau
  * arXiv:1509.04610 §2.3) without regrouping them.
  *
  * `ids` are the partition's observed entity ids, sorted and unique.
  * There is one [[CellIndex.Block]] per (relation, mode) the entity type
  * plays in, in `rd.relations` order and then mode order. Inside a block,
  * cells are sorted by id, then by the other modes' ids (then by value,
  * so duplicate cells too have one order). Each id's rows therefore reach
  * the kernel in one fixed order, whatever the input's or the index's
  * partitioning.
  */
private[bdf] final case class CellIndex(ids: Array[Long], blocks: Array[CellIndex.Block])

private[bdf] object CellIndex {

  /** CSR cells of one (relation, mode): the cells of `ids(i)` are
    * `[offsets(i), offsets(i + 1))`; `others(o)(c)` is cell c's id in the
    * o-th other mode (mode order, skipping the indexed mode). */
  final case class Block(offsets: Array[Int], others: Array[Array[Int]], values: Array[Double])

  /** One map task's cells of one block bound for one index partition:
    * the other modes' ids flattened cell-major. Flat primitive arrays
    * keep the one-time shuffle small under Java serialization. */
  private final case class Chunk(block: Int, ids: Array[Long], others: Array[Int],
                                 values: Array[Double])

  /** The (relation, mode) pairs entity type `e` plays, in block order. */
  def roles(rd: RelationData, e: String): Seq[(Relation, Int)] =
    for (r <- rd.relations; (ent, m) <- r.modeEntities.zipWithIndex if ent == e)
      yield (r, m)

  /** Entity type `e`'s index over `parts` partitions (entity ids placed
    * by one HashPartitioner), persisted MEMORY_AND_DISK so that an
    * evicted block is read back from disk, not rebuilt, in the middle of
    * a sweep. Lazy: the first job that reads it runs its one shuffle. */
  def build(rd: RelationData, e: String, parts: Int): RDD[CellIndex] = {
    val hp = new HashPartitioner(parts)
    val rs = roles(rd, e)
    val nOthers = rs.map(_._1.modeCols.length - 1).toArray
    val chunks = rs.zipWithIndex.map { case ((r, m), b) =>
      val arity = r.modeCols.length
      r.cells.mapPartitions { rows =>
        val ids = Array.fill(parts)(ArrayBuilder.make[Long])
        val others = Array.fill(parts)(ArrayBuilder.make[Int])
        val values = Array.fill(parts)(ArrayBuilder.make[Double])
        rows.foreach { row =>
          val id = row.getLong(m)
          val p = hp.getPartition(id)
          ids(p) += id
          var c = 0
          while (c < arity) { if (c != m) others(p) += row.getLong(c).toInt; c += 1 }
          values(p) += row.getDouble(arity)
        }
        Iterator.range(0, parts).map(p => (p, Chunk(b, ids(p).result(), others(p).result(),
          values(p).result()))).filter(_._2.ids.nonEmpty)
      }
    }
    // the keys are partition ids below `parts`, which hp maps to themselves
    rd.relations.head.df.sparkSession.sparkContext.union(chunks).partitionBy(hp)
      .mapPartitions(it => Iterator(assemble(it.map(_._2).toVector, nOthers)))
      .persist(StorageLevel.MEMORY_AND_DISK)
  }

  private def assemble(chunks: Seq[Chunk], nOthers: Array[Int]): CellIndex = {
    val ids = chunks.flatMap(_.ids).distinct.sorted.toArray
    val blocks = nOthers.indices.map { b =>
      val cs = chunks.filter(_.block == b)
      val no = nOthers(b)
      val cellIds = cs.flatMap(_.ids).toArray
      val cellOthers = cs.flatMap(_.others).toArray
      val cellValues = cs.flatMap(_.values).toArray
      val order = Array.range(0, cellIds.length).sorted(new Ordering[Int] {
        def compare(x: Int, y: Int): Int = {
          var c = java.lang.Long.compare(cellIds(x), cellIds(y))
          var o = 0
          while (c == 0 && o < no) {
            c = Integer.compare(cellOthers(x * no + o), cellOthers(y * no + o)); o += 1
          }
          if (c != 0) c else java.lang.Double.compare(cellValues(x), cellValues(y))
        }
      })
      val offsets = new Array[Int](ids.length + 1)
      cellIds.foreach(id => offsets(java.util.Arrays.binarySearch(ids, id) + 1) += 1)
      var i = 0
      while (i < ids.length) { offsets(i + 1) += offsets(i); i += 1 }
      Block(offsets, Array.tabulate(no)(o => order.map(c => cellOthers(c * no + o))),
        order.map(cellValues))
    }
    CellIndex(ids, blocks.toArray)
  }
}
