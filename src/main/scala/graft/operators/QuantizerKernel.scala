package graft.operators

import graft.functions.TopKBuf
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

/** The two-level IVF quantizer as one kernel over primitive arrays: the
  * K1 coarse anchors, and the fine anchors grouped by the coarse cell
  * each one is tagged to (its single nearest coarse anchor). [[rank]]
  * is the assignment every index surface runs, prefix and k-means
  * alike — the corpus landings, each maintenance micro-batch,
  * sim2/dd7/dd9's memoized corpus ranking, the dd7 stream twin's
  * arriving vectors, sim3's corpus placement, and the driver-side probe
  * ranking of every serve — so the quantizer has one implementation,
  * applied where the vectors already are.
  *
  * Bit-identical to the DataFrame reference
  * `graft.QuantizerReference.twoLevelRankedTagged` (src/test): the same
  * ascending dot loop as `VectorExprs.dot`, the same `dot / (nrm · an)`
  * cosine, and the same (cos DESC, id ASC) bounded top-k ([[TopKBuf]],
  * the TopKAgg buffer) at both levels. Coarse anchors are held in id order,
  * so ranking coarse POSITIONS ranks coarse ids.
  *
  * Size: (K1 + K)·(d + 2) doubles. Placement ships it as one broadcast
  * and serving holds it on the driver; the prefix constructor
  * ([[QuantizerKernel.prefix]]) refuses a corpus whose K anchors exceed
  * [[Dedup.BroadcastFineMaxBytes]] (~1.1M anchors at d = 64, corpora to
  * ~70M vectors). */
final class QuantizerKernel private (
    dim: Int,
    coarseIds: Array[Long], coarseVecs: Array[Double], coarseNrm: Array[Double],
    // fine anchors of coarse position c: [cellStart(c), cellStart(c + 1))
    cellStart: Array[Int],
    fineIds: Array[Long], fineVecs: Array[Double], fineNrm: Array[Double])
    extends Serializable {

  /** cos(v, row `row` of `vecs`) — VectorExprs.dot's loop and divide. */
  private def cos(v: Array[Double], nrm: Double, vecs: Array[Double], norms: Array[Double],
      row: Int): Double = {
    val base = row * dim
    val n = math.min(v.length, dim)
    var s = 0.0; var i = 0
    while (i < n) { s += v(i) * vecs(base + i); i += 1 }
    s / (nrm * norms(row))
  }

  /** Positions of the `k` nearest coarse anchors. */
  private def coarseTop(v: Array[Double], nrm: Double, k: Int): TopKBuf = {
    val c = new TopKBuf(k)
    var j = 0
    while (j < coarseIds.length) { c.offer(cos(v, nrm, coarseVecs, coarseNrm, j), j); j += 1 }
    c
  }

  /** Id of the single nearest coarse anchor — the level-1 tag. */
  def nearestCoarse(v: Array[Double], nrm: Double): Long =
    coarseIds(coarseTop(v, nrm, 1).ids(0).toInt)

  /** The `depth` best fine cells of (v, nrm), best first: the
    * Dd7CoarseProbes nearest coarse cells, then only their fine anchors. */
  def rank(v: Array[Double], nrm: Double, depth: Int): Array[Long] = {
    val c = coarseTop(v, nrm, Dedup.Dd7CoarseProbes)
    val f = new TopKBuf(depth)
    var p = 0
    while (p < c.size) {
      val cell = c.ids(p).toInt
      var a = cellStart(cell)
      while (a < cellStart(cell + 1)) { f.offer(cos(v, nrm, fineVecs, fineNrm, a), fineIds(a)); a += 1 }
      p += 1
    }
    java.util.Arrays.copyOf(f.ids, f.size)
  }
}

object QuantizerKernel {

  private def flat(as: Array[Similarity.Anchor], dim: Int): Array[Double] = {
    val out = new Array[Double](as.length * dim)
    as.indices.foreach(i => System.arraycopy(as(i).v, 0, out, i * dim, dim))
    out
  }

  /** A kernel over `coarse` and fine anchors already tagged by coarse id. */
  private def tagged(coarse: Array[Similarity.Anchor],
      fine: Array[(Long, Similarity.Anchor)]): QuantizerKernel = {
    val cs = coarse.sortBy(_.id)
    val dim = cs.headOption.map(_.v.length).getOrElse(0)
    val pos = cs.map(_.id).zipWithIndex.toMap
    val byCell = fine.map { case (cid, a) => (pos(cid), a) }.sortBy { case (c, a) => (c, a.id) }
    val start = new Array[Int](cs.length + 1)
    byCell.foreach { case (c, _) => start(c + 1) += 1 }
    (0 until cs.length).foreach(c => start(c + 1) += start(c))
    val fs = byCell.map(_._2)
    new QuantizerKernel(dim, cs.map(_.id), flat(cs, dim), cs.map(_.nrm),
      start, fs.map(_.id), flat(fs, dim), fs.map(_.nrm))
  }

  /** Tag each fine anchor with its nearest coarse anchor — level 1,
    * `graft.QuantizerReference.tagFine`'s top-1 by (cos DESC, cid ASC) —
    * and build the kernel. K·K1 cosines, once per quantizer. */
  def apply(coarse: Array[Similarity.Anchor], fine: Array[Similarity.Anchor]): QuantizerKernel = {
    val level1 = tagged(coarse, Array.empty)
    tagged(coarse, fine.map(a => (level1.nearestCoarse(a.v, a.nrm), a)))
  }

  /** K = `Dedup.dd7AnchorCount(n)`, the prefix quantizer's anchor count
    * for n vectors of dimension `dim` — refused with an
    * IllegalArgumentException when K anchor rows exceed the one-broadcast
    * budget [[Dedup.BroadcastFineMaxBytes]]. */
  private[graft] def anchorCount(n: Long, dim: Int): Long = {
    val k = Dedup.dd7AnchorCount(n)
    val bytes = k * Dedup.fineAnchorRowBytes(dim)
    if (bytes > Dedup.BroadcastFineMaxBytes)
      throw new IllegalArgumentException(
        s"prefix quantizer of $n vectors: K = $k anchors of dimension $dim need $bytes bytes, " +
          s"past the ${Dedup.BroadcastFineMaxBytes}-byte broadcast bound")
    k
  }

  /** The prefix quantizer of a normed corpus `e` (vec_id, v, nrm) of n
    * vectors of dimension `dim`: the fine anchors are the first K
    * vec_ids, read with the `vec_id < K` filter pushed into the scan, and
    * the coarse anchors the first K1 = ⌈√K⌉ of them — one collect serves
    * both levels with the doubles `e` holds, tagged on the driver (K·K1
    * cosines). The bound ([[anchorCount]]) is checked before the collect. */
  def prefix(e: DataFrame, n: Long, dim: Int): QuantizerKernel = {
    val k = anchorCount(n, dim)
    val fine = e.filter(col("vec_id") < k).select(col("vec_id"), col("v"), col("nrm"))
      .collect().map(Similarity.anchorOf)
    val k1 = Dedup.dd7CoarseCount(k)
    QuantizerKernel(fine.filter(_.id < k1), fine)
  }

  /** (cell, vec_id, v, nrm, r) for every vector of `e` (vec_id, v, nrm):
    * its `depth` best cells under the broadcast kernel, r = 1 for the
    * best. ONE narrow map per partition: no join, no shuffle, and `v`,
    * `nrm` and `vec_id` pass through with their scanned values and
    * column types (the landed DDL keeps `cell` and `vec_id` nullable).
    * When `e` carries index versions (a `seq` column), `seq` rides the
    * map beside its vector: (cell, vec_id, v, nrm, seq, r). */
  def cells(e: DataFrame, kernel: Broadcast[QuantizerKernel], depth: Int): DataFrame = {
    val versioned = e.columns.contains("seq")
    val in = e.select(Seq(col("vec_id"), col("v"), col("nrm")) ++
      Option.when(versioned)(col("seq")): _*)
    val schema = StructType(StructField("cell", LongType) +: in.schema.fields :+
      StructField("r", IntegerType, nullable = false))
    import in.sparkSession.implicits._
    if (versioned)
      in.as[(Long, Array[Double], Double, Long)].mapPartitions { rows =>
        val q = kernel.value
        rows.flatMap { case (id, v, nrm, seq) =>
          q.rank(v, nrm, depth).iterator.zipWithIndex.map { case (c, i) => Row(c, id, v, nrm, seq, i + 1) }
        }
      }(Encoders.row(schema))
    else
      in.as[(Long, Array[Double], Double)].mapPartitions { rows =>
        val q = kernel.value
        rows.flatMap { case (id, v, nrm) =>
          q.rank(v, nrm, depth).iterator.zipWithIndex.map { case (c, i) => Row(c, id, v, nrm, i + 1) }
        }
      }(Encoders.row(schema))
  }
}
