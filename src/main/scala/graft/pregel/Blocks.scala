package graft.pregel

import scala.collection.mutable
import scala.reflect.ClassTag

import org.apache.spark.Partitioner

/** Partition-local id → position map. */
private[pregel] final class IdIndex[K] {
  private val map = new java.util.HashMap[K, Integer]
  /** Position of `id`, or -1. */
  def apply(id: K): Int = { val p = map.get(id); if (p == null) -1 else p.intValue }
  /** Record `id` at `pos` unless present; returns the existing position, or
    * -1 when `id` was new. */
  def putIfAbsent(id: K, pos: Int): Int = {
    val q = map.putIfAbsent(id, pos)
    if (q == null) -1 else q.intValue
  }
}

private[pregel] object IdIndex {
  def of[K](ids: Array[K]): IdIndex[K] = {
    val index = new IdIndex[K]
    var i = 0
    while (i < ids.length) { index.putIfAbsent(ids(i), i); i += 1 }
    index
  }
}

/** A vertex's out-edges after a mutation, as parallel arrays in edge order. */
private[pregel] final class Adj[K, EV](val targets: Array[K], val values: Array[EV])
    extends Serializable

private[pregel] object Adj {
  def apply[K: ClassTag, EV: ClassTag](edges: Iterable[(K, EV)]): Adj[K, EV] =
    new Adj(edges.iterator.map(_._1).toArray, edges.iterator.map(_._2).toArray)
}

/**
 * One partition's adjacency in CSR form. Row `r < ids.length` is vertex
 * `ids(r)`; the rows after it are `orphans`, edge sources that are not
 * vertices (never computed, kept for `Result.edges`). Row r's out-edges are
 * `targets`/`values` at `offsets(r) until offsets(r + 1)`, in input order;
 * for Long ids and Double weights both are primitive arrays. `dups` marks
 * the rows that repeat a target: their compute view collapses the repeats
 * (last value, first position), like the reference's keyed adjacency store.
 */
private[pregel] final class AdjBlock[K, EV](
    val ids: Array[K],
    val orphans: Array[K],
    val offsets: Array[Int],
    val targets: Array[K],
    val values: Array[EV],
    val dups: java.util.BitSet)(implicit kt: ClassTag[K]) extends Serializable {

  /** id → row over `ids`; built on first use, once per deserialized copy of
    * the block (not serialized with it). */
  @transient lazy val index: IdIndex[K] = IdIndex.of(ids)

  private def rows: Int = offsets.length - 1

  /** Row of each of `stateIds` (-1 when absent), or null when they are
    * `ids` in the same order. They always are unless a recompute re-read a
    * shuffle in a different order on one side. */
  def rowsOf(stateIds: Array[K]): Array[Int] =
    if (AdjBlock.sameIds(stateIds, ids)) null else stateIds.map(index(_))

  /** Every edge as (source, edge), rows in order. */
  def edgeRows: Iterator[(K, Pregel.OutEdge[K, EV])] =
    Iterator.range(0, rows).flatMap { r =>
      val src = if (r < ids.length) ids(r) else orphans(r - ids.length)
      Iterator.range(offsets(r), offsets(r + 1))
        .map(j => (src, Pregel.OutEdge(targets(j), values(j))))
    }

  /** This block with the out-edges of the vertices at `positions` of
    * `stateIds` replaced by `edges`. */
  def swapped(stateIds: Array[K], positions: Array[Int], edges: Array[Adj[K, EV]])(
      implicit et: ClassTag[EV]): AdjBlock[K, EV] = {
    val byPos = rowsOf(stateIds)
    val repl = new Array[Adj[K, EV]](rows)
    var k = 0
    while (k < positions.length) {
      val r = if (byPos == null) positions(k) else byPos(positions(k))
      if (r >= 0) repl(r) = edges(k)
      k += 1
    }
    def len(r: Int): Int =
      if (repl(r) != null) repl(r).targets.length else offsets(r + 1) - offsets(r)
    val off = new Array[Int](rows + 1)
    var r = 0
    while (r < rows) { off(r + 1) = off(r) + len(r); r += 1 }
    val t = new Array[K](off(rows))
    val v = new Array[EV](off(rows))
    val d = dups.clone().asInstanceOf[java.util.BitSet]
    r = 0
    while (r < rows) {
      if (repl(r) != null) {
        // a mutated row comes from the callback's keyed map: no repeats
        System.arraycopy(repl(r).targets, 0, t, off(r), len(r))
        System.arraycopy(repl(r).values, 0, v, off(r), len(r))
        d.clear(r)
      } else {
        System.arraycopy(targets, offsets(r), t, off(r), len(r))
        System.arraycopy(values, offsets(r), v, off(r), len(r))
      }
      r += 1
    }
    new AdjBlock(ids, orphans, off, t, v, d)
  }
}

private[pregel] object AdjBlock {
  def sameIds[K](a: Array[K], b: Array[K]): Boolean = java.util.Objects.deepEquals(a, b)

  /** Lay out `edges` (this partition's (src, (dst, value)) rows) against the
    * partition's vertex `ids`: one counting sort by source row, stable, so
    * each row keeps its input edge order. */
  def build[K: ClassTag, EV: ClassTag](ids: Array[K], edges: Iterator[(K, (K, EV))]): AdjBlock[K, EV] = {
    val index = IdIndex.of(ids)
    val orphans = mutable.ArrayBuilder.make[K]
    var rows = ids.length
    val srcB = mutable.ArrayBuilder.make[Int]
    val tgtB = mutable.ArrayBuilder.make[K]
    val valB = mutable.ArrayBuilder.make[EV]
    edges.foreach { case (s, (t, v)) =>
      var r = index.putIfAbsent(s, rows)
      if (r < 0) { r = rows; rows += 1; orphans += s }
      srcB += r; tgtB += t; valB += v
    }
    val (src, tgt, vals) = (srcB.result(), tgtB.result(), valB.result())
    val offsets = new Array[Int](rows + 1)
    src.foreach(r => offsets(r + 1) += 1)
    var r = 0
    while (r < rows) { offsets(r + 1) += offsets(r); r += 1 }
    val fill = java.util.Arrays.copyOf(offsets, rows)
    val targets = new Array[K](src.length)
    val values = new Array[EV](src.length)
    var j = 0
    while (j < src.length) {
      val at = fill(src(j))
      targets(at) = tgt(j); values(at) = vals(j)
      fill(src(j)) = at + 1
      j += 1
    }
    val dups = new java.util.BitSet
    r = 0
    while (r < rows) {
      if (offsets(r + 1) - offsets(r) > 1 && repeats(targets, offsets(r), offsets(r + 1))) dups.set(r)
      r += 1
    }
    new AdjBlock(ids, orphans.result(), offsets, targets, values, dups)
  }

  private def repeats[K](targets: Array[K], from: Int, until: Int): Boolean = {
    val seen = new java.util.HashSet[K]
    (from until until).exists(j => !seen.add(targets(j)))
  }
}

/** Messages from one partition to one destination partition, in the order
  * they were sent. */
private[pregel] final class MsgBlock[K, M](val targets: Array[K], val msgs: Array[M])
    extends Serializable

/** A task's outgoing messages, bucketed by destination partition as they
  * are sent. With a combiner, messages to one target fold into the slot of
  * the first one sent to it, in send order, so each bucket holds at most
  * one message per target; `sent` still counts every send. */
private[pregel] final class Outbox[K: ClassTag, M: ClassTag](
    part: Partitioner, combiner: Combining[M] = null) {
  private val targets = new Array[mutable.ArrayBuilder[K]](part.numPartitions)
  private val msgs = new Array[mutable.ArrayBuilder[M]](part.numPartitions)
  // with a combiner: per bucket, target → slot, and the folded messages
  private val slots = if (combiner == null) null else new Array[IdIndex[K]](part.numPartitions)
  private val folded = if (combiner == null) null else new Array[mutable.ArrayBuffer[M]](part.numPartitions)
  var sent = 0L

  def add(target: K, message: M): Unit = {
    val p = part.getPartition(target)
    if (combiner == null) {
      if (targets(p) == null) {
        targets(p) = mutable.ArrayBuilder.make[K]
        msgs(p) = mutable.ArrayBuilder.make[M]
      }
      targets(p) += target
      msgs(p) += message
    } else fold(p, target, message)
    sent += 1
  }

  private def fold(p: Int, target: K, message: M): Unit = {
    if (targets(p) == null) {
      targets(p) = mutable.ArrayBuilder.make[K]
      slots(p) = new IdIndex[K]
      folded(p) = mutable.ArrayBuffer.empty[M]
    }
    val at = slots(p).putIfAbsent(target, folded(p).length)
    if (at < 0) { targets(p) += target; folded(p) += message }
    else folded(p)(at) = combiner.combine(folded(p)(at), message)
  }

  /** One block per destination partition; null where nothing was sent. */
  def blocks(): Array[MsgBlock[K, M]] = Array.tabulate(targets.length) { p =>
    if (targets(p) == null) null
    else new MsgBlock(targets(p).result(), if (combiner == null) msgs(p).result() else folded(p).toArray)
  }
}

/**
 * One partition's vertex state after a superstep: values and halt votes by
 * position in `ids`, the messages the superstep sent (by destination
 * partition), the vertices whose out-edges it mutated with their new edges,
 * the partition's merged aggregator contributions (hooks included), and its
 * termination count: messages sent plus vertices that did not vote to halt.
 */
private[pregel] final class StateBlock[K, VV, EV, M](
    val ids: Array[K],
    val values: Array[VV],
    val halted: java.util.BitSet,
    val outbox: Array[MsgBlock[K, M]],
    val mutated: Array[Int],
    val newEdges: Array[Adj[K, EV]],
    val aggs: Map[String, Any],
    val active: Long) extends Serializable

private[pregel] object StateBlock {
  /** The superstep-0 state of one partition's vertices; a repeated id keeps
    * its first value. */
  def initial[K: ClassTag, VV: ClassTag, EV, M](vertices: Iterator[(K, VV)]): StateBlock[K, VV, EV, M] = {
    val index = new IdIndex[K]
    val ids = mutable.ArrayBuilder.make[K]
    val values = mutable.ArrayBuilder.make[VV]
    var n = 0
    vertices.foreach { case (id, v) =>
      if (index.putIfAbsent(id, n) < 0) { ids += id; values += v; n += 1 }
    }
    new StateBlock(ids.result(), values.result(), new java.util.BitSet, Array.empty,
      Array.emptyIntArray, Array.empty, Map.empty, 0L)
  }
}
