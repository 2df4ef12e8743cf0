package graft.pregel

import scala.reflect.ClassTag

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD

/**
 * Actions without closures. Spark's closure cleaner reads and ASM-parses the
 * class file of whatever class declared a lambda each time one is passed to
 * an RDD op or action — `Pregel$`, `RDD` (184 KB) or `SparkContext` (204 KB)
 * — and returns at once for any other object. `RDD.collect` and the
 * `Function1` overloads of `SparkContext.runJob` wrap the function they are
 * given in lambdas of their own, so even a named function pays for theirs;
 * the `(TaskContext, Iterator)` overload used here wraps nothing.
 */
object Tasks {

  /** `rdd.collect()`: every row, in partition order, in one Spark job. */
  def collect[T: ClassTag](rdd: RDD[T]): Array[T] =
    Array.concat(rdd.sparkContext.runJob(rdd, new ToArray[T], rdd.partitions.indices).toIndexedSeq: _*)

  private final class ToArray[T: ClassTag] extends ((TaskContext, Iterator[T]) => Array[T])
      with Serializable {
    def apply(tc: TaskContext, rows: Iterator[T]): Array[T] = rows.toArray
  }
}

// ---- Pregel.run's task functions, one class per RDD op -------------------

/** A partition's vertices → its superstep-0 state block. */
private[pregel] final class InitialState[K: ClassTag, VV: ClassTag, EV, M]
    extends (Iterator[(K, VV)] => Iterator[StateBlock[K, VV, EV, M]]) with Serializable {
  def apply(vertices: Iterator[(K, VV)]): Iterator[StateBlock[K, VV, EV, M]] =
    Iterator.single(StateBlock.initial[K, VV, EV, M](vertices))
}

/** A partition's edges → its adjacency block, rows in state-block order. */
private[pregel] final class BuildAdj[K: ClassTag, VV, EV: ClassTag, M]
    extends ((Iterator[StateBlock[K, VV, EV, M]], Iterator[(K, (K, EV))]) => Iterator[AdjBlock[K, EV]])
    with Serializable {
  def apply(s: Iterator[StateBlock[K, VV, EV, M]],
            edges: Iterator[(K, (K, EV))]): Iterator[AdjBlock[K, EV]] =
    Iterator.single(AdjBlock.build(s.next().ids, edges))
}

/** Superstep 0: no inbox. */
private[pregel] final class FirstStep[K, VV, EV, M](step: Pregel.Step[K, VV, EV, M])
    extends ((Iterator[StateBlock[K, VV, EV, M]], Iterator[AdjBlock[K, EV]]) =>
      Iterator[StateBlock[K, VV, EV, M]]) with Serializable {
  def apply(s: Iterator[StateBlock[K, VV, EV, M]],
            a: Iterator[AdjBlock[K, EV]]): Iterator[StateBlock[K, VV, EV, M]] =
    Iterator.single(step(s.next(), a.next(), Iterator.empty))
}

/** A state block's outbox → (destination partition, (source partition,
  * messages)) per non-empty bucket. */
private[pregel] final class Outgoing[K, VV, EV, M]
    extends ((Int, Iterator[StateBlock[K, VV, EV, M]]) => Iterator[(Int, (Int, MsgBlock[K, M]))])
    with Serializable {
  def apply(src: Int, s: Iterator[StateBlock[K, VV, EV, M]]): Iterator[(Int, (Int, MsgBlock[K, M]))] = {
    val blocks = s.next().outbox
    blocks.indices.iterator.filter(blocks(_) != null).map(dst => (dst, (src, blocks(dst))))
  }
}

/** Supersteps after the first: state, adjacency and inbox blocks. */
private[pregel] final class NextStep[K, VV, EV, M](step: Pregel.Step[K, VV, EV, M])
    extends ((Iterator[StateBlock[K, VV, EV, M]], Iterator[AdjBlock[K, EV]],
      Iterator[(Int, (Int, MsgBlock[K, M]))]) => Iterator[StateBlock[K, VV, EV, M]])
    with Serializable {
  def apply(s: Iterator[StateBlock[K, VV, EV, M]], a: Iterator[AdjBlock[K, EV]],
            inbox: Iterator[(Int, (Int, MsgBlock[K, M]))]): Iterator[StateBlock[K, VV, EV, M]] =
    Iterator.single(step(s.next(), a.next(), inbox))
}

/** What the driver needs of a finished superstep's partition: aggregator
  * merges, whether it mutated edges, and its termination count. The
  * adjacency side is only read so the same job builds (and cuts) it. */
private[pregel] final class Summary[K, VV, EV, M]
    extends ((Iterator[StateBlock[K, VV, EV, M]], Iterator[AdjBlock[K, EV]]) =>
      Iterator[(Map[String, Any], Boolean, Long)]) with Serializable {
  def apply(s: Iterator[StateBlock[K, VV, EV, M]],
            a: Iterator[AdjBlock[K, EV]]): Iterator[(Map[String, Any], Boolean, Long)] = {
    val b = s.next()
    Iterator.single((b.aggs, b.mutated.nonEmpty, b.active))
  }
}

/** The adjacency with a superstep's mutated rows swapped in. */
private[pregel] final class SwapRows[K, VV, EV: ClassTag, M]
    extends ((Iterator[AdjBlock[K, EV]], Iterator[StateBlock[K, VV, EV, M]]) => Iterator[AdjBlock[K, EV]])
    with Serializable {
  def apply(a: Iterator[AdjBlock[K, EV]],
            s: Iterator[StateBlock[K, VV, EV, M]]): Iterator[AdjBlock[K, EV]] = {
    val b = s.next()
    Iterator.single(a.next().swapped(b.ids, b.mutated, b.newEdges))
  }
}

/** State blocks → (id, value) rows. */
private[pregel] final class VertexRows[K, VV, EV, M]
    extends (Iterator[StateBlock[K, VV, EV, M]] => Iterator[(K, VV)]) with Serializable {
  def apply(blocks: Iterator[StateBlock[K, VV, EV, M]]): Iterator[(K, VV)] =
    blocks.flatMap(b => b.ids.indices.iterator.map(i => (b.ids(i), b.values(i))))
}

/** Adjacency blocks → (source, edge) rows. */
private[pregel] final class EdgeRows[K, EV]
    extends (AdjBlock[K, EV] => Iterator[(K, Pregel.OutEdge[K, EV])]) with Serializable {
  def apply(b: AdjBlock[K, EV]): Iterator[(K, Pregel.OutEdge[K, EV])] = b.edgeRows
}
