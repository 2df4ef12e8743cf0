package graft.pregel

import org.apache.spark.HashPartitioner
import org.scalatest.funsuite.AnyFunSuite

import graft.algos.compute.BasicAlgorithms.{PageRank, ReverseEdges}

/** The superstep body on hand-built blocks: a state block zipped with an
  * adjacency block whose rows are in another order (as after a recompute
  * that re-read a shuffle differently) must give the same results. */
class PregelBlockSpec extends AnyFunSuite {

  private val ids = Array(4L, 0L, 7L, 2L, 9L, 5L)
  private val edges: Seq[(Long, (Long, Double))] = Seq(
    0L -> (2L, 1.0), 0L -> (7L, 1.0), 2L -> (4L, 1.0), 2L -> (9L, 1.0),
    4L -> (0L, 1.0), 5L -> (0L, 1.0), 7L -> (5L, 1.0), 7L -> (9L, 1.0),
    7L -> (2L, 1.0), 9L -> (4L, 1.0), 11L -> (4L, 1.0)) // 11: an orphan source
  private val part = new HashPartitioner(1)

  /** Three supersteps of `cf` from `state`, each partition-local (one
    * partition mails itself); returns every intermediate state block and
    * the adjacency after each superstep's mutations. */
  private def run[VV, M: scala.reflect.ClassTag](
      cf: ComputeFunction[Long, VV, Double, M], adj0: AdjBlock[Long, Double],
      state0: StateBlock[Long, VV, Double, M], initial: Seq[M])
      : Seq[(StateBlock[Long, VV, Double, M], AdjBlock[Long, Double])] = {
    var adj = adj0
    var state = state0
    (0 until 3).map { s =>
      val zeros = Map[String, Any](PageRank.RunningSum -> 0.0)
      val merges = Map[String, (Any, Any) => Any](PageRank.RunningSum ->
        ((a: Any, b: Any) => a.asInstanceOf[Double] + b.asInstanceOf[Double]))
      val step = new Pregel.Step[Long, VV, Double, M](cf, s, if (s == 0) initial else null,
        Map.empty, zeros, merges, part)
      val inbox = state.outbox.iterator.filter(_ != null).map(b => (0, (0, b)))
      state = step(state, adj, inbox)
      adj = adj.swapped(state.ids, state.mutated, state.newEdges)
      (state, adj)
    }
  }

  private def permuted(a: AdjBlock[Long, Double]): AdjBlock[Long, Double] =
    AdjBlock.build(a.ids.reverse, edges.iterator)

  private def edgeSet(a: AdjBlock[Long, Double]) = a.edgeRows.map { case (s, e) => (s, e.target, e.value) }.toSet

  test("a state block zipped with a permuted-order adjacency block gives the same results") {
    val verts = ids.map(id => (id, (0.0, 0.0)))
    val aligned = AdjBlock.build(ids, edges.iterator)
    val shuffled = permuted(aligned)
    assert(aligned.rowsOf(ids) === null)
    assert(shuffled.rowsOf(ids) !== null)
    val cf = new PageRank(tolerance = 0.0, resetProbability = 0.15)
    def fresh = StateBlock.initial[Long, (Double, Double), Double, Double](verts.iterator)
    val a = run(cf, aligned, fresh, Seq(PageRank.initialMessage(0.15)))
    val b = run(cf, shuffled, fresh, Seq(PageRank.initialMessage(0.15)))
    a.zip(b).foreach { case ((sa, adjA), (sb, adjB)) =>
      assert(sa.ids.toSeq === sb.ids.toSeq)
      assert(sa.values.toSeq === sb.values.toSeq) // bit-identical ranks
      assert(sa.outbox.head.targets.toSeq === sb.outbox.head.targets.toSeq)
      assert(sa.outbox.head.msgs.toSeq === sb.outbox.head.msgs.toSeq) // same inbox order
      assert(sa.aggs === sb.aggs)
      assert(edgeSet(adjA) === edgeSet(adjB))
    }
    // superstep 0 normalized every vertex's out-edge weights (edge mutation)
    assert(edgeSet(a.head._2).filter(_._1 == 7L).map(_._3) === Set(1.0 / 3))
    // the orphan source's edge survives untouched, and is never computed
    assert(edgeSet(a.last._2).contains((11L, 4L, 1.0)))
  }

  test("addEdge mutations land on the right rows of a permuted adjacency block") {
    val verts = ids.map(id => (id, id))
    val aligned = AdjBlock.build(ids, edges.iterator)
    def fresh = StateBlock.initial[Long, Long, Double, Long](verts.iterator)
    val a = run(new ReverseEdges, aligned, fresh, Nil)
    val b = run(new ReverseEdges, permuted(aligned), fresh, Nil)
    assert(edgeSet(a.last._2) === edgeSet(b.last._2))
    val undirected = edges.collect { case (s, (t, _)) if s != 11L => Set(s, t) }.toSet
    assert(edgeSet(a.last._2).filter(_._1 != 11L).map(e => Set(e._1, e._2)) === undirected)
  }

  test("the inbox is merged in source-partition order, whatever order the blocks arrive in") {
    val adj = AdjBlock.build(Array(1L, 2L), Iterator.empty[(Long, (Long, Double))])
    val state = StateBlock.initial[Long, List[Long], Double, Long](Iterator(1L -> Nil, 2L -> Nil))
    val step = new Pregel.Step[Long, List[Long], Double, Long](new PregelBlockSpec.Record, 1, null,
      Map.empty, Map.empty, Map.empty, part)
    def block(msgs: Long*) = new MsgBlock(Array.fill(msgs.size)(1L), msgs.toArray)
    val blocks = Seq((0, (2, block(20L, 21L))), (0, (0, block(0L))), (0, (1, block(10L, 11L))))
    val got = blocks.permutations.map(bs => step(state, adj, bs.iterator).values.toSeq).toSet
    assert(got === Set(Seq(List(0L, 10L, 11L, 20L, 21L), Nil)))
  }

  test("a row that repeats a target is seen once, last value first position") {
    val adj = AdjBlock.build(Array(1L), Iterator(1L -> (2L, 1.0), 1L -> (3L, 5.0), 1L -> (2L, 7.0)))
    assert(adj.dups.get(0))
    val cb = new Pregel.Callback[Long, Long, Double, Long](adj, 0, new Outbox[Long, Long](part),
      Map.empty, Map.empty, Map.empty)
    assert(cb.edges.map(e => (e.target, e.value)).toSeq === Seq((2L, 7.0), (3L, 5.0)))
    // the raw row, repeats included, is what Result.edges reports unmutated
    assert(adj.edgeRows.map(_._2.target).toSeq === Seq(2L, 3L, 2L))
  }
}

object PregelBlockSpec {
  /** Keeps its inbox, in the order delivered, as the vertex value. */
  class Record extends ComputeFunction[Long, List[Long], Double, Long] {
    def compute(superstep: Int, id: Long, value: List[Long], messages: Iterable[Long],
                edges: Iterable[Pregel.OutEdge[Long, Double]],
                cb: Pregel.Callback[Long, List[Long], Double, Long]): Unit = {
      cb.setNewVertexValue(messages.toList)
      cb.voteToHalt()
    }
  }
}
