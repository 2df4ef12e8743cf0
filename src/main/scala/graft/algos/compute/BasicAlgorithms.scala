package graft.algos.compute

import graft.pregel.{Aggregators, ComputeFunction, Pregel}
import graft.pregel.Pregel.{Callback, MasterCallback, OutEdge}

/**
 * Vertex-centric ports of the reference's basic algorithm library — near
 * line-by-line translations of the ComputeFunctions (pure logic; the Kafka
 * machinery is replaced by graft.pregel.Pregel).
 *
 * These run on the generic Pregel runtime for REST and API parity; the
 * batch API for the same algorithms is graft.algos.GraphAlgorithms.
 */
object BasicAlgorithms {

  /** BFS min-hop (reference library/BreadthFirstSearch.java:33-73, Graphalytics
    * formulation): UNVISITED = Long.MaxValue; a messaged unvisited vertex
    * takes the current superstep as its depth and forwards. */
  class Bfs(srcVertexId: Long) extends ComputeFunction[Long, Long, Double, Long] {
    def compute(superstep: Int, id: Long, value: Long, messages: Iterable[Long],
                edges: Iterable[OutEdge[Long, Double]],
                cb: Callback[Long, Long, Double, Long]): Unit = {
      if (superstep == 0) {
        if (id == srcVertexId) {
          cb.setNewVertexValue(superstep.toLong)
          edges.foreach(e => cb.sendMessageTo(e.target, superstep.toLong))
        }
      } else if (value == Long.MaxValue) {
        cb.setNewVertexValue(superstep.toLong)
        edges.foreach(e => cb.sendMessageTo(e.target, superstep.toLong))
      }
      cb.voteToHalt()
    }
  }

  /** SSSP (reference library/SingleSourceShortestPaths.java:30-68). */
  class Sssp(srcVertexId: Long) extends ComputeFunction[Long, Double, Double, Double] {
    def compute(superstep: Int, id: Long, value: Double, messages: Iterable[Double],
                edges: Iterable[OutEdge[Long, Double]],
                cb: Callback[Long, Double, Double, Double]): Unit = {
      var minDistance = if (id == srcVertexId) 0.0 else Double.PositiveInfinity
      messages.foreach(m => minDistance = math.min(minDistance, m))
      if (minDistance < value) {
        cb.setNewVertexValue(minDistance)
        edges.foreach(e => cb.sendMessageTo(e.target, minDistance + e.value))
      }
      cb.voteToHalt()
    }
  }

  /** WCC min-label with repair-style messaging (reference
    * library/ConnectedComponents.java:28-62): also messages the LABEL vertex
    * when the label is smaller than a neighbor id.
    *
    * Faithful-port caveat: like the reference, labels only travel along
    * edge direction plus the label-repair channel — on a one-directional
    * tree (every vertex pointing at a smaller parent) each vertex stops at
    * its parent's id. Feed an undirected()-doubled edge set for true
    * components (GraphAlgorithms.wcc does this internally). */
  class Wcc extends ComputeFunction[Long, Long, Double, Long] {
    def compute(superstep: Int, id: Long, value: Long, messages: Iterable[Long],
                edges: Iterable[OutEdge[Long, Double]],
                cb: Callback[Long, Long, Double, Long]): Unit = {
      var current = value
      messages.foreach(m => current = math.min(current, m))
      if (current < value) cb.setNewVertexValue(current)
      edges.foreach { e =>
        if (current < e.target) cb.sendMessageTo(e.target, current)
        else if (current > e.target) cb.sendMessageTo(current, e.target)
      }
      cb.voteToHalt()
    }
  }

  /** Label propagation (reference library/LabelPropagation.java:29-59):
    * adopt the max-frequency incoming label (ties → larger label), move only
    * upward, always re-broadcast. No explicit halt. */
  class Lp extends ComputeFunction[Long, Long, Double, Map[Long, Long]] {
    def compute(superstep: Int, id: Long, value: Long, messages: Iterable[Map[Long, Long]],
                edges: Iterable[OutEdge[Long, Double]],
                cb: Callback[Long, Long, Double, Map[Long, Long]]): Unit = {
      var vertexValue = value
      val counts = scala.collection.mutable.Map.empty[Long, Long]
      messages.foreach(_.foreach { case (k, v) =>
        counts(k) = counts.getOrElse(k, 0L) + v
      })
      if (counts.nonEmpty) {
        val maxKey = counts.maxBy { case (k, v) => (v, k) }._1
        if (vertexValue < maxKey) {
          vertexValue = maxKey
          cb.setNewVertexValue(vertexValue)
        }
      }
      edges.foreach(e => cb.sendMessageTo(e.target, Map(vertexValue -> 1L)))
    }
  }

  /** MSSP per-landmark distance maps (reference
    * library/MultipleSourceShortestPaths.java:32-75). */
  class Mssp(landmarks: Set[Long])
      extends ComputeFunction[Long, Map[Long, Double], Double, Map[Long, Double]] {
    def compute(superstep: Int, id: Long, value: Map[Long, Double],
                messages: Iterable[Map[Long, Double]],
                edges: Iterable[OutEdge[Long, Double]],
                cb: Callback[Long, Map[Long, Double], Double, Map[Long, Double]]): Unit = {
      val minDistance = scala.collection.mutable.Map.empty[Long, Double]
      landmarks.foreach(lm => minDistance(lm) = if (id == lm) 0.0 else Double.PositiveInfinity)
      messages.foreach(_.foreach { case (k, v) =>
        minDistance(k) = math.min(minDistance.getOrElse(k, Double.PositiveInfinity), v)
      })
      value.foreach { case (k, v) =>
        minDistance(k) = math.min(minDistance.getOrElse(k, Double.PositiveInfinity), v)
      }
      val result = minDistance.toMap
      if (result != value) {
        cb.setNewVertexValue(result)
        edges.foreach { e =>
          cb.sendMessageTo(e.target, result.map { case (k, v) => k -> (v + e.value) })
        }
      }
      cb.voteToHalt()
    }
  }

  /** Delta-formulation PageRank (reference library/PageRank.java:32-113):
    * VV = (rank, delta); superstep 0 normalizes out-edge weights to
    * 1/outDegree via setNewEdgeValue and re-sends the initial message
    * (resetProb/(1-resetProb)) to self; afterwards
    * newRank = rank + (1-resetProb)·Σmsgs, send newDelta·w while > tolerance.
    * Registers the persistent RUNNING_SUM aggregator. */
  class PageRank(tolerance: Double, resetProbability: Double,
                 srcVertexId: Option[Long] = None)
      extends ComputeFunction[Long, (Double, Double), Double, Double] {
    import PageRank._

    override def init(configs: Map[String, Any], cb: MasterCallback): Unit =
      cb.registerAggregator(RunningSum, Aggregators.DoubleSum, persistent = true)

    def compute(superstep: Int, id: Long, value: (Double, Double),
                messages: Iterable[Double], edges: Iterable[OutEdge[Long, Double]],
                cb: Callback[Long, (Double, Double), Double, Double]): Unit = {
      if (superstep == 0) {
        val count = edges.size
        edges.foreach(e => cb.setNewEdgeValue(e.target, 1.0 / count))
        messages.foreach(m => cb.sendMessageTo(id, m)) // resend initial msg to self
      } else {
        val (oldRank, oldDelta) = value
        val messageSum = messages.sum
        val isPersonalized = srcVertexId.isDefined
        val newRank =
          if (isPersonalized && oldDelta == Double.NegativeInfinity) 1.0
          else oldRank + (1.0 - resetProbability) * messageSum
        val newDelta = newRank - oldRank
        cb.setNewVertexValue((newRank, newDelta))
        cb.aggregate(RunningSum, newRank)
        if (newDelta > tolerance)
          edges.foreach(e => cb.sendMessageTo(e.target, newDelta * e.value))
        cb.voteToHalt()
      }
    }
  }
  object PageRank {
    val RunningSum = "running.sum"
    /** Initial message as wired by the reference tests
      * (PageRankTest.java:94-101). */
    def initialMessage(resetProbability: Double): Double =
      resetProbability / (1.0 - resetProbability)
  }

  /** VertexCount building block (reference library/basic/VertexCount.java:28-49). */
  class VertexCount extends ComputeFunction[Long, Long, Double, Long] {
    override def init(configs: Map[String, Any], cb: MasterCallback): Unit =
      cb.registerAggregator(VertexCount.Agg, Aggregators.LongSum, persistent = true)
    def compute(superstep: Int, id: Long, value: Long, messages: Iterable[Long],
                edges: Iterable[OutEdge[Long, Double]],
                cb: Callback[Long, Long, Double, Long]): Unit = {
      // reference VertexCount does not halt at step 0 (composable building block)
      if (superstep == 0) cb.aggregate(VertexCount.Agg, 1L)
      else cb.voteToHalt()
    }
  }
  object VertexCount { val Agg = "vertex.count.aggregator" }

  /** EdgeCount building block (reference library/basic/EdgeCount.java:28-52). */
  class EdgeCount extends ComputeFunction[Long, Long, Double, Long] {
    override def init(configs: Map[String, Any], cb: MasterCallback): Unit =
      cb.registerAggregator(EdgeCount.Agg, Aggregators.LongSum, persistent = true)
    def compute(superstep: Int, id: Long, value: Long, messages: Iterable[Long],
                edges: Iterable[OutEdge[Long, Double]],
                cb: Callback[Long, Long, Double, Long]): Unit = {
      // reference EdgeCount does not halt at step 0 (basic/EdgeCount.java:38-52)
      if (superstep == 0) cb.aggregate(EdgeCount.Agg, edges.size.toLong)
      else cb.voteToHalt()
    }
  }
  object EdgeCount { val Agg = "edge.count.aggregator" }

  /** ReverseEdges building block (reference library/basic/ReverseEdges.java:
    * 28-59): step 0 sends own id along out-edges; step 1 adds any missing
    * reverse edge — makes the adjacency undirected in place. */
  class ReverseEdges extends ComputeFunction[Long, Long, Double, Long] {
    def compute(superstep: Int, id: Long, value: Long, messages: Iterable[Long],
                edges: Iterable[OutEdge[Long, Double]],
                cb: Callback[Long, Long, Double, Long]): Unit = {
      if (superstep == 0) {
        edges.foreach(e => cb.sendMessageTo(e.target, id))
      } else {
        val targets = edges.map(_.target).toSet
        messages.foreach { src =>
          if (!targets.contains(src)) cb.addEdge(src, 1.0)
        }
      }
      cb.voteToHalt()
    }
  }
}
