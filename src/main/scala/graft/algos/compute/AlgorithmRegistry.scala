package graft.algos.compute

import scala.collection.mutable
import scala.reflect.ClassTag

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel

import graft.pregel.{ComputeFunction, Pregel, Tasks}

/**
 * Named-algorithm registry — the reference's GraphAlgorithmType enum
 * (library/GraphAlgorithmType.java:33-117): algorithm key → compute function
 * + initial vertex value (GraphAlgorithmType.initialVertexValueMapper:95-116)
 * + initial message, runnable from a bare weighted-edge RDD. Serdes disappear
 * (Spark encoders); the REST surface's "run algorithm X with config Y" verb
 * maps to `AlgorithmRegistry.run(...)`.
 */
object AlgorithmRegistry {

  val algorithms: Set[String] =
    Set("bfs", "lcc", "lp", "mssp", "pagerank", "sssp", "svdpp", "wcc")

  /** Initial vertex values per algorithm (GraphAlgorithmType.java:95-116). */
  def initialVertexValue(algorithm: String, id: Long): Any = algorithm match {
    case "bfs"      => Long.MaxValue
    case "sssp"     => Double.PositiveInfinity
    case "pagerank" => (0.0, 0.0)
    case "wcc"      => id
    case "lp"       => id
    case "lcc"      => 1.0
    case "mssp"     => Map.empty[Long, Double]
    case "svdpp"    => Cf.SvdppValue(0f, Array.empty[Float], Array.empty[Float])
    case other      => throw new IllegalArgumentException(s"Unsupported algorithm type: $other")
  }

  /** Run outcome with the reference's GraphAlgorithmState fields
    * (GraphAlgorithmState.java:28-99): result + superstep count + running
    * time + terminal state + final aggregates (status.getAggregates — the
    * svdpp-predict tool reads the overall-rating/edge-count aggregators from
    * it) — the REST layer's state/result/predict verbs read it.
    * `unpersistState()` releases the run's cached state and adjacency blocks;
    * call it once everything needed from `vertices` is materialized. */
  case class Outcome(vertices: RDD[(Long, Any)], superstep: Int,
                     runningTimeMs: Long, state: String,
                     aggregates: Map[String, Any] = Map.empty)(
      release: () => Unit = () => ()) {
    def unpersistState(): Unit = release()
  }

  /**
   * A weighted edge list laid out once for many Pregel runs — the
   * reference's prepare job (GraphUtils.groupEdgesBySourceAndRepartition):
   * `keyed` is (src, (dst, weight)) and `vertexIds` the distinct endpoint
   * ids, both hash-partitioned into `parts`. Pregel.run on the same
   * partitioner then builds its state and adjacency blocks without a shuffle.
   * `edges` is the raw list, for algorithms with their own layout (svdpp).
   */
  final class Prepared(val edges: RDD[(Long, Long, Double)], val parts: Int) {
    require(parts >= 1, s"partitions must be at least 1, got $parts")
    // one shuffle lays out both: each edge goes to its source's partition
    // and a bare id to its destination's
    private val routed: RDD[(Long, Option[(Long, Double)])] =
      edges.flatMap(new RouteEdge).partitionBy(new HashPartitioner(parts))
    val keyed: RDD[(Long, (Long, Double))] =
      routed.mapPartitions(new KeyedEdges, preservesPartitioning = true)
    val vertexIds: RDD[(Long, Unit)] =
      routed.mapPartitions(new DistinctIds, preservesPartitioning = true)

    /** Cache both layouts; the first job that reads them builds them. */
    def persist(): this.type = {
      keyed.persist(StorageLevel.MEMORY_AND_DISK)
      vertexIds.persist(StorageLevel.MEMORY_AND_DISK)
      this
    }

    /** Cache both layouts and build them now, in one Spark job; returns
      * (edges, vertices). */
    def materialize(): (Long, Long) = {
      persist()
      val counts = Tasks.collect(keyed.zipPartitions(vertexIds)(new Sizes))
      (counts.map(_._1).sum, counts.map(_._2).sum)
    }

    def release(): Unit = { keyed.unpersist(false); vertexIds.unpersist(false) }
  }

  object Prepared {
    /** Edges per partition of a layout sized to its graph. At REST scale a
      * Spark task costs a few ms of scheduling for about 1 ms of superstep
      * work, so a small graph runs fastest as one task per stage. The sweep
      * in plans/rest_layout/ (registry bfs and pagerank, 1 and 2 clients,
      * local[4]) found one partition best or tied up to 25k directed edges
      * under two clients, and one slower than two from 110k on. */
    private val EdgesPerPartition = 50000L

    /** Partitions for a graph of `edgeCount` edges: one per
      * EdgesPerPartition edges, at least 1 and at most `maxParts`. */
    def partitionsFor(edgeCount: Long, maxParts: Int): Int =
      math.min(maxParts.toLong,
        math.max(1L, (edgeCount + EdgesPerPartition - 1) / EdgesPerPartition)).toInt
  }

  /**
   * Run a named algorithm on a weighted edge RDD (src, dst, weight),
   * vertex set derived from edge endpoints (KGraph.fromEdges semantics).
   * Returns (id, value) with algorithm-specific value types stringified by
   * the caller as needed. Configs mirror the reference's config keys:
   * srcVertexId, landmarkVertexIds, tolerance, resetProbability.
   */
  def run(spark: SparkSession, algorithm: String,
          edges: RDD[(Long, Long, Double)],
          configs: Map[String, Any] = Map.empty,
          maxIterations: Int = 30): RDD[(Long, Any)] =
    runDetailed(spark, algorithm,
      new Prepared(edges, spark.sparkContext.defaultParallelism), configs, maxIterations).vertices

  /** Run on a prepared graph; `onSuperstep` is Pregel.run's progress
    * callback. */
  def runDetailed(spark: SparkSession, algorithm: String,
                  graph: Prepared,
                  configs: Map[String, Any],
                  maxIterations: Int,
                  onSuperstep: (Int, Long) => Unit = (_, _) => ()): Outcome = {
    def verts[V]: RDD[(Long, V)] =
      graph.vertexIds.mapPartitions(new InitialValues[V](algorithm), preservesPartitioning = true)
    def srcId: Long = configs("srcVertexId").asInstanceOf[Number].longValue()
    def pregel[VV: ClassTag, M: ClassTag](cf: ComputeFunction[Long, VV, Double, M],
                                          vertices: RDD[(Long, VV)],
                                          initialMessage: Option[M] = None): Outcome = {
      val r = Pregel.run(spark, cf, vertices, graph.keyed, initialMessage = initialMessage,
        maxIterations = maxIterations, numPartitions = graph.parts,
        onSuperstep = onSuperstep)
      // RDD is invariant: (Long, VV) rows are (Long, Any) rows
      Outcome(r.vertices.asInstanceOf[RDD[(Long, Any)]],
        r.superstep, r.runningTimeMs, r.state, r.aggregates)(() => r.unpersistState())
    }

    algorithm match {
      case "bfs" =>
        pregel(new BasicAlgorithms.Bfs(srcId), verts[Long])
      case "sssp" =>
        pregel(new BasicAlgorithms.Sssp(srcId), verts[Double])
      case "wcc" =>
        pregel(new BasicAlgorithms.Wcc, verts[Long])
      case "lp" =>
        pregel(new BasicAlgorithms.Lp, verts[Long])
      case "lcc" =>
        pregel(new AdvancedAlgorithms.Lcc, verts[Double])
      case "mssp" =>
        val landmarks = configs("landmarkVertexIds") match {
          case s: Set[_] => s.map(_.asInstanceOf[Number].longValue())
          case s: Seq[_] => s.map(_.asInstanceOf[Number].longValue()).toSet
        }
        pregel(new BasicAlgorithms.Mssp(landmarks), verts[Map[Long, Double]])
      case "pagerank" =>
        val tol = configs.getOrElse("tolerance", 0.0001).asInstanceOf[Number].doubleValue()
        val reset = configs.getOrElse("resetProbability", 0.15).asInstanceOf[Number].doubleValue()
        val src = configs.get("srcVertexId").map(_.asInstanceOf[Number].longValue())
        pregel(new BasicAlgorithms.PageRank(tol, reset, src), verts[(Double, Double)],
          Some(BasicAlgorithms.PageRank.initialMessage(reset)))
      case "svdpp" =>
        // bipartite ratings: input edges are (user, item, rating); CfId keys
        // collapse to a signed Long in the result (user → id, item → −id−1)
        // since the registry surface is keyed by Long like the reference's
        // parsed "(id, type)" wire format (GraphAlgorithmType.java:66-93)
        val dim = configs.getOrElse("vector.size", 8).asInstanceOf[Number].intValue()
        val iters = configs.getOrElse("iterations", 3).asInstanceOf[Number].intValue()
        val seed = configs.get("random.seed").map(_.asInstanceOf[Number].longValue())
        val ratings = graph.edges.map { case (u, i, r) =>
          (Cf.CfId.user(u), (Cf.CfId.item(i), r.toFloat)) }
        val ids = ratings.flatMap(t => Iterator(t._1, t._2._1)).distinct()
          .map(id => (id, Cf.SvdppValue(0f, Array.empty[Float], Array.empty[Float])))
        val r = Pregel.run(spark, new Cf.Svdpp(dim = dim, iterations = iters, randomSeed = seed),
          ids, ratings, maxIterations = maxIterations, onSuperstep = onSuperstep)
        Outcome(r.vertices.map { case (id, v) =>
            (if (id.typ == 0) id.id else -id.id - 1, v: Any) },
          r.superstep, r.runningTimeMs, r.state, r.aggregates)(() => r.unpersistState())
      case other =>
        throw new IllegalArgumentException(s"Unsupported algorithm type: $other")
    }
  }
}

// ---- task functions of the prepared layout and its runs ------------------
// Named classes, not lambdas, so Spark's closure cleaner skips them (see
// graft.pregel.Tasks).

/** (src, dst, w) → the edge keyed by its source, and the bare destination. */
private[compute] final class RouteEdge
    extends (((Long, Long, Double)) => Iterator[(Long, Option[(Long, Double)])]) with Serializable {
  def apply(e: (Long, Long, Double)): Iterator[(Long, Option[(Long, Double)])] =
    Iterator((e._1, Some((e._2, e._3))), (e._2, None))
}

private[compute] final class KeyedEdges
    extends (Iterator[(Long, Option[(Long, Double)])] => Iterator[(Long, (Long, Double))])
    with Serializable {
  def apply(rows: Iterator[(Long, Option[(Long, Double)])]): Iterator[(Long, (Long, Double))] =
    rows.collect { case (s, Some(e)) => (s, e) }
}

private[compute] final class DistinctIds
    extends (Iterator[(Long, Option[(Long, Double)])] => Iterator[(Long, Unit)]) with Serializable {
  def apply(rows: Iterator[(Long, Option[(Long, Double)])]): Iterator[(Long, Unit)] = {
    val seen = mutable.HashSet.empty[Long]
    rows.collect { case (id, _) if seen.add(id) => (id, ()) }
  }
}

/** A partition's (edge, vertex) counts. */
private[compute] final class Sizes
    extends ((Iterator[(Long, (Long, Double))], Iterator[(Long, Unit)]) => Iterator[(Long, Long)])
    with Serializable {
  def apply(e: Iterator[(Long, (Long, Double))], v: Iterator[(Long, Unit)]): Iterator[(Long, Long)] =
    Iterator.single((e.size.toLong, v.size.toLong))
}

/** Vertex ids → (id, the algorithm's initial value). */
private[compute] final class InitialValues[V](algorithm: String)
    extends (Iterator[(Long, Unit)] => Iterator[(Long, V)]) with Serializable {
  def apply(ids: Iterator[(Long, Unit)]): Iterator[(Long, V)] =
    ids.map { case (id, _) => (id, AlgorithmRegistry.initialVertexValue(algorithm, id).asInstanceOf[V]) }
}
