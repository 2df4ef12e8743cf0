package graft

import org.apache.spark.rdd.RDD

import graft.algos.compute.BasicAlgorithms._
import graft.pregel.Pregel

/** Golden-value tests for the typed Pregel runtime + ComputeFunction ports,
  * mirroring the reference's library tests (SingleSourceShortestPathsTest,
  * ConnectedComponentsTest.java:60-110, PageRankTest.java:66-130,
  * pregel/aggregators/AggregatorTest.java:59-225). */
class PregelSpec extends SparkSpec {

  def sc = spark.sparkContext

  /** two chains 0→…→9 and 10→…→20, weight 1.0 */
  def chains: (RDD[(Long, Long)], RDD[(Long, (Long, Double))]) = {
    val edges = ((0L until 9L).map(i => (i, (i + 1, 1.0))) ++
      (10L until 20L).map(i => (i, (i + 1, 1.0))))
    val verts = (0L to 20L).map(i => (i, i))
    (sc.parallelize(verts), sc.parallelize(edges))
  }

  test("pregel SSSP on chain matches golden distances") {
    val verts = sc.parallelize((0L to 9L).map(i => (i, Double.PositiveInfinity)))
    val edges = sc.parallelize((0L until 9L).map(i => (i, (i + 1, 1.0))))
    val res = Pregel.run(spark, new Sssp(0L), verts, edges, maxIterations = 30)
    val got = res.vertices.collect().toMap
    (0L to 9L).foreach(i => assert(got(i) === i.toDouble))
    assert(res.state === "CONVERGED")
  }

  test("progress callback reports supersteps 1..n in order on the driver") {
    // a 21-vertex chain needs ~20 supersteps, so 6 never converge early
    val verts = sc.parallelize((0L to 20L).map(i => (i, i)))
    val edges = sc.parallelize((0L until 20L).map(i => (i, (i + 1, 1.0))))
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
    val res = Pregel.run(spark, new Wcc, verts, edges, maxIterations = 6,
      onSuperstep = (step, ms) => seen += ((step, ms)))
    assert(res.superstep === 6)
    assert(seen.map(_._1) === (1 to 6))
    assert(seen.map(_._2) === seen.map(_._2).sorted)
    assert(seen.forall(_._2 >= 0L))
  }

  test("pregel WCC on two chains → components 0 and 10") {
    val (verts, edges) = chains
    val res = Pregel.run(spark, new Wcc, verts, edges.mapValues { case (d, v) => (d, v) },
      maxIterations = 50)
    val got = res.vertices.collect().toMap
    (0L to 9L).foreach(i => assert(got(i) === 0L))
    (10L to 20L).foreach(i => assert(got(i) === 10L))
  }

  test("pregel BFS from 10 visits only second chain") {
    val (verts, edges) = chains
    val res = Pregel.run(spark, new Bfs(10L),
      verts.mapValues(_ => Long.MaxValue), edges, maxIterations = 30)
    val got = res.vertices.collect().toMap
    (10L to 20L).foreach(i => assert(got(i) === i - 10))
    (0L to 9L).foreach(i => assert(got(i) === Long.MaxValue))
  }

  test("pregel PageRank chain matches reference goldens incl. running-sum aggregator") {
    val verts = sc.parallelize((0L to 9L).map(i => (i, (0.0, 0.0))))
    val edges = sc.parallelize((0L until 9L).map(i => (i, (i + 1, 1.0))))
    val cf = new PageRank(tolerance = 0.0001, resetProbability = 0.15)
    val res = Pregel.run(spark, cf, verts, edges,
      initialMessage = Some(PageRank.initialMessage(0.15)), maxIterations = 50)
    val got = res.vertices.collect().toMap
    assert(math.abs(got(0L)._1 - 0.15) < 1e-12)
    assert(math.abs(got(1L)._1 - 0.27749999999999997) < 1e-9)
    (1L to 9L).foreach(i => assert(got(i)._1 > got(i - 1)._1))
    // step 0 normalized out-edge weights via setNewEdgeValue (edge mutation)
    val ew = res.edges.collect()
    assert(ew.forall { case (_, e) => e.value === 1.0 })
    // persistent RUNNING_SUM kept accumulating
    assert(res.aggregates(PageRank.RunningSum).asInstanceOf[Double] > 0.0)
  }

  test("pregel MSSP per-landmark maps") {
    val (verts, edges) = chains
    val res = Pregel.run(spark, new Mssp(Set(0L, 10L)),
      verts.mapValues(_ => Map.empty[Long, Double]), edges, maxIterations = 50)
    val got = res.vertices.collect().toMap
    assert(got(5L)(0L) === 5.0)
    assert(got(5L)(10L) === Double.PositiveInfinity)
    assert(got(15L)(10L) === 5.0)
  }

  test("pregel LP star: hub adopts max leaf label") {
    val verts = sc.parallelize(Seq((0L, 0L), (1L, 1L), (2L, 2L), (3L, 3L)))
    val edges = sc.parallelize(Seq((1L, (0L, 1.0)), (2L, (0L, 1.0)), (3L, (0L, 1.0))))
    val res = Pregel.run(spark, new Lp, verts, edges, maxIterations = 5)
    val got = res.vertices.collect().toMap
    assert(got(0L) === 3L)
    assert(got(1L) === 1L)
  }

  test("pregel aggregators: vertex/edge counts (AggregatorTest analog)") {
    val (verts, edges) = chains
    val vc = Pregel.run(spark, new VertexCount, verts, edges, maxIterations = 3)
    assert(vc.aggregates(VertexCount.Agg) === 21L)
    val ec = Pregel.run(spark, new EdgeCount, verts, edges, maxIterations = 3)
    assert(ec.aggregates(EdgeCount.Agg) === 19L)
  }

  test("pregel ReverseEdges adds missing reverse edges via addEdge mutation") {
    val verts = sc.parallelize(Seq((1L, 1L), (2L, 2L), (3L, 3L)))
    val edges = sc.parallelize(Seq((1L, (2L, 1.0)), (2L, (3L, 1.0))))
    val res = Pregel.run(spark, new ReverseEdges, verts, edges, maxIterations = 5)
    val got = res.edges.map { case (s, e) => (s, e.target) }.collect().toSet
    assert(got === Set((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L)))
  }

  test("edge mutation every superstep across localCheckpoint boundaries") {
    import graft.pregel.ComputeFunction
    // every superstep: increment all edge values; superstep 3 adds an extra
    // edge, superstep 5 removes it; halt after superstep 7. With
    // checkpointInterval=2 the adjacency is checkpoint-truncated WHILE being
    // rebuilt from mutations — exercises materialize-before-unpersist order.
    class Mutator extends ComputeFunction[Long, Long, Long, Long] {
      override def masterCompute(superstep: Int, cb: Pregel.MasterCallback): Unit =
        if (superstep > 7) cb.haltComputation()
      def compute(superstep: Int, id: Long, value: Long, messages: Iterable[Long],
                  edges: Iterable[Pregel.OutEdge[Long, Long]],
                  cb: Pregel.Callback[Long, Long, Long, Long]): Unit = {
        edges.foreach(e => cb.setNewEdgeValue(e.target, e.value + 1))
        if (superstep == 3 && id == 0L) cb.addEdge(99L, 1000L)
        if (superstep == 5 && id == 0L) cb.removeEdge(99L)
        cb.setNewVertexValue(value + 1)
      }
    }
    val verts = sc.parallelize(Seq((0L, 0L), (1L, 0L), (2L, 0L)))
    val edges = sc.parallelize(Seq((0L, (1L, 100L)), (1L, (2L, 200L)), (2L, (0L, 300L))))
    val res = Pregel.run(spark, new Mutator, verts, edges,
      numPartitions = 3, maxIterations = 20, checkpointInterval = 2)
    assert(res.state === "HALTED")
    assert(res.superstep === 8) // supersteps 0..7 executed
    val got = res.vertices.collect().toMap
    assert(got === Map(0L -> 8L, 1L -> 8L, 2L -> 8L))
    val adj = res.edges.collect().map { case (s, e) => (s, e.target) -> e.value }.toMap
    // 8 increments per edge; the 99L edge added at 3 and removed at 5 is gone.
    // addEdge(99) happens AFTER the increment pass of superstep 3; the new
    // edge is incremented at supersteps 4 and 5 before removal.
    assert(adj === Map((0L, 1L) -> 108L, (1L, 2L) -> 208L, (2L, 0L) -> 308L))
  }

  test("reliable checkpointing (sc.setCheckpointDir) produces identical results") {
    val dir = java.nio.file.Files.createTempDirectory("pregel-ckpt").toString
    val prev = sc.getCheckpointDir
    sc.setCheckpointDir(dir)
    try {
      val verts = sc.parallelize((0L to 9L).map(i => (i, Double.PositiveInfinity)))
      val edges = sc.parallelize((0L until 9L).map(i => (i, (i + 1, 1.0))))
      // checkpointInterval=2 → several reliable checkpoints over the 10-deep chain
      val res = Pregel.run(spark, new Sssp(0L), verts, edges,
        maxIterations = 30, checkpointInterval = 2)
      val got = res.vertices.collect().toMap
      (0L to 9L).foreach(i => assert(got(i) === i.toDouble))
      assert(res.state === "CONVERGED")
      // reliable checkpoint files actually landed in the configured dir
      val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(files > 0, s"no checkpoint files under $dir")
      res.unpersistState()
    } finally prev.foreach(sc.setCheckpointDir)
  }

  test("executor-loss drill: cached state destroyed mid-run recovers from reliable checkpoint") {
    val dir = java.nio.file.Files.createTempDirectory("pregel-fault").toString
    val prev = sc.getCheckpointDir
    sc.setCheckpointDir(dir)
    try {
      val preexisting = sc.getPersistentRDDs.keySet
      val verts = sc.parallelize((0L to 9L).map(i => (i, Double.PositiveInfinity)))
      val edges = sc.parallelize((0L until 9L).map(i => (i, (i + 1, 1.0))))
      var injected = false
      // masterCompute runs on the driver BETWEEN supersteps — inject total
      // cache loss there (deterministically, no listener race): every block
      // this run cached is dropped, so supersteps ≥ 7 must recompute through
      // lineage that bottoms out in the superstep-6 RELIABLE checkpoint file.
      // The hook lives in a JVM-static object so the compute function
      // serializes without capturing this (non-serializable) test class.
      PregelFaultHook.onSuperstep7 = () => if (!injected) {
        injected = true
        sc.getPersistentRDDs
          .filter { case (id, _) => !preexisting.contains(id) }
          .values.foreach(_.unpersist(blocking = true))
      }
      val res = Pregel.run(spark, new FaultySssp, verts, edges,
        maxIterations = 30, checkpointInterval = 3)
      assert(injected, "fault was never injected — superstep count changed?")
      val got = res.vertices.collect().toMap
      (0L to 9L).foreach(i => assert(got(i) === i.toDouble))
      assert(res.state === "CONVERGED")
      res.unpersistState()
    } finally {
      PregelFaultHook.onSuperstep7 = () => ()
      prev.foreach(sc.setCheckpointDir)
    }
  }
}

/** Driver-side fault hook for the executor-loss drill, JVM-static so the
  * compute function below serializes clean (no test-class capture). The
  * stored lambda only ever runs on the driver. */
object PregelFaultHook {
  @transient @volatile var onSuperstep7: () => Unit = () => ()
}

/** Sssp that fires [[PregelFaultHook]] from masterCompute at superstep 7. */
class FaultySssp extends graft.algos.compute.BasicAlgorithms.Sssp(0L) {
  override def masterCompute(superstep: Int, cb: Pregel.MasterCallback): Unit = {
    super.masterCompute(superstep, cb)
    if (superstep == 7) PregelFaultHook.onSuperstep7()
  }
}
