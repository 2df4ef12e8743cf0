package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}

import org.apache.spark.{Dependency, ShuffleDependency}
import org.apache.spark.rdd.{CoGroupedRDD, RDD}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

import graft.algos.compute.AlgorithmRegistry
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

  /** An R-MAT-like 64-vertex graph with hubs and both edge directions,
    * prepared (hash-partitioned into 4 parts) like a REST graph. */
  private def preparedGraph(): AlgorithmRegistry.Prepared = {
    val rnd = new scala.util.Random(7)
    val pairs = (0 until 300).map { _ =>
      val a = (rnd.nextInt(8) * rnd.nextInt(8)).toLong
      (a, rnd.nextInt(64).toLong)
    }.filter { case (a, b) => a != b }.distinct
    val edges = pairs.flatMap { case (a, b) => Seq((a, b, 1.0 + a % 3), (b, a, 1.0 + a % 3)) }
    val g = new AlgorithmRegistry.Prepared(sc.parallelize(edges, 3), 4)
    g.materialize()
    g
  }

  /** Per Spark job of the jobs run under `group` inside `body`: how many
    * shuffle-map stages it ran (skipped stages are not run). A job's result
    * stage is created after all its parents, so it holds the job's highest
    * stage id; every other stage of the job is a shuffle-map stage. */
  private def shuffleStagesPerJob(group: String)(body: => Unit): Seq[Int] = {
    val jobOfStage = new ConcurrentHashMap[Int, Int]()
    val mapStages = new ConcurrentHashMap[Int, Int]()
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val closed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `group` =>
            jobs.add(e.jobId); mapStages.put(e.jobId, 0)
            e.stageIds.filter(_ != e.stageIds.max).foreach(jobOfStage.put(_, e.jobId))
          case g if g == group + "-close" => closed.countDown()
          case _ => ()
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        Option(jobOfStage.get(e.stageInfo.stageId)).foreach(mapStages.merge(_, 1, _ + _))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
      sc.setJobGroup(group + "-close", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(closed.await(60, TimeUnit.SECONDS))
    } finally sc.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    jobs.asScala.toSeq.sorted.map(j => mapStages.get(j).intValue)
  }

  test("one shuffle-map stage per superstep; PageRank's mutation superstep adds none") {
    val g = preparedGraph()
    try {
      for ((algo, configs) <- Seq("wcc" -> Map.empty[String, Any],
                                  "pagerank" -> Map[String, Any]("tolerance" -> 0.0))) {
        var steps = 0
        val perJob = shuffleStagesPerJob(s"pregel-stages-$algo") {
          val out = AlgorithmRegistry.runDetailed(spark, algo, g, configs, 5)
          steps = out.superstep
          out.unpersistState()
        }
        assert(steps === 5, algo)
        // one job per superstep; a prepared graph builds its blocks without a
        // shuffle, so superstep 0 runs none and every later one exactly one
        assert(perJob === Seq(0, 1, 1, 1, 1), algo)
      }
    } finally g.release()
  }

  test("no superstep lineage holds a cogroup or an aggregating shuffle") {
    def walk(deps: Seq[Dependency[_]], seen: Set[Int]): Set[Int] =
      deps.foldLeft(seen) { (acc, d) =>
        assert(!d.rdd.isInstanceOf[CoGroupedRDD[_]], d.rdd.toDebugString)
        d match {
          case s: ShuffleDependency[_, _, _] =>
            assert(s.aggregator.isEmpty && !s.mapSideCombine, d.rdd.toDebugString)
          case _ => ()
        }
        if (acc(d.rdd.id)) acc else walk(d.rdd.dependencies, acc + d.rdd.id)
      }
    val (verts, edges) = chains
    val cf = new PageRank(tolerance = 0.0, resetProbability = 0.15)
    val res = Pregel.run(spark, cf, verts.mapValues(_ => (0.0, 0.0)), edges,
      initialMessage = Some(PageRank.initialMessage(0.15)), maxIterations = 6)
    assert(res.superstep === 6)
    val seen = walk(res.vertices.dependencies ++ res.edges.dependencies, Set.empty)
    assert(seen.size > 12) // six supersteps of un-cut lineage were walked
    res.unpersistState()
  }

  test("two PageRank runs give bit-identical ranks (deterministic inbox order)") {
    val g = preparedGraph()
    try {
      def ranks(): Map[Long, Any] = {
        val out = AlgorithmRegistry.runDetailed(spark, "pagerank", g,
          Map("tolerance" -> 0.0), 12)
        try out.vertices.collect().toMap finally out.unpersistState()
      }
      val a = ranks()
      assert(a.size > 30)
      assert(ranks() === a)
    } finally g.release()
  }

  test("executor-loss drill with edge mutation: PageRank recovers adjacency and state") {
    val verts = sc.parallelize((0L to 20L).map(i => (i, (0.0, 0.0))), 3)
    val edges = sc.parallelize((0L until 20L).flatMap(i =>
      Seq((i, (i + 1, 1.0)), (i, ((i * 7) % 21, 1.0)))).filter { case (s, (d, _)) => s != d }, 3)
    def run(cf: PageRank): (Map[Long, (Double, Double)], Set[(Long, Long, Double)], Int) = {
      val res = Pregel.run(spark, cf, verts, edges,
        initialMessage = Some(PageRank.initialMessage(0.15)), maxIterations = 12,
        numPartitions = 4, checkpointInterval = 3)
      try (res.vertices.collect().toMap,
        res.edges.collect().map { case (s, e) => (s, e.target, e.value) }.toSet, res.superstep)
      finally res.unpersistState()
    }
    val undisturbed = run(new PageRank(tolerance = 0.0, resetProbability = 0.15))
    val dir = java.nio.file.Files.createTempDirectory("pregel-fault-mut").toString
    val prev = sc.getCheckpointDir
    sc.setCheckpointDir(dir)
    try {
      val preexisting = sc.getPersistentRDDs.keySet
      var injected = false
      // total cache loss after superstep 7: state recomputes from the
      // superstep-6 reliable checkpoint, the adjacency (mutated at superstep
      // 0, never cut) from its lineage
      PregelFaultHook.onSuperstep7 = () => if (!injected) {
        injected = true
        sc.getPersistentRDDs
          .filter { case (id, _) => !preexisting.contains(id) }
          .values.foreach(_.unpersist(blocking = true))
      }
      val recovered = run(new FaultyPageRank)
      assert(injected, "fault was never injected — superstep count changed?")
      assert(recovered._3 === 12)
      assert(recovered === undisturbed)
      assert(undisturbed._2.filter(_._1 == 3L).map(_._3) === Set(0.5)) // normalized
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

/** PageRank that fires [[PregelFaultHook]] from masterCompute at superstep 7. */
class FaultyPageRank extends graft.algos.compute.BasicAlgorithms.PageRank(0.0, 0.15) {
  override def masterCompute(superstep: Int, cb: Pregel.MasterCallback): Unit = {
    super.masterCompute(superstep, cb)
    if (superstep == 7) PregelFaultHook.onSuperstep7()
  }
}
