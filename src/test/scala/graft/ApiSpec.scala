package graft

import graft.algos.compute.BasicAlgorithms.{Sssp, Wcc}
import graft.api.GraphAlgorithmHandle

/** Lifecycle facade parity: configure → run → state/superstep/result
  * (reference GraphAlgorithm.java:28-43 contract). */
class ApiSpec extends SparkSpec {

  test("lifecycle: configure, run, state transitions, result") {
    val sc = spark.sparkContext
    val verts = sc.parallelize((0L to 9L).map(i => (i, Double.PositiveInfinity)))
    val edges = sc.parallelize((0L until 9L).map(i => (i, (i + 1, 1.0))))
    val h = new GraphAlgorithmHandle(spark, new Sssp(0L), verts, edges)
    assert(h.state == h.State.Created)
    h.configure()
    val got = h.runSync(30).collect().toMap
    assert(h.state == h.State.Completed)
    (0L to 9L).foreach(i => assert(got(i) === i.toDouble))
    assert(h.superstep > 0)
    assert(h.result().count() === 10)
    assert(h.aggregates != null)
  }

  test("superstep is live while the run is in flight") {
    val sc = spark.sparkContext
    val verts = sc.parallelize((0L to 20L).map(i => (i, i)))
    val edges = sc.parallelize((0L until 20L).map(i => (i, (i + 1, 1.0))))
    val h = new GraphAlgorithmHandle(spark, new ApiSpec.ProbedWcc, verts, edges)
    // masterCompute runs on the driver between supersteps, inside run()
    val live = scala.collection.mutable.ArrayBuffer.empty[Int]
    ApiSpec.onMaster = () => live += h.superstep
    try h.configure().runSync(5) finally ApiSpec.onMaster = () => ()
    // masterCompute after superstep s runs just before its progress callback
    assert(live === Seq(0, 1, 2, 3, 4))
    assert(h.superstep === 5)
  }

  test("run before configure is rejected; double run is rejected") {
    val sc = spark.sparkContext
    val verts = sc.parallelize(Seq((0L, 0L), (1L, 1L)))
    val edges = sc.parallelize(Seq((0L, (1L, 1.0))))
    val h = new GraphAlgorithmHandle(spark, new Wcc, verts, edges)
    intercept[IllegalArgumentException](h.runSync(5))
    h.configure()
    h.runSync(5)
    intercept[IllegalArgumentException](h.runSync(5))
  }
}

object ApiSpec {
  /** Driver-side hook for the live-superstep test (kept off the compute
    * function, which is serialized to executors). */
  @volatile var onMaster: () => Unit = () => ()

  class ProbedWcc extends Wcc {
    override def masterCompute(superstep: Int, cb: graft.pregel.Pregel.MasterCallback): Unit =
      onMaster()
  }
}
