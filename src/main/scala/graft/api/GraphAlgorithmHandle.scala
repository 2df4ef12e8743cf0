package graft.api

import scala.concurrent.{Await, Future, Promise}
import scala.concurrent.duration.Duration
import scala.reflect.ClassTag

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession

import graft.pregel.{ComputeFunction, Pregel}

/**
 * Lifecycle facade mirroring the reference's algorithm handle —
 * `GraphAlgorithm<K,VV,EV,T>`: configure(builder, props) → run(maxIterations)
 * → state() → result() (kafka-graphs-core GraphAlgorithm.java:28-43) with
 * `GraphAlgorithmState{state, superstep, runningTime, aggregates, result}`
 * (GraphAlgorithmState.java:28-99).
 *
 * Spark's synchronous stage execution collapses the reference's async state
 * machine (no topics to create, no streams to start), but the verbs are kept
 * 1:1 so a reference client ports mechanically: `run` still returns a Future
 * of the result and `state()` reports CREATED/RUNNING/COMPLETED/HALTED/ERROR
 * plus superstep count, running time, and merged aggregator values. The REST
 * layer's prepare/configure/run/state/result verbs (SURVEY §3.3) map straight
 * onto one handle instance per submitted algorithm.
 */
final class GraphAlgorithmHandle[K: ClassTag, VV: ClassTag, EV: ClassTag, M: ClassTag](
    spark: SparkSession,
    cf: ComputeFunction[K, VV, EV, M],
    vertices: RDD[(K, VV)],
    edges: RDD[(K, (K, EV))],
    configs: Map[String, Any] = Map.empty,
    initialMessage: Option[M] = None,
    numPartitions: Int = 0) {

  /** GraphAlgorithmState.State (GraphAlgorithmState.java:34-40). */
  object State extends Enumeration {
    val Created, Running, Halted, Completed, Error = Value
  }

  @volatile private var currentState: State.Value = State.Created
  @volatile private var lastResult: Option[Pregel.Result[K, VV, EV]] = None
  @volatile private var failure: Option[Throwable] = None
  // published by the run after each superstep, read while it is RUNNING
  @volatile private var progress: (Int, Long) = (0, 0L)
  private var configured = false

  /** Validate inputs / freeze configuration (the reference's
    * configure(StreamsBuilder, props) — topology creation disappears). */
  def configure(): this.type = synchronized {
    require(currentState == State.Created, s"configure() in state $currentState")
    configured = true
    this
  }

  /** Execute up to `maxIterations` supersteps. Runs synchronously (Spark
    * stages ARE the barriers) but returns a completed Future for signature
    * parity with the reference's CompletableFuture result. */
  def run(maxIterations: Int = 30): Future[RDD[(K, VV)]] = synchronized {
    require(configured, "call configure() before run()")
    require(currentState == State.Created, s"run() in state $currentState")
    currentState = State.Running
    val p = Promise[RDD[(K, VV)]]()
    try {
      val res = Pregel.run(spark, cf, vertices, edges, configs, initialMessage,
        maxIterations, numPartitions, onSuperstep = (step, ms) => progress = (step, ms))
      lastResult = Some(res)
      currentState = if (res.state == "HALTED") State.Halted else State.Completed
      p.success(res.vertices)
    } catch {
      case e: Throwable =>
        failure = Some(e)
        currentState = State.Error
        p.failure(e)
    }
    p.future
  }

  /** Mirror of GraphAlgorithmState accessors. */
  def state: State.Value = currentState
  /** Supersteps completed so far — live while the run is in flight. */
  def superstep: Int = lastResult.map(_.superstep).getOrElse(progress._1)
  def runningTimeMs: Long = lastResult.map(_.runningTimeMs).getOrElse(progress._2)
  def aggregates: Map[String, Any] = lastResult.map(_.aggregates).getOrElse(Map.empty)
  def error: Option[Throwable] = failure

  /** The solution set (reference result() streams the store; here the final
    * vertex RDD). Blocks on the run future like the reference's
    * `result().get()` pattern. */
  def result(): RDD[(K, VV)] = lastResult match {
    case Some(r) => r.vertices
    case None    => throw new IllegalStateException("run() has not completed")
  }

  /** Final (possibly mutated) edge adjacency — observable output for
    * edge-mutating algorithms (MaxBMatching/AdamicAdar/Jaccard). */
  def resultEdges(): RDD[(K, Pregel.OutEdge[K, EV])] = lastResult match {
    case Some(r) => r.edges
    case None    => throw new IllegalStateException("run() has not completed")
  }

  /** Convenience: run-and-wait (the common synchronous client path). */
  def runSync(maxIterations: Int = 30): RDD[(K, VV)] =
    Await.result(run(maxIterations), Duration.Inf)
}
