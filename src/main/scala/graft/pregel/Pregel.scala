package graft.pregel

import scala.collection.mutable
import scala.reflect.ClassTag

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel

/**
 * Pregel (BSP vertex-centric) runtime — the Spark replacement for the
 * reference's Kafka/ZooKeeper machinery (pregel/PregelComputation.java,
 * pregel/PregelGraphAlgorithm.java:44-226).
 *
 * The reference needs ~2,000 LoC of topics, RocksDB stores, ZK leader latches
 * and offset-sync barriers because Kafka Streams has no synchronous stages.
 * Spark's stage boundary IS the superstep barrier, so the whole runtime is a
 * driver loop:
 *
 *   per superstep: inbox ⋈ state ⋈ adjacency → compute per vertex →
 *   (new state, outgoing messages, edge mutations, aggregator contributions)
 *
 * Scale design:
 *  - state / adjacency / inbox are all hash-partitioned on the vertex key with
 *    the SAME partitioner, so the per-superstep 3-way cogroup is narrow (zero
 *    shuffle); the only shuffle per superstep is grouping outgoing messages by
 *    destination — the unavoidable one (it replaces the reference's workSet
 *    topic round-trip through Kafka brokers, PregelComputation.java:797-801).
 *  - message lists per destination are combined map-side (reduceByKey-style
 *    append) — the reference ships full lists with no combiner
 *    (PregelComputation.java:751-753).
 *  - lineage is cut every `checkpointInterval` supersteps (the RocksDB
 *    solution-set store analog): localCheckpoint by default (fast, executor
 *    -local), or a RELIABLE `checkpoint()` to the configured
 *    `sc.setCheckpointDir` when one is set — at cluster scale an executor
 *    loss under localCheckpoint kills the job, so long-running production
 *    runs should set a checkpoint dir (HDFS/S3) and take the write cost.
 *
 * This layer keeps the reference's exact user contract — ComputeFunction with
 * voteToHalt, registered (persistent) aggregators, masterCompute, and in-flight
 * edge mutation (ComputeFunction.java:183-268) — which GraphX's Pregel cannot
 * express. Built-in analytics with fixed schemas use the DataFrame-native loops
 * in graft.algos instead (Catalyst/Tungsten path).
 *
 * It is implemented on pair-RDDs rather than Dataset[T] deliberately: K/VV/EV/M
 * are arbitrary user types (the reference serializes them with Kryo too,
 * utils/KryoSerde.java:56), per-vertex compute is imperative, and partitioner
 * reuse across supersteps — the key to zero-shuffle cogroups — is only
 * contractual at the RDD layer.
 */
object Pregel {

  /** Storage level for every loop-carried persist in the runtime (the
    * carrier, adjacency and per-superstep `out`): SERIALIZED, for the same
    * reason the DataFrame loops' checkpoints are (r16 "stabilization"
    * finding, VERDICT r16 item 5): the next superstep's cogroup reads these
    * blocks directly and a block being read is pinned un-evictable —
    * deserialized row objects at ~2× the bytes starved execution memory at
    * R-MAT drill scale. One extra deserialization pass per superstep is the
    * price; semantics are storage-level-only. */
  private[pregel] val LoopStorage = StorageLevel.MEMORY_AND_DISK_SER

  /** Per-vertex outgoing edge (reference EdgeWithValue.java:23-74). */
  case class OutEdge[K, EV](target: K, value: EV)

  /** A vertex's out-edges as parallel arrays, in edge order. With primitive
    * K / EV (the registry's Long / Double) both are primitive arrays, so
    * the cached adjacency holds no per-edge objects: it serializes in bulk,
    * and the per-superstep cogroup's size sampling walks one array instead
    * of three objects per edge. */
  private final class Adj[K, EV](val targets: Array[K], val values: Array[EV])
      extends Serializable {
    def foreach(f: (K, EV) => Unit): Unit = {
      var i = 0
      while (i < targets.length) { f(targets(i), values(i)); i += 1 }
    }
    def iterator: Iterator[OutEdge[K, EV]] =
      targets.indices.iterator.map(i => OutEdge(targets(i), values(i)))
  }

  private object Adj {
    def apply[K: ClassTag, EV: ClassTag](edges: Iterable[(K, EV)]): Adj[K, EV] =
      new Adj(edges.iterator.map(_._1).toArray, edges.iterator.map(_._2).toArray)
  }

  /** Mirror of GraphAlgorithmState (GraphAlgorithmState.java:28-99).
    * `edges` is the final adjacency — observable because several algorithms'
    * primary output is mutated edge values (AdamicAdar/Jaccard/MaxBMatching). */
  case class Result[K, VV, EV](
      vertices: RDD[(K, VV)],
      edges: RDD[(K, OutEdge[K, EV])],
      superstep: Int,
      runningTimeMs: Long,
      aggregates: Map[String, Any],
      state: String)(
      private val release: () => Unit) {
    /** Unpersist the runtime's cached state (final carrier + adjacency).
      * Call after materializing everything derived from vertices/edges —
      * long sessions running many algorithms otherwise accumulate cached
      * blocks until LRU pressure. */
    def unpersistState(): Unit = release()
  }

  /** Executor-side aggregator handle for the pre/postSuperstep hooks:
    * `apply(name)` reads the PREVIOUS superstep's merged value and
    * `aggregate(name, value)` CONTRIBUTES to this superstep's merge —
    * reference parity with the Aggregators handle the hooks receive
    * (ComputeFunction.java preSuperstep/postSuperstep). Contributions buffer
    * in the task and ride the partition's last vertex row into the
    * superstep's aggregator fold, so they merge exactly once per task
    * attempt that fully drains (an empty partition's hook contributions are
    * dropped, like a reference stream task with no assigned partitions). */
  final class HookContext private[pregel] (
      prev: String => Any,
      merges: Map[String, (Any, Any) => Any]) extends (String => Any) with Serializable {
    private[pregel] val contribs = mutable.HashMap.empty[String, Any]
    def apply(name: String): Any = prev(name)
    def aggregate(name: String, value: Any): Unit =
      contribs(name) = contribs.get(name).map(merges(name)(_, value)).getOrElse(value)
  }

  /** Registered aggregator slot (PregelComputation.java:921-939). */
  private[pregel] case class AggSlot(agg: Aggregator[Any], persistent: Boolean)

  /** Driver-side registration/halt callback (ComputeFunction init/masterCompute). */
  final class MasterCallback private[pregel] (
      private[pregel] val slots: mutable.LinkedHashMap[String, AggSlot],
      private[pregel] var current: Map[String, Any]) {
    private[pregel] var halted = false
    def registerAggregator[T](name: String, agg: Aggregator[T], persistent: Boolean = false): Unit =
      slots(name) = AggSlot(agg.asInstanceOf[Aggregator[Any]], persistent)
    def getAggregatedValue[T](name: String): T =
      current.getOrElse(name, slots(name).agg.zero).asInstanceOf[T]
    def setAggregatedValue[T](name: String, value: T): Unit =
      current = current.updated(name, value)
    def haltComputation(): Unit = halted = true
  }

  /** Per-vertex callback handed to compute()
    * (reference ComputeFunction.Callback, ComputeFunction.java:183-268).
    *
    * Edge mutations are READ-YOUR-WRITES within the same compute() call: the
    * reference's callback writes the adjacency store in place and the edges
    * iterable re-reads the store on every iteration (PregelComputation.java
    * :756-764) — algorithms like MaxBMatching rely on seeing processUpdates'
    * INCLUDED states during the same superstep's sendUpdates. */
  final class Callback[K, VV, EV, M] private[pregel] (
      private[pregel] val adj: mutable.LinkedHashMap[K, EV],
      private[pregel] val aggValues: Map[String, Any],
      private[pregel] val zeros: Map[String, Any],
      private[pregel] val merges: Map[String, (Any, Any) => Any]) {
    private[pregel] var newValue: Option[VV] = None
    private[pregel] var halt = false
    private[pregel] var mutated = false
    private[pregel] val msgs = mutable.ArrayBuffer.empty[(K, M)]
    private[pregel] val aggContribs = mutable.HashMap.empty[String, Any]

    def sendMessageTo(target: K, message: M): Unit = msgs += ((target, message))
    def setNewVertexValue(value: VV): Unit = newValue = Some(value)
    def voteToHalt(): Unit = halt = true
    /** Graph mutation (ComputeFunction.java:222-247): in place, visible to
      * subsequent edge iteration within this compute() call. */
    def addEdge(target: K, value: EV): Unit = { adj(target) = value; mutated = true }
    def removeEdge(target: K): Unit = { adj.remove(target); mutated = true }
    def setNewEdgeValue(target: K, value: EV): Unit =
      if (adj.contains(target)) { adj(target) = value; mutated = true }
    /** Merged value from the PREVIOUS superstep (ComputeFunction.java:252-256). */
    def getAggregatedValue[T](name: String): T =
      aggValues.getOrElse(name, zeros(name)).asInstanceOf[T]
    /** Contribute to an aggregator for THIS superstep. */
    def aggregate[T](name: String, value: T): Unit = {
      val merged = aggContribs.get(name) match {
        case Some(prev) => merges(name)(prev, value)
        case None       => merges(name)(zeros(name), value)
      }
      aggContribs(name) = merged
    }
  }

  private case class VertexOut[K, VV, EV, M](
      value: VV,
      halted: Boolean,
      msgs: Seq[(K, M)],
      newAdj: Option[Adj[K, EV]],
      aggContribs: Map[String, Any])

  /**
   * Run `cf` until convergence (no active vertices), master halt, or
   * maxIterations (termination semantics of PregelComputation.java:448-460,
   * 564-579).
   *
   * @param initialMessage seeded to every vertex at superstep 0 (the
   *   PregelGraphAlgorithm constructor arg; e.g. PageRank's
   *   resetProb/(1-resetProb)). None → every vertex starts active with an
   *   empty inbox (PregelComputation.java:253-273).
   * @param onSuperstep progress callback on the driver after each finished
   *   superstep: (supersteps completed so far, ms since the run started).
   *   Lets a caller publish the live superstep while the run is in flight.
   */
  def run[K: ClassTag, VV: ClassTag, EV: ClassTag, M: ClassTag](
      spark: SparkSession,
      cf: ComputeFunction[K, VV, EV, M],
      vertices: RDD[(K, VV)],
      edges: RDD[(K, (K, EV))],
      configs: Map[String, Any] = Map.empty,
      initialMessage: Option[M] = None,
      maxIterations: Int = 30,
      numPartitions: Int = 0,
      checkpointInterval: Int = 10,
      onSuperstep: (Int, Long) => Unit = (_, _) => ()): Result[K, VV, EV] = {

    val t0 = System.currentTimeMillis()
    val n = if (numPartitions > 0) numPartitions else spark.sparkContext.defaultParallelism
    val part = new HashPartitioner(n)

    val slots = mutable.LinkedHashMap.empty[String, AggSlot]
    val master = new MasterCallback(slots, Map.empty)
    cf.init(configs, master)

    // The loop keeps ONE co-partitioned pair RDD per superstep — the
    // "carrier" — holding every vertex's (value, halted) plus that
    // superstep's outputs (messages, edge mutations, aggregator
    // contributions). The carrier doubles as the next superstep's state:
    // vertices without an inbox pass through untouched (same O(V) iterator
    // cost the old state-merge cogroup paid, but without a second job).
    //
    // Per superstep exactly ONE job runs: a 3-way narrow-except-messages
    // cogroup (prev carrier's value and halt vote ⊕ message shuffle ⊕
    // adjacency) whose action is the per-partition aggregator/termination
    // collect. Scheduling overhead, not compute, is the floor for small
    // supersteps — and at cluster scale fewer barriers per superstep is
    // strictly better too.
    //
    // Inputs already hash-partitioned into `n` parts (a prepared graph,
    // AlgorithmRegistry.Prepared) make the partitionBy and groupByKey below
    // narrow: superstep 0 then shuffles only its messages.
    var carrier: RDD[(K, VertexOut[K, VV, EV, M])] =
      vertices.partitionBy(part)
        .mapValues(v => VertexOut[K, VV, EV, M](v, halted = false, Nil, None, Map.empty))
        .persist(Pregel.LoopStorage)
    var adj: RDD[(K, Adj[K, EV])] = edges
      .groupByKey(part).mapValues(Adj(_)).persist(Pregel.LoopStorage)

    val initMsgs: Seq[M] = initialMessage.toSeq

    var superstep = 0
    var done = false
    var finalState = "CONVERGED"

    while (!done && superstep < maxIterations) {
      // Snapshot driver-side aggregator state for the executors.
      val zeros: Map[String, Any] = slots.map { case (k, s) => k -> s.agg.zero }.toMap
      val merges: Map[String, (Any, Any) => Any] =
        slots.map { case (k, s) => k -> ((a: Any, b: Any) => s.agg.merge(a, b)) }.toMap
      val prevAggs = master.current
      val step = superstep
      val fn = cf
      val first = superstep == 0
      val initial = initMsgs

      // Messages grouped by destination — the ONE shuffle per superstep
      // (replaces the reference's workSet topic round-trip through Kafka
      // brokers, PregelComputation.java:797-801); map-side combined into
      // per-destination buffers (the reference ships uncombined lists,
      // PregelComputation.java:751-753).
      val sent: RDD[(K, mutable.ArrayBuffer[M])] = carrier
        .flatMap(_._2.msgs)
        .aggregateByKey(mutable.ArrayBuffer.empty[M], part)(
          (buf, m) => { buf += m; buf }, (a, b) => { a ++= b; a })
      // Only (value, halted) of the previous superstep enters the cogroup:
      // its messages already left through `sent`, and the cogroup's
      // in-memory map re-estimates its size by walking every object it
      // holds, many times per task.
      val state: RDD[(K, (VV, Boolean))] = carrier.mapValues(o => (o.value, o.halted))

      val prevCarrier = carrier
      val out: RDD[(K, VertexOut[K, VV, EV, M])] = state
        .cogroup(sent, adj, part)
        .mapPartitions({ partIt =>
          // per-task hooks around the partition's compute calls
          // (ComputeFunction.java preSuperstep/postSuperstep; the reference
          // runs them once per stream task per superstep). The function
          // instance is task-local (closure deserialization), so hook state
          // mutated here is visible to this task's compute() calls only.
          // Hooks re-fire if a persisted carrier partition is recomputed
          // (cache eviction, task retry) — they must be idempotent, exactly
          // like reference hooks under Kafka Streams task restoration.
          val hookCtx = new HookContext(name => prevAggs.getOrElse(name, zeros(name)), merges)
          fn.preSuperstep(step, hookCtx)
          val mapped = partIt.flatMap { case (id, (sIt, mIt, aIt)) =>
          if (sIt.isEmpty) Iterator.empty // message to a nonexistent vertex: drop
          else {
          val (prevValue, prevHalted) = sIt.head
          val inboxOpt: Option[Iterable[M]] =
            if (first) Some(initial)
            else if (mIt.nonEmpty) Some(mIt.head)
            // a vertex that did not vote to halt stays active with an empty
            // inbox (PregelComputation.java:764-770)
            else if (!prevHalted) Some(Nil)
            else None
          Iterator.single(inboxOpt match {
            case None =>
              // skipped vertex: carry (value, halted) forward untouched
              (id, VertexOut[K, VV, EV, M](prevValue, prevHalted, Nil, None, Map.empty))
            case Some(inbox) =>
              // live adjacency map: callback mutations are visible to every
              // fresh iteration of `edgesView` (reference store semantics)
              val adjMap = mutable.LinkedHashMap.empty[K, EV]
              if (aIt.nonEmpty) aIt.head.foreach((t, v) => adjMap(t) = v)
              val edgesView: Iterable[OutEdge[K, EV]] = new Iterable[OutEdge[K, EV]] {
                // snapshot per iterator() call, like the reference's per-call
                // store read — in-flight iteration is stable under mutation
                def iterator: Iterator[OutEdge[K, EV]] =
                  adjMap.toSeq.iterator.map { case (t, v) => OutEdge(t, v) }
              }
              val cb = new Callback[K, VV, EV, M](adjMap, prevAggs, zeros, merges)
              fn.compute(step, id, prevValue, inbox, edgesView, cb)
              (id, VertexOut(
                cb.newValue.getOrElse(prevValue), cb.halt,
                cb.msgs.toSeq,
                if (cb.mutated) Some(Adj(adjMap))
                else None,
                cb.aggContribs.toMap))
          })
          }
          }
          // One-element lookahead so postSuperstep fires after the LAST
          // compute() and its hook contributions ride the final row's
          // aggContribs into the superstep's aggregator fold. A task
          // completion listener guarantees postSuperstep even if a consumer
          // short-circuits the iterator (contributions are only folded on
          // the normal full-drain path).
          new Iterator[(K, VertexOut[K, VV, EV, M])] {
            private var postFired = false
            private def firePost(): Unit =
              if (!postFired) { postFired = true; fn.postSuperstep(step, hookCtx) }
            Option(org.apache.spark.TaskContext.get())
              .foreach(_.addTaskCompletionListener[Unit](_ => firePost()))
            private var pending: (K, VertexOut[K, VV, EV, M]) =
              if (mapped.hasNext) mapped.next() else { firePost(); null }
            def hasNext: Boolean = pending != null
            def next(): (K, VertexOut[K, VV, EV, M]) = {
              if (pending == null) throw new NoSuchElementException
              val cur = pending
              if (mapped.hasNext) { pending = mapped.next(); cur }
              else {
                pending = null
                firePost()
                if (hookCtx.contribs.isEmpty) cur
                else {
                  val folded = hookCtx.contribs.foldLeft(cur._2.aggContribs) {
                    case (acc, (k, v)) =>
                      acc.updated(k, acc.get(k).map(merges(k)(_, v)).getOrElse(v))
                  }
                  (cur._1, cur._2.copy(aggContribs = folded))
                }
              }
            }
          }
        }, preservesPartitioning = true).persist(Pregel.LoopStorage)

      if (superstep > 0 && superstep % checkpointInterval == 0) {
        // reliable when a checkpoint dir is configured (survives executor
        // loss); executor-local truncation otherwise
        if (spark.sparkContext.getCheckpointDir.isDefined) out.checkpoint()
        else out.localCheckpoint()
      }

      // ---- THE superstep job: materializes `out` (and its localCheckpoint
      // when due) and brings back per-partition aggregator merges plus the
      // termination counters (replaces the reference's ZK aggregator
      // persistence + partition-activation tracking,
      // PregelComputation.java:860-905) ------------------------------------
      val perPartition = out.mapPartitions { it =>
        val acc = mutable.HashMap.empty[String, Any]
        var mut = false
        var nMsgs = 0L
        var nLive = 0L
        it.foreach { case (_, o) =>
          if (o.newAdj.isDefined) mut = true
          if (o.msgs.nonEmpty) nMsgs += o.msgs.size
          if (!o.halted) nLive += 1
          o.aggContribs.foreach { case (k, v) =>
            acc(k) = acc.get(k).map(merges(k)(_, v)).getOrElse(v)
          }
        }
        Iterator.single((acc.toMap, mut, nMsgs, nLive))
      }.collect()
      val anyMutation = perPartition.exists(_._2)
      val active = perPartition.map(p => p._3 + p._4).sum
      val mergedAggs: Map[String, Any] =
        perPartition.map(_._1).foldLeft(Map.empty[String, Any]) { (m, pm) =>
          pm.foldLeft(m) { case (acc, (k, v)) =>
            acc.updated(k, acc.get(k).map(merges(k)(_, v)).getOrElse(v))
          }
        }

      // Persistent aggregators fold the previous value in
      // (PregelComputation.java:345-355,921-939).
      master.current = slots.iterator.map { case (name, slot) =>
        val stepVal = mergedAggs.getOrElse(name, slot.agg.zero)
        val v =
          if (slot.persistent) slot.agg.merge(
            prevAggs.getOrElse(name, slot.agg.zero), stepVal)
          else stepVal
        name -> v
      }.toMap

      // ---- edge mutations (rebuild adjacency only when present) -----------
      // Mutated vertices ship their full post-compute adjacency; others keep
      // theirs — co-partitioned, narrow. Materialized in its own small job
      // (mutation supersteps only) so the old adjacency can be released.
      if (anyMutation) {
        val muts = out.filter(_._2.newAdj.isDefined).mapValues(_.newAdj.get)
        val newAdj = adj.fullOuterJoin(muts, part).mapValues {
          case (_, Some(updated)) => updated
          case (oldOpt, None)     => oldOpt.getOrElse(Adj[K, EV](Nil))
        }.persist(Pregel.LoopStorage)
        if (superstep > 0 && superstep % checkpointInterval == 0) {
          if (spark.sparkContext.getCheckpointDir.isDefined) newAdj.checkpoint()
          else newAdj.localCheckpoint()
        }
        // materialize BEFORE unpersisting the parent (localCheckpoint
        // truncation safety), then release the old adjacency
        newAdj.foreachPartition(_ => ())
        adj.unpersist(false)
        adj = newAdj
      }

      // masterCompute between supersteps (PregelComputation.java:564-607).
      cf.masterCompute(superstep + 1, master)

      prevCarrier.unpersist(false)
      carrier = out
      superstep += 1
      onSuperstep(superstep, System.currentTimeMillis() - t0)

      if (master.halted) { done = true; finalState = "HALTED" }
      else if (active == 0) { done = true; finalState = "CONVERGED" }
    }
    if (!done) finalState = "MAX_ITERATIONS"

    val finalCarrier = carrier
    val finalAdj = adj
    Result(carrier.mapValues(_.value),
      adj.flatMap { case (src, out) => out.iterator.map(e => (src, e)) },
      superstep, System.currentTimeMillis() - t0,
      master.current, finalState)(
      () => { finalCarrier.unpersist(false); finalAdj.unpersist(false) })
  }
}

/**
 * User contract for vertex-centric algorithms — 1:1 with the reference's
 * ComputeFunction (pregel/ComputeFunction.java:45-98): all 16 shipped
 * algorithms implement exactly this.
 */
trait ComputeFunction[K, VV, EV, M] extends Serializable {
  /** Register aggregators / read configs (ComputeFunction.java:52-58). */
  def init(configs: Map[String, Any], cb: Pregel.MasterCallback): Unit = {}
  /** Driver hook between supersteps; may halt (ComputeFunction.java:66-75). */
  def masterCompute(superstep: Int, cb: Pregel.MasterCallback): Unit = {}
  /** Executor-side hook before a task's first compute() of the superstep
    * (ComputeFunction.java preSuperstep); `aggregates(name)` reads the
    * previous superstep's merged values and `aggregates.aggregate(name, v)`
    * contributes to this superstep's merge (reference Aggregators-handle
    * parity). Instance state set here is task-local — use it to hoist
    * per-superstep work out of compute(). MUST be idempotent: the hook
    * re-fires when a persisted partition is recomputed (retry/eviction). */
  def preSuperstep(superstep: Int, aggregates: Pregel.HookContext): Unit = {}
  /** Executor-side hook after a task's last compute() of the superstep
    * (ComputeFunction.java postSuperstep); may also contribute via
    * `aggregates.aggregate`. Guaranteed to fire (task completion listener)
    * even if the partition iterator is short-circuited, though
    * contributions only fold in on the normal full-drain path. MUST be
    * idempotent, like preSuperstep. */
  def postSuperstep(superstep: Int, aggregates: Pregel.HookContext): Unit = {}
  /** The vertex program (ComputeFunction.java:85-98). */
  def compute(
      superstep: Int,
      id: K,
      value: VV,
      messages: Iterable[M],
      edges: Iterable[Pregel.OutEdge[K, EV]],
      cb: Pregel.Callback[K, VV, EV, M]): Unit
}
