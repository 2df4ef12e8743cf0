package graft.pregel

import scala.collection.mutable
import scala.reflect.ClassTag

import org.apache.spark.{HashPartitioner, Partitioner}
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
 * driver loop over per-partition blocks (the layout GraphX uses):
 *
 *  - adjacency: one CSR block per partition (vertex ids, offsets, targets,
 *    edge values — primitive arrays for Long ids and Double weights), built
 *    once per run. Inputs already hash-partitioned into `numPartitions`
 *    parts (AlgorithmRegistry.Prepared) build it without a shuffle.
 *  - state: one block per partition — values and halt bits by position,
 *    the superstep's outgoing messages already bucketed by destination
 *    partition, mutated out-edges, and the partition's aggregator merge.
 *
 *   per superstep: the previous state's outboxes → ONE shuffle of at most
 *   n × n message blocks keyed by destination partition (one message per
 *   target and source partition with a combiner) → zipPartitions
 *   (state, adjacency, inbox blocks) → compute per vertex → next state
 *   block; one collect of per-partition aggregates and termination counts.
 *
 * The message shuffle carries no aggregator and the zip no cogroup, so no
 * per-record hash map (ExternalAppendOnlyMap) or size sampling sits on the
 * superstep path. The inbox is merged through a partition-local id → index
 * map in source-partition order, so every vertex sees its messages in the
 * same order on every run and floating-point folds are reproducible. Edge
 * mutations swap the mutated rows into a new adjacency block (narrow zip,
 * built by the next superstep's job). Lineage is cut every
 * `checkpointInterval` supersteps (the RocksDB solution-set store analog):
 * localCheckpoint by default (fast, executor-local), or a RELIABLE
 * `checkpoint()` to the configured `sc.setCheckpointDir` when one is set —
 * at cluster scale an executor loss under localCheckpoint kills the job, so
 * long-running production runs should set a checkpoint dir (HDFS/S3) and
 * take the write cost.
 *
 * This layer keeps the reference's exact user contract — ComputeFunction with
 * voteToHalt, registered (persistent) aggregators, masterCompute, and in-flight
 * edge mutation (ComputeFunction.java:183-268) — which GraphX's Pregel cannot
 * express. A function that mixes in [[Combining]] has its messages folded
 * per target before the shuffle. The REST registry runs the library ports
 * of graft.algos.compute on it, and GraphAlgorithms runs wcc, kCore,
 * pageRank, HyperBall and kTruss on it (graft.algos.BlockLoops); bfs,
 * sssp, mssp and label propagation there are still DataFrame loops.
 *
 * Every function the loop passes to an RDD op is a named class (Tasks.scala)
 * and its one action per superstep goes through `Tasks.collect`: Spark's
 * closure cleaner re-reads and ASM-parses the declaring class's bytecode for
 * every lambda it is handed (`Pregel$`, and `RDD`/`SparkContext` for the
 * lambdas `collect` wraps), which cost the driver more per superstep than a
 * small superstep's tasks do; a named class it skips at once.
 *
 * It is implemented on RDDs rather than Dataset[T] deliberately: K/VV/EV/M
 * are arbitrary user types (the reference serializes them with Kryo too,
 * utils/KryoSerde.java:56), per-vertex compute is imperative, and the
 * positional zip of state and adjacency needs partition-for-partition
 * alignment, which only the RDD layer exposes.
 */
object Pregel {

  /** Storage level for the loop's cached blocks (state, adjacency):
    * serialized, spilling to disk. A block is one record per partition, but
    * its value and message arrays can hold per-vertex object graphs
    * (SemiClustering's cluster sets, member lists in messages); serialized,
    * the cache holds each block as bytes that are sized in one step and
    * spill whole, instead of deserialized object graphs that starved
    * execution memory at R-MAT drill scale. One deserialization pass per
    * block per superstep is the price. */
  private[pregel] val LoopStorage = StorageLevel.MEMORY_AND_DISK_SER

  /** Per-vertex outgoing edge (reference EdgeWithValue.java:23-74). */
  case class OutEdge[K, EV](target: K, value: EV)

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
      private val release: () => Unit,
      private val releaseEdges: () => Unit = () => ()) {
    /** Unpersist the runtime's cached state (final state + adjacency blocks).
      * Call after materializing everything derived from vertices/edges —
      * long sessions running many algorithms otherwise accumulate cached
      * blocks until LRU pressure. */
    def unpersistState(): Unit = release()
    /** Unpersist only the adjacency blocks, for a caller that keeps reading
      * `vertices` (the final state blocks stay cached) but not `edges`. */
    def unpersistEdges(): Unit = releaseEdges()
  }

  /** Executor-side aggregator handle for the pre/postSuperstep hooks:
    * `apply(name)` reads the PREVIOUS superstep's merged value and
    * `aggregate(name, value)` CONTRIBUTES to this superstep's merge —
    * reference parity with the Aggregators handle the hooks receive
    * (ComputeFunction.java preSuperstep/postSuperstep). Contributions buffer
    * in the task and fold into the partition's merge after postSuperstep,
    * after every vertex's, so they merge exactly once per task attempt. */
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
    * INCLUDED states during the same superstep's sendUpdates. Edges are read
    * straight from the adjacency block until the first mutation copies the
    * vertex's row into a keyed map. */
  final class Callback[K, VV, EV, M] private[pregel] (
      block: AdjBlock[K, EV],
      row: Int,
      out: Outbox[K, M],
      private[pregel] val aggValues: Map[String, Any],
      private[pregel] val zeros: Map[String, Any],
      private[pregel] val merges: Map[String, (Any, Any) => Any]) {
    private[pregel] var newValue: Option[VV] = None
    private[pregel] var halt = false
    private[pregel] var mutated = false
    private[pregel] var aggContribs: mutable.HashMap[String, Any] = null

    private def from: Int = if (row < 0) 0 else block.offsets(row)
    private def until: Int = if (row < 0) 0 else block.offsets(row + 1)
    private def rowMap(): mutable.LinkedHashMap[K, EV] = {
      val m = mutable.LinkedHashMap.empty[K, EV]
      var j = from
      while (j < until) { m(block.targets(j)) = block.values(j); j += 1 }
      m
    }
    /** The vertex's out-edges as a live keyed map once mutated (or from the
      * start for a row that repeats a target); null while unmutated. */
    private[pregel] var adj: mutable.LinkedHashMap[K, EV] =
      if (row >= 0 && block.dups.get(row)) rowMap() else null
    private def edgeMap(): mutable.LinkedHashMap[K, EV] = {
      if (adj == null) adj = rowMap()
      adj
    }

    /** What compute() sees as `edges`: each iterator() call snapshots the
      * current edges, like the reference's per-call store read — in-flight
      * iteration is stable under mutation. */
    private[pregel] val edges: Iterable[OutEdge[K, EV]] =
      new scala.collection.AbstractIterable[OutEdge[K, EV]] {
      def iterator: Iterator[OutEdge[K, EV]] =
        if (adj != null) adj.toSeq.iterator.map { case (t, v) => OutEdge(t, v) }
        else Iterator.range(from, until).map(j => OutEdge(block.targets(j), block.values(j)))
      override def knownSize: Int = if (adj != null) adj.size else until - from
    }

    def sendMessageTo(target: K, message: M): Unit = out.add(target, message)
    def setNewVertexValue(value: VV): Unit = newValue = Some(value)
    def voteToHalt(): Unit = halt = true
    /** Graph mutation (ComputeFunction.java:222-247): in place, visible to
      * subsequent edge iteration within this compute() call. */
    def addEdge(target: K, value: EV): Unit = { edgeMap()(target) = value; mutated = true }
    def removeEdge(target: K): Unit = { edgeMap().remove(target); mutated = true }
    def setNewEdgeValue(target: K, value: EV): Unit =
      if (edgeMap().contains(target)) { adj(target) = value; mutated = true }
    /** Merged value from the PREVIOUS superstep (ComputeFunction.java:252-256). */
    def getAggregatedValue[T](name: String): T =
      aggValues.getOrElse(name, zeros(name)).asInstanceOf[T]
    /** Contribute to an aggregator for THIS superstep. */
    def aggregate[T](name: String, value: T): Unit = {
      if (aggContribs == null) aggContribs = mutable.HashMap.empty
      aggContribs(name) = merges(name)(aggContribs.getOrElse(name, zeros(name)), value)
    }
  }

  /** One superstep over one partition: the body of the superstep's zip.
    * `initial` is every vertex's inbox at superstep 0, null afterwards. */
  private[pregel] final class Step[K: ClassTag, VV, EV: ClassTag, M: ClassTag](
      fn: ComputeFunction[K, VV, EV, M],
      superstep: Int,
      initial: Seq[M],
      prevAggs: Map[String, Any],
      zeros: Map[String, Any],
      merges: Map[String, (Any, Any) => Any],
      part: Partitioner) extends Serializable {

    /** The function's message combiner, when it has one (see [[Combining]]). */
    private val combiner: Combining[M] = fn match {
      case c: Combining[M @unchecked] => c
      case _ => null
    }

    private def fold(acc: mutable.HashMap[String, Any], name: String, v: Any): Unit =
      acc(name) = acc.get(name).map(merges(name)(_, v)).getOrElse(v)

    /** The inbox as CSR over state positions: vertex i's messages are
      * msgs(start(i) until start(i + 1)), source partitions in ascending
      * order — whatever order the shuffle read returned the blocks in. A
      * message to an id that is not a vertex here is dropped. */
    private def merge(n: Int, index: IdIndex[K],
                      blocks: Iterator[(Int, (Int, MsgBlock[K, M]))]): (Array[Int], Array[M]) = {
      val bySource = blocks.map(_._2).toArray.sortBy(_._1).map(_._2)
      val at = new Array[Int](bySource.iterator.map(_.targets.length).sum)
      val start = new Array[Int](n + 1)
      var j = 0
      bySource.foreach { b =>
        var k = 0
        while (k < b.targets.length) {
          val p = index(b.targets(k))
          at(j) = p
          if (p >= 0) start(p + 1) += 1
          j += 1; k += 1
        }
      }
      var i = 0
      while (i < n) { start(i + 1) += start(i); i += 1 }
      val fill = java.util.Arrays.copyOf(start, n)
      val msgs = new Array[M](start(n))
      j = 0
      bySource.foreach { b =>
        var k = 0
        while (k < b.msgs.length) {
          val p = at(j)
          if (p >= 0) { msgs(fill(p)) = b.msgs(k); fill(p) += 1 }
          j += 1; k += 1
        }
      }
      (start, msgs)
    }

    def apply(s: StateBlock[K, VV, EV, M], adj: AdjBlock[K, EV],
              inbox: Iterator[(Int, (Int, MsgBlock[K, M]))]): StateBlock[K, VV, EV, M] = {
      val ids = s.ids
      val n = ids.length
      val rows = adj.rowsOf(ids) // null: state position == adjacency row
      val (start, msgs) = merge(n, if (rows == null) adj.index else IdIndex.of(ids), inbox)
      val inboxes = scala.collection.immutable.ArraySeq.unsafeWrapArray(msgs).view
      val values = s.values.clone()
      val halted = s.halted.clone().asInstanceOf[java.util.BitSet]
      val out = new Outbox[K, M](part, combiner)
      val mutated = mutable.ArrayBuilder.make[Int]
      val newEdges = mutable.ArrayBuffer.empty[Adj[K, EV]]
      val aggs = mutable.HashMap.empty[String, Any]
      var live = 0L
      // per-task hooks around the partition's compute calls
      // (ComputeFunction.java preSuperstep/postSuperstep; the reference runs
      // them once per stream task per superstep). The function instance is
      // task-local (closure deserialization), so hook state mutated here is
      // visible to this task's compute() calls only. Hooks re-fire if a
      // cached state block is recomputed (cache loss, task retry) — they
      // must be idempotent, exactly like reference hooks under Kafka Streams
      // task restoration.
      val hooks = new HookContext(name => prevAggs.getOrElse(name, zeros(name)), merges)
      fn.preSuperstep(superstep, hooks)
      var i = 0
      while (i < n) {
        val messages: Iterable[M] =
          if (initial != null) initial
          else if (start(i + 1) > start(i)) inboxes.slice(start(i), start(i + 1))
          // a vertex that did not vote to halt stays active with an empty
          // inbox (PregelComputation.java:764-770)
          else if (!s.halted.get(i)) Nil
          else null // halted, no mail: skipped, (value, halted) carried over
        if (messages != null) {
          val cb = new Callback[K, VV, EV, M](adj, if (rows == null) i else rows(i), out,
            prevAggs, zeros, merges)
          fn.compute(superstep, ids(i), values(i), messages, cb.edges, cb)
          cb.newValue.foreach(values(i) = _)
          halted.set(i, cb.halt)
          if (!cb.halt) live += 1
          if (cb.mutated) { mutated += i; newEdges += Adj(cb.adj) }
          if (cb.aggContribs != null) cb.aggContribs.foreach { case (k, v) => fold(aggs, k, v) }
        }
        i += 1
      }
      fn.postSuperstep(superstep, hooks)
      hooks.contribs.foreach { case (k, v) => fold(aggs, k, v) }
      new StateBlock(if (rows == null) adj.ids else ids, values, halted, out.blocks(),
        mutated.result(), newEdges.toArray, aggs.toMap, out.sent + live)
    }
  }

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

    def cut(rdd: RDD[_]): Unit =
      // reliable when a checkpoint dir is configured (survives executor
      // loss); executor-local truncation otherwise
      if (spark.sparkContext.getCheckpointDir.isDefined) rdd.checkpoint()
      else rdd.localCheckpoint()

    // Inputs already hash-partitioned into `n` parts (a prepared graph,
    // AlgorithmRegistry.Prepared) make both partitionBy calls no-ops, so
    // building the blocks shuffles nothing. The adjacency takes its vertex
    // ids from the initial state block, so the two start out aligned.
    var state: RDD[StateBlock[K, VV, EV, M]] = vertices.partitionBy(part)
      .mapPartitions(new InitialState[K, VV, EV, M], preservesPartitioning = true)
      .persist(LoopStorage)
    var adj: RDD[AdjBlock[K, EV]] = state
      .zipPartitions(edges.partitionBy(part), preservesPartitioning = true)(new BuildAdj[K, VV, EV, M])
      .persist(LoopStorage)
    // an adjacency swapped in after a mutation superstep is built (and cut,
    // when due) by the next superstep's job; the one it replaces is released
    // after that job
    var retired: List[RDD[_]] = Nil

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
      val step = new Step[K, VV, EV, M](cf, superstep,
        if (superstep == 0) initMsgs else null, prevAggs, zeros, merges, part)

      val prev = state
      val next: RDD[StateBlock[K, VV, EV, M]] =
        if (superstep == 0) prev.zipPartitions(adj, preservesPartitioning = true)(new FirstStep(step))
        else {
          // THE shuffle of the superstep (replaces the reference's workSet
          // topic round-trip through Kafka brokers,
          // PregelComputation.java:797-801): each partition's outbox goes
          // out as one block per destination partition, tagged with its
          // source partition. `part` routes a destination partition index
          // (an Int in [0, n)) to itself.
          val inbox = prev.mapPartitionsWithIndex(new Outgoing[K, VV, EV, M]).partitionBy(part)
          prev.zipPartitions(adj, inbox, preservesPartitioning = true)(new NextStep(step))
        }
      next.persist(LoopStorage)
      val due = superstep > 0 && superstep % checkpointInterval == 0
      if (due) cut(next)

      // ---- THE superstep job: builds (and cuts, when due) the next state
      // and the adjacency, and brings back per-partition aggregator merges
      // plus the termination counters (replaces the reference's ZK
      // aggregator persistence + partition-activation tracking,
      // PregelComputation.java:860-905). The job ends in a zip of both, so
      // checkpointing reaches a swapped-in adjacency even when `next` is
      // itself marked for a cut in the same job. ------------------------------
      val summaries = Tasks.collect(next.zipPartitions(adj)(new Summary[K, VV, EV, M]))
      retired.foreach(_.unpersist(false))
      retired = Nil
      val active = summaries.map(_._3).sum
      val mergedAggs: Map[String, Any] =
        summaries.map(_._1).foldLeft(Map.empty[String, Any]) { (m, pm) =>
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

      // ---- edge mutations: a narrow zip swaps the mutated rows in --------
      if (summaries.exists(_._2)) {
        val swapped = adj.zipPartitions(next, preservesPartitioning = true)(new SwapRows[K, VV, EV, M])
          .persist(LoopStorage)
        if (due) cut(swapped)
        retired = List(adj)
        adj = swapped
      }

      // masterCompute between supersteps (PregelComputation.java:564-607).
      cf.masterCompute(superstep + 1, master)

      prev.unpersist(false)
      state = next
      superstep += 1
      onSuperstep(superstep, System.currentTimeMillis() - t0)

      if (master.halted) { done = true; finalState = "HALTED" }
      else if (active == 0) { done = true; finalState = "CONVERGED" }
    }
    if (!done) finalState = "MAX_ITERATIONS"

    val finalBlocks = state
    val finalAdj = adj
    val held = retired
    val releaseAdj = () => { finalAdj.unpersist(false); held.foreach(_.unpersist(false)) }
    Result(
      state.mapPartitions(new VertexRows[K, VV, EV, M], preservesPartitioning = true),
      adj.flatMap(new EdgeRows[K, EV]),
      superstep, System.currentTimeMillis() - t0,
      master.current, finalState)(
      () => { finalBlocks.unpersist(false); releaseAdj() }, releaseAdj)
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
    * re-fires when a cached state block is recomputed (retry/eviction). */
  def preSuperstep(superstep: Int, aggregates: Pregel.HookContext): Unit = {}
  /** Executor-side hook after a task's last compute() of the superstep
    * (ComputeFunction.java postSuperstep); may also contribute via
    * `aggregates.aggregate`; those contributions fold into the
    * partition's merge after every vertex's. MUST be idempotent, like
    * preSuperstep. */
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

/**
 * A message combiner a [[ComputeFunction]] may mix in when its compute()
 * only folds its inbox with an associative `combine` (a min, a sum, a
 * register max). A task then ships at most one message per (destination
 * partition, target): messages to one target fold into the first one sent
 * to it, in send order, and the receiver sees one per source partition, in
 * source-partition order, so floating-point folds stay reproducible. A
 * function without it gets every message, as sent.
 */
trait Combining[M] {
  def combine(a: M, b: M): M
}
