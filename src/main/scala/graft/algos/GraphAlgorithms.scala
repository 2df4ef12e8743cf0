package graft.algos

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.core.KGraph

/**
 * DataFrame-native implementations of the reference's Pregel algorithm library
 * (kafka-graphs-core/src/main/java/io/kgraph/library) — the performance
 * path. Each algorithm is a driver loop over declarative DataFrame transforms:
 * Catalyst plans every superstep (pushdown, AQE, broadcast when a side is
 * small) and Tungsten codegens the per-row work; messages are pre-aggregated
 * map-side in the same shuffle (min/sum combiners — the reference ships whole
 * message lists with no combiner, PregelComputation.java:751-753).
 *
 * Scale design shared by all loops:
 *  - ONE shuffle per superstep (message groupBy on destination); the
 *    state-update join reuses the aggregation's hash partitioning.
 *  - `localCheckpoint` per iteration cuts lineage (no stack-overflow plans at
 *    superstep 50+) and the convergence `count()` reuses that materialization.
 *  - frontier-based variants (BFS/SSSP/WCC) only send from vertices that
 *    improved last round, so late supersteps touch a tiny fraction of a
 *    100 TB graph rather than every vertex.
 */
object GraphAlgorithms {

  /** Materialize and cut lineage. localCheckpoint stores the RDD blocks
    * itself — do NOT also persist() the source plan (that would leave an
    * orphan cache entry per iteration). Eager by default; `cpLazy` defers
    * materialization to the caller's next action so one job does both
    * (used inside the iterative loops where a count() follows immediately). */
  private def cp(df: DataFrame): DataFrame = df.localCheckpoint(true)
  /** cp at SERIALIZED storage — for loop-carried GRAPH-SIZED checkpoints
    * whose blocks stay pinned while later stages read them: deserialized
    * row objects cost ~2× the bytes and fragment an 8 g heap enough to
    * flip marginal scale-22 rounds into GCLocker OOMs (measured on the
    * k-truss canonical-edge and sweep checkpoints). */
  private def cpSer(df: DataFrame): DataFrame =
    df.localCheckpoint(true,
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
  private def cpLazy(df: DataFrame): DataFrame = df.localCheckpoint(false)

  /** Stats barrier for LOOP-carried checkpoints. localCheckpoint cuts the
    * execution lineage but carries the origin plan's size ESTIMATE onto the
    * new leaf; size-only estimation multiplies child sizes at each join, so
    * a loop whose round-r+1 plan joins k relations derived from round r's
    * checkpoint grows the carried BigInt to k^r digits — at k ≈ 15 (the
    * k-truss support plan) the PLANNER stalls for minutes in BigInteger
    * multiplication by round ~6 (observed: single-core Toom-Cook grind in
    * `canBroadcastBySize`, zero tasks). Wrapping the loop variable resets
    * the estimate to the constant default, making per-round planning cost
    * flat; broadcast decisions inside the loops don't regress because the
    * adjacency/degree joins carry explicit count-based hints
    * (adjSide/degSide). See org.apache.spark.sql.graft.StatsBarrier. */
  private def barrier(df: DataFrame): DataFrame =
    org.apache.spark.sql.graft.StatsBarrier.freshLeaf(df)

  /** Dev hook (GRAFT_EXPLAIN_ROUNDS=1): print the FORMATTED plan of one
    * loop-internal step per tag — the per-round plan evidence the final
    * checkpointed leaf of an iterative algorithm cannot show (committed
    * under plans/r16 as loop_*_{before,after}.txt). */
  private val explainedTags =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  /** `df` is BY-NAME: when the env hook is unset (every production run)
    * the step plan is never even constructed — the analyzer work of
    * building a throwaway DataFrame per loop otherwise runs on every
    * invocation (ADVICE r16 #2). */
  private def dbgExplain(tag: String, df: => DataFrame): Unit =
    if (sys.env.contains("GRAFT_EXPLAIN_ROUNDS") && explainedTags.add(tag))
      println(s"=== ROUND PLAN [$tag] ===\n" + df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))

  /** Materialize a message relation hash-partitioned AND sorted by the
    * per-round join key, ONCE: every superstep's edges⋈frontier join then
    * re-shuffles (and re-sorts) only the (shrinking) frontier side instead
    * of the full edge relation per round — the guide §2.4 "two operations
    * keyed the same way share one exchange" rule applied across loop
    * iterations. AQE is disabled around this ONE eager materialization:
    * under an AdaptiveSparkPlan, Dataset.localCheckpoint records
    * UnknownPartitioning on its LogicalRDD (the final partitioning isn't
    * known when the leaf is captured — verified in the committed
    * loop_*_before plan dumps), which silently discards the layout and
    * restores the per-round exchange; the non-adaptive plan captures
    * hashpartitioning(key, session shuffle partitions), exactly the
    * number later frontier exchanges co-partition to. */
  private def cpKeyed(edges: DataFrame, key: String): DataFrame = {
    // SIZE GATE (VERDICT r16 item 3): on a toy graph the eager
    // repartition+sort+checkpoint is pure overhead — the per-round
    // edges⋈frontier join broadcasts the (even smaller) frontier side
    // anyway, so the keyed layout buys nothing and its fixed cost showed
    // up as a systematic 15–50% regression across the whole frontier
    // family at sf0.1. Below the (conf-parameterized) size estimate we
    // keep the r15 shape: a plain eager checkpoint. The estimate is the
    // optimizer's sizeInBytes — for the parquet-backed gate graphs and
    // the generator-backed drill graphs it is ballpark-correct, and a
    // wrong guess only costs speed in one direction (a huge graph
    // mis-read as small runs the r15 per-round-exchange plan; a small one
    // mis-read as huge pays one needless sort), never correctness.
    val minBytes = edges.sparkSession.conf
      .get("spark.graft.keyedCheckpoint.minBytes", (32L * 1024 * 1024).toString)
      .toLong
    val est = edges.queryExecution.optimizedPlan.stats.sizeInBytes
    if (sys.env.contains("GRAFT_KEYED_DEBUG"))
      println(s"[cpKeyed] key=$key estBytes=$est minBytes=$minBytes " +
        s"keyed=${est >= minBytes}")
    if (est < minBytes) cp(edges)
    else
      // AQE off for this ONE eager materialization, via a CLONED session
      // (ScopedSession) so the override is invisible to concurrent queries
      // on the shared session (VERDICT r16 item 7; the r16 set/restore on
      // the shared conf raced). SERIALIZED storage: the per-round
      // join+aggregate stage reads these blocks DIRECTLY (no exchange
      // between them any more), and a block being read is PINNED
      // un-evictable — deserialized row objects (~3 GB for the scale-22
      // bidir relation) pinned across 32 concurrent tasks starved
      // HashAggregate's initial map allocation outright (measured:
      // UNABLE_TO_ACQUIRE, got 0, at R-MAT scale 22 round 0). Compact
      // serialized blocks pin ~½ the bytes; the per-round deserialization
      // is a streaming read the codegen'd scan absorbs.
      org.apache.spark.sql.graft.ScopedSession.withConfs(edges,
        "spark.sql.adaptive.enabled" -> "false") { df =>
        df.repartition(col(key)).sortWithinPartitions(key)
          .localCheckpoint(true,
            org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      }
  }

  /** Both-direction edge list (src,dst[,value]) for undirected propagation. */
  private def bidir(edges: DataFrame, withValue: Boolean): DataFrame = {
    val fwd = if (withValue) edges.select(col("src"), col("dst"), col("value"))
              else edges.select(col("src"), col("dst"))
    val rev = if (withValue) edges.select(col("dst").as("src"), col("src").as("dst"), col("value"))
              else edges.select(col("dst").as("src"), col("src").as("dst"))
    fwd.unionByName(rev)
  }

  /** Shared frontier-loop driver for the iterative algorithms: applies
    * `step` per superstep (lazy localCheckpoint, so one driver job both
    * materializes the state and counts the frontier) and checks convergence
    * only every `convergenceCheckEvery` supersteps. On an O(diameter)
    * algorithm this halves the number of driver jobs — a superstep past the
    * fixpoint is a no-op for every caller (empty frontier ⇒ state
    * unchanged), so batched checks cannot change results; they only cost at
    * most checkEvery−1 no-op supersteps at the end. Non-checked states are
    * unpersisted only AFTER a later check materializes their dependents
    * (localCheckpoint invariant). */
  private val convergenceCheckEvery = 2
  private def frontierLoop(init: DataFrame, maxIterations: Int,
                           activePred: Column)(step: DataFrame => DataFrame): DataFrame = {
    var state = barrier(cp(init))
    var pending: List[DataFrame] = Nil
    var iter = 0
    var active = 1L
    while (active > 0 && iter < maxIterations) {
      if (iter == 0) dbgExplain("frontier-step0", step(state))
      if (iter == 1) dbgExplain("frontier-step", step(state))
      val newState = barrier(cpLazy(step(state)))
      iter += 1
      if (iter % convergenceCheckEvery == 0 || iter >= maxIterations) {
        active = newState.filter(activePred).count()
        (state :: pending).foreach(_.unpersist(false))
        pending = Nil
      } else {
        pending = state :: pending
      }
      state = newState
    }
    state
  }

  // =========================================================================
  // Connected components (reference library/ConnectedComponents.java:28-62 —
  // min-label propagation). Undirected propagation of the minimum vertex id.
  // Returns (id, component).
  // =========================================================================
  def wcc(g: KGraph, maxIterations: Int = 100): DataFrame = {
    val edges = cpKeyed(bidir(g.edges, withValue = false), "src")
    // state carries a `changed` flag so each superstep is ONE materialization
    // (localCheckpoint) + ONE count that reuses it — no separate frontier DF.
    val init = g.vertices.select(col("id"), col("id").as("comp"), lit(true).as("changed"))
    val state = frontierLoop(init, maxIterations, col("changed")) { state =>
      val msgs = edges
        .join(state.filter(col("changed")).select(col("id").as("src"), col("comp")), Seq("src"))
        .groupBy(col("dst").as("id"))
        .agg(min(col("comp")).as("cand"))
      state.select(col("id"), col("comp"))
        .join(msgs, Seq("id"), "left_outer")
        .select(col("id"),
          when(col("cand") < col("comp"), col("cand")).otherwise(col("comp")).as("comp"),
          (col("cand") < col("comp")).as("changed"))
    }
    state.select(col("id"), col("comp").as("value"))
  }

  /**
   * Connected components in O(log n) rounds — alternating large-star /
   * small-star contraction (Kiveris et al., "Connected Components in
   * MapReduce and Beyond", SoCC'14). The min-label `wcc` above needs
   * O(diameter) supersteps; on adversarial diameters (paths, meshes) this
   * variant converges in a logarithmic number of rounds, each round two
   * groupBy+join phases over canonical (hi, lo) edge pairs.
   * Returns (id, value = component minimum), identical to `wcc`.
   */
  def wccLogRounds(g: KGraph, maxRounds: Int = 50): DataFrame = {
    def stats(df: DataFrame): (Long, Long) = {
      // bit_xor: order-independent edge-set digest, no ANSI sum overflow
      val r = df.agg(count(lit(1)),
        coalesce(expr("bit_xor(xxhash64(hi, lo))"), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    var e = cp(g.edges.filter(col("src") =!= col("dst"))
      .select(greatest(col("src"), col("dst")).as("hi"), least(col("src"), col("dst")).as("lo"))
      .distinct())
    var prev = stats(e)
    var iter = 0
    var done = false
    while (!done && iter < maxRounds) {
      // large-star: every node u (both endpoints), m = min(N(u) ∪ {u});
      // connect each strictly-larger neighbor v to m
      val sym = e.select(col("hi").as("u"), col("lo").as("v"))
        .unionByName(e.select(col("lo").as("u"), col("hi").as("v")))
      val mins = sym.groupBy(col("u")).agg(least(min(col("v")), first(col("u"))).as("m"))
      val ls = sym.join(mins, Seq("u"))
        .filter(col("v") > col("u"))
        .select(greatest(col("v"), col("m")).as("hi"), least(col("v"), col("m")).as("lo"))
        .filter(col("hi") =!= col("lo")).distinct()
      // small-star: group by the LARGER endpoint u, neighbors lo < u;
      // connect them (and u) to m = min neighbor
      val mins2 = ls.groupBy(col("hi").as("u")).agg(min(col("lo")).as("m"))
      val ss = ls.join(mins2, ls("hi") === mins2("u"))
        .select(explode(array(
          struct(col("lo").as("a"), col("m").as("b")),
          struct(col("hi").as("a"), col("m").as("b")))).as("p"))
        .select(greatest(col("p.a"), col("p.b")).as("hi"), least(col("p.a"), col("p.b")).as("lo"))
        .filter(col("hi") =!= col("lo")).distinct()
      val newE = barrier(cp(ss))
      val cur = stats(newE)
      done = cur == prev
      prev = cur
      e.unpersist(false)
      e = newE
      iter += 1
    }
    // converged star forest: every edge is (member=hi, root=lo)
    val labels = e.select(col("hi").as("id"), col("lo").as("value"))
      .unionByName(e.select(col("lo").as("id"), col("lo").as("value")))
      .groupBy(col("id")).agg(min(col("value")).as("value"))
    g.vertices.select(col("id")).join(labels, Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("value"), col("id")).as("value"))
  }

  // =========================================================================
  // Single-source shortest paths (library/SingleSourceShortestPaths.java:30-68)
  // Bellman-Ford frontier relaxation; edge value = weight. Returns (id, value)
  // with unreachable = null (reference leaves them at +Infinity; callers can
  // coalesce).
  // =========================================================================
  def sssp(g: KGraph, srcVertexId: Long, maxIterations: Int = 100,
           directed: Boolean = true): DataFrame = {
    val edges = cpKeyed(
      if (directed) g.edges.select(col("src"), col("dst"), col("value"))
      else bidir(g.edges, withValue = true), "src")
    val init = g.vertices.select(col("id"),
      when(col("id") === srcVertexId, lit(0.0)).otherwise(lit(null).cast("double")).as("dist"),
      (col("id") === srcVertexId).as("changed"))
    val state = frontierLoop(init, maxIterations, col("changed")) { state =>
      val msgs = edges
        .join(state.filter(col("changed")).select(col("id").as("src"), col("dist")), Seq("src"))
        .groupBy(col("dst").as("id"))
        .agg(min(col("dist") + col("value")).as("cand"))
      val improves = col("cand").isNotNull && (col("dist").isNull || col("cand") < col("dist"))
      state.select(col("id"), col("dist"))
        .join(msgs, Seq("id"), "left_outer")
        .select(col("id"),
          when(improves, col("cand")).otherwise(col("dist")).as("dist"),
          improves.as("changed"))
    }
    state.select(col("id"), col("dist").as("value"))
  }

  // =========================================================================
  // BFS min-hop distance (library/BreadthFirstSearch.java:33-73). Returns
  // (id, value) with unreachable = null (reference: Long.MAX_VALUE).
  // =========================================================================
  def bfs(g: KGraph, srcVertexId: Long, maxIterations: Int = 100,
          directed: Boolean = true): DataFrame = {
    val edges = cpKeyed(
      if (directed) g.edges.select(col("src"), col("dst"))
      else bidir(g.edges, withValue = false), "src")
    val init = g.vertices.select(col("id"),
      when(col("id") === srcVertexId, lit(0L)).otherwise(lit(null).cast("long")).as("dist"),
      (col("id") === srcVertexId).as("changed"))
    val state = frontierLoop(init, maxIterations, col("changed")) { state =>
      // BFS visits each vertex once: candidates are unvisited targets only.
      val msgs = edges
        .join(state.filter(col("changed")).select(col("id").as("src"), col("dist")), Seq("src"))
        .groupBy(col("dst").as("id"))
        .agg(min(col("dist") + 1).as("cand"))
      state.select(col("id"), col("dist"))
        .join(msgs, Seq("id"), "left_outer")
        .select(col("id"),
          coalesce(col("dist"), col("cand")).as("dist"),
          (col("dist").isNull && col("cand").isNotNull).as("changed"))
    }
    state.select(col("id"), col("dist").as("value"))
  }

  // =========================================================================
  // Multiple-source shortest paths (library/MultipleSourceShortestPaths.java:
  // 32-75): per-landmark distance maps. State is the exploded (id, landmark,
  // dist) relation — a map-valued vertex would serialize/merge whole maps per
  // message like the reference does; the flat relation lets Spark hash on
  // (id, landmark) and combine map-side. Returns exploded rows
  // (id, landmark, value); `msspAsMap` re-assembles the reference's map shape.
  // =========================================================================
  def mssp(g: KGraph, landmarks: Seq[Long], maxIterations: Int = 100,
           directed: Boolean = true): DataFrame = {
    val edges = cpKeyed(
      if (directed) g.edges.select(col("src"), col("dst"), col("value"))
      else bidir(g.edges, withValue = true), "src")
    val init = g.vertices.select(col("id"))
      .filter(col("id").isin(landmarks: _*))
      .select(col("id"), col("id").as("landmark"), lit(0.0).as("dist"), lit(true).as("changed"))
    val state = frontierLoop(init, maxIterations, col("changed")) { state =>
      val msgs = edges
        .join(state.filter(col("changed"))
          .select(col("id").as("src"), col("landmark"), col("dist")), Seq("src"))
        .groupBy(col("dst").as("id"), col("landmark"))
        .agg(min(col("dist") + col("value")).as("cand"))
      // full outer: new (id, landmark) states appear as the frontier expands
      state.select(col("id"), col("landmark"), col("dist"))
        .join(msgs, Seq("id", "landmark"), "full_outer")
        .select(col("id"), col("landmark"),
          when(col("dist").isNull || (col("cand").isNotNull && col("cand") < col("dist")),
            col("cand")).otherwise(col("dist")).as("dist"),
          (col("dist").isNull || (col("cand").isNotNull && col("cand") < col("dist")))
            .as("changed"))
    }
    state.select(col("id"), col("landmark"), col("dist").as("value"))
  }

  /** Reference-shaped MSSP result: (id, value: map<landmark,double>). */
  def msspAsMap(g: KGraph, landmarks: Seq[Long], maxIterations: Int = 100): DataFrame =
    mssp(g, landmarks, maxIterations)
      .groupBy(col("id"))
      .agg(map_from_entries(sort_array(collect_list(struct(col("landmark"), col("value")))))
        .as("value"))

  // =========================================================================
  // PageRank — the reference's delta/tolerance formulation
  // (library/PageRank.java:32-113, GraphX-style): out-edge weight = 1/outDeg,
  // initial message resetProb/(1-resetProb) to every vertex,
  //   rank += (1-resetProb) * Σ msgs;  delta = (1-resetProb) * Σ msgs
  // send delta * weight while delta > tolerance. Personalized variant seeds
  // only srcVertexId. Returns (id, value=rank).
  // =========================================================================
  def pageRank(g: KGraph, tolerance: Double = 0.0001, resetProb: Double = 0.15,
               srcVertexId: Option[Long] = None, maxIterations: Int = 100): DataFrame = {
    val outDeg = g.edges.groupBy(col("src")).agg(count(lit(1)).as("odeg"))
    val edges = cpKeyed(g.edges.select(col("src"), col("dst"))
      .join(outDeg, Seq("src"))
      .select(col("src"), col("dst"), (lit(1.0) / col("odeg")).as("w")), "src")

    val damp = 1.0 - resetProb
    // Standard: every vertex starts at rank = delta = resetProb (superstep 0
    // re-sends the initial message resetProb/(1-resetProb) to self,
    // PageRank.java:66-85). Personalized: ONLY the source is seeded, at rank
    // 1.0 — the reference's oldDelta == -Infinity branch (PageRank.java:90-92,
    // initial message 0.0 in PageRankTest.java:198-266).
    val seed0: Column = srcVertexId match {
      case Some(s) => when(col("id") === s, lit(1.0)).otherwise(lit(0.0))
      case None    => lit(resetProb)
    }
    val init = g.vertices.select(col("id"), seed0.as("rank"), seed0.as("delta"))
    val state = frontierLoop(init, maxIterations, col("delta") > tolerance) { state =>
      val frontier = state.filter(col("delta") > tolerance)
      val msgs = frontier.withColumnRenamed("id", "src")
        .join(edges, Seq("src"))
        .groupBy(col("dst").as("id"))
        .agg(sum(col("delta") * col("w")).as("msg"))
      state.join(msgs, Seq("id"), "left_outer")
        .select(col("id"),
          (col("rank") + coalesce(col("msg"), lit(0.0)) * damp).as("rank"),
          (coalesce(col("msg"), lit(0.0)) * damp).as("delta"))
    }
    state.select(col("id"), col("rank").as("value"))
  }

  // =========================================================================
  // Label propagation (library/LabelPropagation.java:29-59): adopt the
  // max-frequency incoming label (ties → larger label), move only upward
  // (currentValue < candidate). Messages flow along out-edges every round.
  // Returns (id, value=label).
  // =========================================================================
  def labelPropagation(g: KGraph, maxIterations: Int = 50): DataFrame = {
    val edges = cpKeyed(g.edges.select(col("src"), col("dst")), "src")
    val init = g.vertices.select(col("id"), col("id").as("label"), lit(true).as("changed"))
    val state = frontierLoop(init, maxIterations, col("changed")) { state =>
      // every vertex re-broadcasts its label each round (LabelPropagation.java:52-57)
      val msgs = edges.join(state.select(col("id").as("src"), col("label")), Seq("src"))
        .groupBy(col("dst").as("id"), col("label"))
        .agg(count(lit(1)).as("freq"))
        // max by (freq, label): ties resolved toward the larger label
        // (LabelPropagation.java:41-50 TreeMap iteration order)
        .groupBy(col("id"))
        .agg(max(struct(col("freq"), col("label"))).as("best"))
        .select(col("id"), col("best.label").as("cand"))
      state.select(col("id"), col("label"))
        .join(msgs, Seq("id"), "left_outer")
        .select(col("id"),
          when(col("cand").isNotNull && col("cand") > col("label"), col("cand"))
            .otherwise(col("label")).as("label"),
          (col("cand").isNotNull && col("cand") > col("label")).as("changed"))
    }
    state.select(col("id"), col("label").as("value"))
  }

  // =========================================================================
  // Triangle counting / clustering coefficient. Undirected semantics over
  // canonicalized edges (a<b), self-loops dropped — matches the reference's
  // LCC neighbor-set protocol (library/LocalClusteringCoefficient.java:34-155)
  // which unions out-edges with received in-neighbor ids.
  // =========================================================================

  /** Canonical undirected edge set (a < b), deduped. */
  def canonicalEdges(edges: DataFrame): DataFrame =
    edges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"), greatest(col("src"), col("dst")).as("b"))
      .distinct()

  /** Degree above which a vertex's adjacency is hash-bucketed into partial
    * arrays (hub split). Power-law co-occurrence graphs put 10⁶⁺ neighbors on
    * one vertex; without the split that is a single giant collect_set row at
    * build time and a single straggler task doing ALL of the hub's
    * intersections at query time. With it, both the build (groupBy key =
    * (vertex, bucket)) and every intersection touching the hub (join key =
    * (vertex, bucket)) spread over the hub's bucket count in shuffle keys.
    *
    * The bucket count is DEGREE-PROPORTIONAL per hub — the next power of two
    * ≥ deg/cap, capped at [[MaxHubBuckets]] — so each partial holds ≈ cap
    * neighbors at ANY hub degree: a 10⁷-degree hub gets ~2048 shuffle keys
    * (genuine scale-out on a 1000-core cluster), while a barely-over-cap hub
    * pays only 2. Powers of two keep any two hubs' bucket functions ALIGNED
    * (Ba | Bb ⟹ h mod Bb determines h mod Ba), so hub–hub edges still
    * partition their intersection bucket-by-bucket. */
  private[graft] val HubDegreeCap: Int = 8192
  private[graft] val MaxHubBuckets: Int = 4096

  /** Per-hub bucket count: pow2ceil(ceil(deg/cap)) ∧ MaxHubBuckets, computed
    * EXACTLY in integer space (length(bin(r−1)) = floor(log2(r−1))+1, so
    * 2^length ≥ r is the next power of two — no FP log that could misround
    * at a power boundary and break the divisibility alignment). */
  private def hubBucketCount(deg: Column, cap: Int): Column = {
    val r = floor((deg.cast("long") + lit(cap.toLong - 1L)) / lit(cap.toLong))
      .cast("long")
    least(pow(lit(2.0), length(bin(r - 1))).cast("long"),
      lit(MaxHubBuckets.toLong)).cast("int")
  }

  /** Undirected adjacency as per-vertex sorted ARRAYs — the building block
    * for intersection-based triangle/similarity computation. Downstream work
    * is proportional to |N(u) ∩ N(v)| per edge instead of enumerating all
    * wedges (Σ deg² rows through a shuffle).
    *
    * Hub vertices (degree > HubDegreeCap, from `hubs` with their per-hub
    * bucket count B(v)) are emitted as B(v) rows
    * (src, bucket, nbrs-with-xxhash64(nbr)%B(v)==bucket) — ALL B(v) buckets
    * present (empty ones as empty arrays) so bucket-aligned joins never drop
    * an edge; everyone else is one row with bucket = -1. Buckets partition
    * N(v) by a pure function of the NEIGHBOR id, so for any two vertices
    * with aligned bucket functions (Ba | Bb) the per-bucket partials
    * intersect independently: N(a)∩N(b) = ⊎_j N_{j mod Ba}(a)∩N_j(b). */
  private def adjacencyArrays(bd: DataFrame, hubs: DataFrame): DataFrame = {
    val marked = bd
      .join(broadcast(hubs.select(col("src"), col("nbuckets"))), Seq("src"), "left_outer")
    val nonHub = marked.filter(col("nbuckets").isNull)
      .groupBy(col("src")).agg(array_sort(collect_set(col("dst"))).as("nbrs"))
      .select(col("src"), lit(-1).as("bucket"), col("nbrs"))
    val hubFilled = hubs
      .select(col("src"), explode(sequence(lit(0), col("nbuckets") - 1)).as("bucket"))
      .join(
        marked.filter(col("nbuckets").isNotNull)
          .select(col("src"),
            pmod(xxhash64(col("dst")), col("nbuckets").cast("long")).cast("int").as("bucket"),
            col("dst"))
          .groupBy(col("src"), col("bucket"))
          .agg(array_sort(collect_set(col("dst"))).as("nbrs")),
        Seq("src", "bucket"), "left_outer")
      .select(col("src"), col("bucket"),
        coalesce(col("nbrs"), array().cast("array<long>")).as("nbrs"))
    nonHub.unionByName(hubFilled)
  }

  /** Join-side strategy for the array-carrying adjacency relation, decided
    * by DATA size (so the rule itself scales): broadcast when the adjacency
    * provably fits a routine broadcast (≈32 bytes per canonical edge, cap
    * 64 MB), else shuffle-hash. Never let AQE broadcast a fat JOIN
    * INTERMEDIATE from its row count — on a co-occurrence graph the
    * (edges ⋈ adjacency) intermediate carries the neighbor arrays and
    * reaches gigabytes while still "few rows". */
  private def adjSide(adj: DataFrame, eCount: Long): DataFrame =
    if (eCount * 32L <= 64L * 1024 * 1024) broadcast(adj) else adj.hint("shuffle_hash")

  /**
   * Prepared undirected neighborhood view — the engine-side analog of the
   * reference's prepare step (GraphUtils.groupEdgesBySourceAndRepartition,
   * utils/GraphUtils.java:152-253, which materializes the co-partitioned
   * adjacency before any algorithm runs): canonical simple edge set +
   * per-vertex sorted adjacency arrays (hub-split, see `adjacencyArrays`) +
   * hub set, ALL materialized once (localCheckpoint) so the whole
   * intersection family (triangles, LCC, Adamic-Adar, Jaccard) shares them
   * instead of re-deriving per call.
   */
  case class UndirectedNeighborhood private[algos] (
      e: DataFrame, adj: DataFrame, hubs: DataFrame, eCount: Long, hubCount: Long) {
    /** Undirected simple-graph degree = Σ adjacency bucket lengths (one row
      * per non-hub vertex, so the no-hub case needs no aggregation). */
    private[algos] def degrees: DataFrame =
      if (hubCount == 0) adj.select(col("src"), size(col("nbrs")).as("deg"))
      else adj.groupBy(col("src")).agg(sum(size(col("nbrs"))).cast("int").as("deg"))
  }

  /** `hubDegreeCap` is exposed for tests/known-skew callers; the default is
    * the production cap. `assumeCanonical = true` asserts the edge set is
    * ALREADY canonical (src < dst, no self-loops, no duplicates) and skips
    * the least/greatest + distinct pass — one full edge shuffle saved, the
    * right call for pre-canonicalized stored graphs; a violated assertion
    * silently corrupts counts, so only set it when the builder guarantees
    * it. */
  def prepareNeighborhood(g: KGraph,
                          hubDegreeCap: Int = HubDegreeCap,
                          assumeCanonical: Boolean = false): UndirectedNeighborhood =
    prepareNeighborhoodFromEdges(g.edges, hubDegreeCap, assumeCanonical)

  /** [[prepareNeighborhood]] over a bare (src, dst) edge frame — the entry
    * point for callers without a KGraph (kTruss rebuilds this per peel
    * round from its surviving edge set). */
  private[graft] def prepareNeighborhoodFromEdges(
      edges: DataFrame,
      hubDegreeCap: Int = HubDegreeCap,
      assumeCanonical: Boolean = false): UndirectedNeighborhood = {
    val e = cp(
      if (assumeCanonical) edges.select(col("src").as("a"), col("dst").as("b"))
      else canonicalEdges(edges))
    val bd = bidir(e.select(col("a").as("src"), col("b").as("dst")), withValue = false)
    // canonical edges are distinct, so bidir rows are too: count = degree
    val hubs = cp(bd.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .filter(col("deg") > hubDegreeCap)
      .select(col("src"), hubBucketCount(col("deg"), hubDegreeCap).as("nbuckets")))
    val adj = cp(adjacencyArrays(bd, hubs))
    UndirectedNeighborhood(e, adj, hubs, e.count(), hubs.count())
  }

  /** Edge rows joined with both endpoints' (possibly hub-split) adjacency:
    * (a, b, na, nb) — one row per edge per ALIGNED bucket pair, whose
    * intersections partition the true common set:
    * N(a)∩N(b) = ⊎ (na∩nb over the edge's rows). */
  private def edgeAdjacency(p: UndirectedNeighborhood): DataFrame =
    edgeAdjacencyBuckets(p).select(col("a"), col("b"), col("na"), col("nb"))

  /** The keyed expansion behind [[edgeAdjacency]], visible to the skew spec
    * (which asserts per-key straggler bounds on (a, ja)). */
  private[graft] def expandEdgesByBucket(p: UndirectedNeighborhood): DataFrame =
    edgeAdjacencyBuckets(p).select(col("a"), col("b"), col("ja"), col("jb"))

  /** (a, b, ja, jb, na, nb): per-edge bucket expansion joined with the
    * aligned adjacency rows. Four edge classes:
    *
    *  - neither endpoint a hub → one row, whole arrays (ja = jb = -1); the
    *    overwhelmingly common class, planned EXACTLY as the pre-split join
    *    (and the only class when hubCount == 0 — the branch union is skipped
    *    entirely then).
    *  - one hub endpoint → join the SMALL side's whole array first, then
    *    explode only the hub buckets its neighbors actually hash into
    *    (≤ min(B_hub, |N(small)|) rows instead of all B_hub). This filtering
    *    is what keeps the hub's joined intermediate LINEAR in its degree:
    *    unfiltered, a degree-d hub ships d·B rows each carrying a d/B-long
    *    partial — d² neighbor values through the shuffle; filtered, it ships
    *    d·|N(small)| rows ≈ d·cap values. Correct because a common neighbor
    *    x ∈ N(small) hashes to exactly one hub bucket, so every element of
    *    the intersection is found in exactly one exploded row.
    *  - both hubs (rare) → explode j over max(Ba, Bb) buckets with
    *    ja = j mod Ba, jb = j mod Bb; power-of-two counts make the functions
    *    aligned (Ba | Bb), so x lands in exactly the j = h(x) mod Bmax row.
    *
    * A hub's shuffle keys are its (vertex, bucket) pairs — B(v) of them,
    * degree-proportional — so per-key rows stay bounded (≈ incident-edge
    * rows / B(v)) at any degree: the straggler bound SkewSpec asserts. */
  private def edgeAdjacencyBuckets(p: UndirectedNeighborhood): DataFrame = {
    val adjA = p.adj.select(col("src").as("a"), col("bucket").as("ja"), col("nbrs").as("na"))
    val adjB = p.adj.select(col("src").as("b"), col("bucket").as("jb"), col("nbrs").as("nb"))
    val plainAll = p.e
      .select(col("a"), col("b"), lit(-1).as("ja"), lit(-1).as("jb"))
      .join(adjSide(adjA, p.eCount), Seq("a", "ja"))
      .join(adjSide(adjB, p.eCount), Seq("b", "jb"))
    if (p.hubCount == 0) return plainAll
      .select(col("a"), col("b"), col("ja"), col("jb"), col("na"), col("nb"))

    val ha = broadcast(p.hubs.select(col("src").as("a"), col("nbuckets").as("_ba")))
    val hb = broadcast(p.hubs.select(col("src").as("b"), col("nbuckets").as("_bb")))
    val e = p.e.join(ha, Seq("a"), "left_outer").join(hb, Seq("b"), "left_outer")

    val plain = e.filter(col("_ba").isNull && col("_bb").isNull)
      .select(col("a"), col("b"), lit(-1).as("ja"), lit(-1).as("jb"))
      .join(adjSide(adjA, p.eCount), Seq("a", "ja"))
      .join(adjSide(adjB, p.eCount), Seq("b", "jb"))

    val aHub = e.filter(col("_ba").isNotNull && col("_bb").isNull)
      .select(col("a"), col("b"), col("_ba"), lit(-1).as("jb"))
      .join(adjSide(adjB, p.eCount), Seq("b", "jb"))
      .select(col("a"), col("b"), col("jb"), col("nb"),
        // drop the hub itself from the bucket probe: a ∈ N(b) for every
        // mixed edge but a ∉ N(a), so its bucket h(a) would otherwise get
        // one (useless) row from EVERY incident edge — a guaranteed
        // degree-sized straggler key
        explode(array_distinct(transform(array_remove(col("nb"), col("a")),
          x => pmod(xxhash64(x), col("_ba").cast("long")).cast("int")))).as("ja"))
      .join(adjSide(adjA, p.eCount), Seq("a", "ja"))

    val bHub = e.filter(col("_ba").isNull && col("_bb").isNotNull)
      .select(col("a"), col("b"), col("_bb"), lit(-1).as("ja"))
      .join(adjSide(adjA, p.eCount), Seq("a", "ja"))
      .select(col("a"), col("b"), col("ja"), col("na"),
        explode(array_distinct(transform(array_remove(col("na"), col("b")),
          x => pmod(xxhash64(x), col("_bb").cast("long")).cast("int")))).as("jb"))
      .join(adjSide(adjB, p.eCount), Seq("b", "jb"))

    val bothHub = e.filter(col("_ba").isNotNull && col("_bb").isNotNull)
      .select(col("a"), col("b"), col("_ba"), col("_bb"),
        explode(sequence(lit(0), greatest(col("_ba"), col("_bb")) - 1)).as("j"))
      .select(col("a"), col("b"),
        pmod(col("j"), col("_ba")).cast("int").as("ja"),
        pmod(col("j"), col("_bb")).cast("int").as("jb"))
      .join(adjSide(adjA, p.eCount), Seq("a", "ja"))
      .join(adjSide(adjB, p.eCount), Seq("b", "jb"))

    val out = Seq("a", "b", "ja", "jb", "na", "nb").map(col)
    plain.select(out: _*)
      .unionByName(aHub.select(out: _*))
      .unionByName(bHub.select(out: _*))
      .unionByName(bothHub.select(out: _*))
  }

  /** Per-edge common-neighbor PARTIALS: (a, b, common array) — possibly
    * several rows per edge (one per aligned hub bucket) that partition the
    * true common set; consumers sum/explode, so multiplicity is transparent.
    * The intersection is a codegen'd merge walk over the sorted adjacency
    * arrays (graft.functions.GraphSetExpressions — array_intersect would
    * rebuild an interpreted hash set per edge). */
  private def commonNeighbors(p: UndirectedNeighborhood): DataFrame =
    edgeAdjacency(p)
      .select(col("a"), col("b"),
        graft.functions.GraphSetExpressions.sortedIntersect(col("na"), col("nb")).as("common"))

  /** Per-vertex triangle counts: (id, value=triangles). Each edge (a,b) sees
    * its triangles via common neighbors; every common member c yields one
    * triangle {a,b,c}, incrementing ALL THREE corners. Each triangle is found
    * from each of its 3 edges, so every corner accumulates 3 increments →
    * raw per-vertex increments / 3.
    * Shuffle volume: the endpoint corners are pre-summed per edge (a and b
    * each get |common| in ONE row), so the exploded relation is
    * 2·E + 3·T rows instead of 9·T. */
  def triangleCounts(g: KGraph): DataFrame =
    triangleCounts(g, prepareNeighborhood(g))

  def triangleCounts(g: KGraph, p: UndirectedNeighborhood): DataFrame = {
    val perVertex = commonNeighbors(p)
      .filter(size(col("common")) > 0)
      .select(explode(concat(
        array(struct(col("a").as("id"), size(col("common")).cast("long").as("c")),
              struct(col("b").as("id"), size(col("common")).cast("long").as("c"))),
        transform(col("common"), w => struct(w.as("id"), lit(1L).as("c"))))).as("x"))
      .groupBy(col("x.id").as("id")).agg((sum(col("x.c")) / 3).cast("long").as("value"))
    g.vertices.select(col("id")).join(perVertex, Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("value"), lit(0L)).as("value"))
  }

  /** Global triangle count (streaming ExactTriangleCount's batch analog,
    * streaming/library/ExactTriangleCount.java:42-127): Σ|N(a)∩N(b)| / 3 —
    * a codegen'd count per edge, no common-member materialization at all. */
  def globalTriangleCount(g: KGraph): Long =
    globalTriangleCount(prepareNeighborhood(g))

  def globalTriangleCount(p: UndirectedNeighborhood): Long = {
    val total = edgeAdjacency(p)
      .agg(sum(graft.functions.GraphSetExpressions
        .sortedIntersectCount(col("na"), col("nb")).cast("long")).as("s")).head()
    if (total.isNullAt(0)) 0L else total.getLong(0) / 3
  }

  /** Local clustering coefficient: lcc(v) = 2·tri(v) / (deg(v)·(deg(v)-1)),
    * degree over the undirected simple graph; vertices with deg<2 → 0.0
    * (reference formula matches/d/(d-1) counts ordered pairs,
    * LocalClusteringCoefficient.java:139-150). Returns (id, value). */
  def localClusteringCoefficient(g: KGraph): DataFrame =
    localClusteringCoefficient(g, prepareNeighborhood(g))

  def localClusteringCoefficient(g: KGraph, p: UndirectedNeighborhood): DataFrame =
    triangleCounts(g, p).withColumnRenamed("value", "tri")
      .join(p.degrees.withColumnRenamed("src", "id"), Seq("id"), "left_outer")
      .select(col("id"),
        // deg·(deg−1) as LONG — a 10⁵-degree hub overflows int
        when(col("deg") >= 2,
          col("tri") * 2.0 / (col("deg").cast("long") * (col("deg") - 1)))
          .otherwise(lit(0.0)).as("value"))

  // =========================================================================
  // Edge similarity scores (library/similarity/AdamicAdar.java:33-231,
  // Jaccard.java:36-225). Neighborhood intersection over the undirected
  // simple graph — pure joins, no iteration.
  // =========================================================================

  /** Adamic-Adar per canonical edge: (src, dst, value = Σ_{w ∈ N(u)∩N(v)}
    * log(1/deg(w))). `conversionEnabled` negates to a distance like the
    * reference's ScaleToDistance (AdamicAdar.java:183-199).
    * Common neighbors from the codegen'd merge walk, then one explode
    * (3·triangles rows) scored against the BROADCAST degree table —
    * degrees are |V| small rows, never the array-carrying adjacency side.
    * Edges with no common neighbor produce no row (explode of empty),
    * matching the reference's wedge-enumeration output. */
  def adamicAdar(g: KGraph, conversionEnabled: Boolean = false): DataFrame =
    adamicAdar(prepareNeighborhood(g), conversionEnabled)

  /** Join-side strategy for the per-vertex DEGREE relation (12-byte rows,
    * |V| of them — far lighter than the adjacency): broadcast while it
    * provably fits, else shuffle-hash. */
  private def degSide(deg: DataFrame, eCount: Long): DataFrame =
    if (eCount * 16L <= 64L * 1024 * 1024) broadcast(deg) else deg.hint("shuffle_hash")

  def adamicAdar(p: UndirectedNeighborhood, conversionEnabled: Boolean): DataFrame = {
    val scored = commonNeighbors(p)
      .select(col("a"), col("b"), explode(col("common")).as("w"))
      .join(degSide(p.degrees.withColumnRenamed("src", "w"), p.eCount), Seq("w"))
      .groupBy(col("a").as("src"), col("b").as("dst"))
      .agg(sum(log(lit(1.0) / col("deg"))).as("value"))
    if (conversionEnabled) scored.withColumn("value", -col("value")) else scored
  }

  /** Jaccard similarity per canonical edge: |N(u)∩N(v)| / |N(u)∪N(v)| —
    * one codegen'd merge-walk count per edge over the sorted adjacency
    * arrays; no wedge enumeration, no second shuffle. */
  def jaccard(g: KGraph, conversionEnabled: Boolean = false): DataFrame =
    jaccard(prepareNeighborhood(g), conversionEnabled)

  def jaccard(p: UndirectedNeighborhood, conversionEnabled: Boolean): DataFrame = {
    val cnt = graft.functions.GraphSetExpressions.sortedIntersectCount(col("na"), col("nb"))
    val sim =
      if (p.hubCount == 0)
        // no hubs → adjacency rows are whole: one pass, sizes inline, no agg
        edgeAdjacency(p)
          .select(col("a").as("src"), col("b").as("dst"),
            (cnt.cast("double") / (size(col("na")) + size(col("nb")) - cnt)).as("value"))
      else {
        // hub-split partials: sum aligned-bucket counts per edge, then take
        // |N(a)|,|N(b)| from the degree relation (partial sizes don't compose
        // into the union size inline). LEFT join from the edge set: the
        // filtered mixed-edge expansion emits NO row for an edge with a
        // provably-empty intersection, but jaccard still owes it a 0.0.
        val common = p.e.join(
            edgeAdjacency(p)
              .groupBy(col("a"), col("b")).agg(sum(cnt.cast("long")).as("common")),
            Seq("a", "b"), "left_outer")
          .withColumn("common", coalesce(col("common"), lit(0L)))
        common
          .join(degSide(p.degrees.select(col("src").as("a"), col("deg").as("degA")), p.eCount), Seq("a"))
          .join(degSide(p.degrees.select(col("src").as("b"), col("deg").as("degB")), p.eCount), Seq("b"))
          .select(col("a").as("src"), col("b").as("dst"),
            (col("common").cast("double") /
              (col("degA") + col("degB") - col("common"))).as("value"))
      }
    // distance conversion = 1/v − 1 with 0 → Double.MaxValue — the
    // reference's convertToDistance (Jaccard.java:191-197; r8 fix: this
    // previously used −log2(v), a plausible-but-wrong distance transform
    // that JaccardTest.java:169's goldens refute — pinned in ParitySpec)
    if (conversionEnabled)
      sim.withColumn("value",
        when(col("value") > 0, lit(1.0) / col("value") - 1.0)
          .otherwise(lit(Double.MaxValue)))
    else sim
  }

  private lazy val logger = org.slf4j.LoggerFactory.getLogger("graft.algos.GraphAlgorithms")

  /** Salt modulus for [[twoHopNeighborCounts]]'s first-level distinct
    * partials: contributions are grouped by (vertex, salt) before the
    * per-vertex merge, so a vertex adjacent to a mega-hub never funnels its
    * whole candidate stream through one aggregation key. */
  private[graft] val TwoHopSalt = 32

  /** The keyed contribution relation behind [[twoHopNeighborCounts]],
    * exposed for the skew spec: one row per (undirected edge (v, m)) ×
    * (adjacency row of the MIDDLE m) carrying m's neighbor array (hub
    * middles contribute their B(m) bucket partials, non-hubs one whole
    * array) with v itself removed, salted by s = h(m, bucket) mod
    * [[TwoHopSalt]] so a hub middle's bucket rows spread across level-1
    * keys instead of piling on one. */
  private[graft] def twoHopContrib(p: UndirectedNeighborhood): DataFrame = {
    val bd = bidir(p.e.select(col("a").as("src"), col("b").as("dst")),
      withValue = false).toDF("v", "m")
    bd.join(adjSide(p.adj.select(col("src").as("m"), col("bucket"), col("nbrs")),
        p.eCount), Seq("m"))
      .select(col("v"),
        pmod(xxhash64(col("m"), col("bucket")), lit(TwoHopSalt.toLong))
          .cast("int").as("s"),
        array_remove(col("nbrs"), col("v")).as("cand"))
  }

  /** Default cap on the per-vertex candidate VOLUME (Σ deg(middle), an
    * upper bound on the merged distinct buffer) above which
    * [[twoHopNeighborCounts]] routes a vertex to the row-based tail: 2²²
    * values ≈ 32 MB of longs per aggregation buffer, comfortably inside an
    * executor's task memory. */
  private[graft] val TwoHopMaxCandidateVolume: Long = 1L << 22

  /** Max oversize-set row count [[twoHopNeighborCounts]] will still
    * broadcast (8-byte ids → ~32 MB); beyond it the tail split joins via
    * shuffle_hash. A degree-D mega-hub pushes all D of its neighbors over
    * the volume bound, so the oversize set is NOT always tiny — same
    * rationale as kCore's removed-set side switch. */
  private[graft] val OversizeBroadcastMax: Long = 4000000L

  /** Exact-distance-2 neighborhood sizes: for each vertex, the number of
    * vertices reachable in exactly two hops (N(N(v)) minus N(v) minus v) —
    * the friend-of-friend feature behind triadic-closure link prediction
    * and 2-hop expansion sizing. Self-loops and duplicate edges are ignored
    * (undirected simple-graph semantics, like the rest of the
    * intersection family). Vertices with an empty 2-hop set emit no row.
    *
    * Scale shape: exact 2-hop output is intrinsically Θ(Σ deg²) — every
    * neighbor of a degree-D hub has ≥ D−1 distance-2 vertices — so no
    * algorithm avoids that VALUE volume; what this formulation avoids is
    * materializing it as individual wedge ROWS through a shuffle and
    * funneling any one vertex's stream through a single key. Candidates
    * travel as the prepared neighborhood's (hub-bucketed) adjacency
    * ARRAYS: (1) each undirected edge (v, m) picks up the middle m's
    * adjacency rows (≈ HubDegreeCap values per row at any degree, since
    * hubs are degree-proportionally bucketed); (2) level-1 dedup partials
    * group by (v, salt) — per-key input ≤ rows(v)/TwoHopSalt array rows;
    * (3) the per-vertex merge unions ≤ TwoHopSalt pre-deduped partials, so
    * its input is ≤ TwoHopSalt × |result set(v)| — proportional to the
    * answer it must emit; (4) direct neighbors are subtracted with the
    * codegen'd galloping intersect against v's own (bucketed) adjacency —
    * disjoint partials, counts sum — instead of re-exploding the distinct
    * set into an anti-join.
    *
    * Memory bound: step (3) holds one vertex's whole 2-hop set in a single
    * aggregation buffer. That is fine up to millions of values, but on a
    * power-law graph a mega-hub's 2-hop set can reach |V| — so any vertex
    * whose candidate volume BOUND (Σ deg(middle), computed from degrees
    * before any array moves) exceeds `maxCandidateVolume` is instead
    * routed to a row-based tail: explode its candidates to (v, c) rows,
    * shuffle-distinct (spreads across tasks and spills instead of
    * buffering), anti-join direct neighbors, count. Same exact answer, no
    * single-buffer dependence on the answer size; the row tail costs one
    * extra shuffle proportional to THOSE vertices' candidate volume, which
    * is why it is reserved for the vertices that need it. */
  def twoHopNeighborCounts(g: KGraph): DataFrame =
    twoHopNeighborCounts(prepareNeighborhood(g))

  def twoHopNeighborCounts(p: UndirectedNeighborhood): DataFrame =
    twoHopNeighborCounts(p, TwoHopMaxCandidateVolume)

  def twoHopNeighborCounts(p: UndirectedNeighborhood,
                           maxCandidateVolume: Long): DataFrame = {
    require(maxCandidateVolume > 0, "maxCandidateVolume must be positive")
    val bd = bidir(p.e.select(col("a").as("src"), col("b").as("dst")),
      withValue = false).toDF("v", "m")
    // degree-derived volume bound — cheap (no adjacency arrays touched)
    val oversize = bd
      .join(degSide(p.degrees.select(col("src").as("m"), col("deg")), p.eCount),
        Seq("m"))
      .groupBy(col("v")).agg(sum(col("deg")).as("ub"))
      .filter(col("ub") > maxCandidateVolume)
      .select(col("v"))

    def arrayTail(contrib: DataFrame): DataFrame = {
      val lvl1 = contrib
        .groupBy(col("v"), col("s"))
        .agg(array_distinct(flatten(collect_list(col("cand")))).as("part"))
      val lvl2 = lvl1.groupBy(col("v"))
        .agg(array_sort(array_distinct(flatten(collect_list(col("part"))))).as("two"))
      // |two \ N(v)|: per adjacency-bucket partial intersect counts sum
      // (buckets partition N(v)); `two` excludes v by construction
      val cnt = graft.functions.GraphSetExpressions
        .sortedIntersectCount(col("two"), col("nbrs"))
      lvl2.join(adjSide(p.adj.withColumnRenamed("src", "v"), p.eCount), Seq("v"))
        .groupBy(col("v"))
        .agg((max(size(col("two"))).cast("long") - sum(cnt.cast("long"))).as("n2"))
        .filter(col("n2") > 0)
        .select(col("v").as("id"), col("n2"))
    }

    // Count-gated split (kCore's remSide pattern): the oversize set is
    // tiny output (only over-threshold vertices) so it is persisted and
    // counted once on the driver — a control-channel count, not a data
    // collect. Zero oversize vertices (the common no-mega-hub case) skips
    // the split entirely — the AQE empty-relation win, made explicit. A
    // NONZERO count picks the join side by size: a degree-D mega-hub puts
    // all D of its neighbors over the volume bound, so an unconditional
    // broadcast could ship a multi-hundred-MB id set to every executor;
    // past [[OversizeBroadcastMax]] it rides a shuffle_hash instead,
    // exactly like kCore's removed-set join. On this branch the persisted
    // set stays cached until session end: the RETURNED frame's lineage
    // references it (both join sides), so unpersisting here would void the
    // single-materialization guarantee the control count paid for — the
    // same deliberate retention as the memoized localCheckpoint prep
    // (bounded: only over-threshold vertex ids, one small set per call).
    val over = oversize.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nOver = over.count()
    val contrib = twoHopContrib(p)
    if (nOver == 0L) {
      over.unpersist()
      arrayTail(contrib)
    } else {
      val big =
        if (nOver <= OversizeBroadcastMax) broadcast(over)
        else over.hint("shuffle_hash")
      val small = arrayTail(contrib.join(big, Seq("v"), "left_anti"))
      // row-based tail: distinct candidates spread over (v, c) shuffle keys
      val rows = contrib.join(big, Seq("v"), "left_semi")
        .select(col("v"), explode(col("cand")).as("c"))
        .distinct() // cand already excludes v itself
        .join(bd.select(col("v"), col("m").as("c")), Seq("v", "c"), "left_anti")
        .groupBy(col("v")).agg(count(lit(1)).cast("long").as("n2"))
        .select(col("v").as("id"), col("n2"))
      small.unionByName(rows)
    }
  }

  /** k-truss: the maximal subgraph where every EDGE sits in ≥ k−2
    * triangles — the edge-level density peel (stronger than k-core:
    * cohesion through shared neighbors, not raw degree; the standard
    * community-core primitive). Each round picks its physical plan from a
    * cost model over what the round MOVES:
    *
    *  - MAJORITY-removal rounds (the first filters on a heavy tail) run a
    *    full support sweep over the survivors — ORIENTED: each edge points
    *    at its higher-(degree, id) endpoint, each triangle is enumerated
    *    exactly once as w ∈ fwd(u) ∩ fwd(v) (codegen'd galloping kernel),
    *    and supports come from one count over the triple stream exploded
    *    to its three edges. Wire cost is degeneracy-bounded (a hub's
    *    forward list holds only its higher-degree neighbors), not Σdeg².
    *    The triple stream is NEVER materialized: it flows straight through
    *    the partial-aggregating support count inside one codegen stage, so
    *    peak memory is the per-partition edge-count hash map, not the
    *    triangle count (the r14 variant localCheckpointed ALL triples to
    *    make destroyed-witness recovery a semi-join — hundreds of millions
    *    of exploded rows held in block storage on triangle-dense graphs:
    *    12.5 GB spill and an 8 g-heap OOM at R-MAT scale 20). Majority
    *    rounds shrink the edge set geometrically, so ALL sweeps together
    *    cost ≤ 2× the first; a sweep whose removals turn out to be the
    *    MINORITY hands exact survivor supports to the incremental regime
    *    by decrementing the removed edges' destroyed triangles against the
    *    pre-removal adjacency (work bounded by the removed slice).
    *  - MINORITY-removal rounds (everything after the burst phase) peel
    *    INCREMENTALLY: enumerate the triangles DESTROYED by the dropped
    *    edges — witnesses w ∈ N(a) ∩ N(b) per removed edge via the same
    *    aligned-bucket machinery over an adjacency built PER ROUND and
    *    RESTRICTED to the removed edges' endpoint vertices, deduped as
    *    sorted vertex triples — and decrement the supports of each
    *    destroyed triangle's surviving edges. Both the adjacency build and
    *    the witness intersections are proportional to the REMOVED edges
    *    and their triangles, not the surviving graph; convergence (no edge
    *    below k−2) is detected from the maintained support column with no
    *    final sweep at all. `rebuildFraction` = 0.0 selects the
    *    pure-full-sweep reference mode the equivalence specs peel against;
    *    any positive value selects the cost-model peel.
    *
    * `corePrefilter` (default on, k ≥ 4) first shrinks the graph to the
    * (k−1)-core — a superset of the k-truss (every truss vertex keeps
    * degree ≥ k−1 inside the truss) — with the DEGREE peel, whose rounds
    * move only degree deltas (59 MB at R-MAT scale 20) instead of
    * neighborhood arrays; the support sweep then runs on the core
    * subgraph only.
    *
    * The pre-r14 policy swept on ANY ≥5% burst — 62 GB / 541 s measured at
    * R-MAT scale 20 (SCALE.md); decrement-always OOMs the same drill by
    * enumerating nearly every triangle on a majority-removal first round.
    *
    * Monotone, so it terminates; rounds are data-bounded, each cut with
    * localCheckpoint. Input is canonicalized (undirected simple graph:
    * self-loops dropped, duplicates merged); returns the truss edges with
    * their converged support as (src, dst, support) with src < dst. Logs a
    * warning if `maxIter` exhausts before the fixpoint — the result is
    * then only an upper bound on the k-truss. */
  /** Scale-adaptive partition count for the k-truss support sweep: the
    * session default (tuned to the core count) until the live edge count
    * outgrows it, then ~150k edge keys per partition, capped at 4096.
    * `parts` sizes three things in TriangleCreditSweep at once — the keyed
    * edge layout (per-task run slice), the per-partition fv map (finer
    * parts = smaller maps but less demand dedup), and the credit partials'
    * combining (coarser parts = better map-side combining, bigger shuffle
    * blocks; 50k/partition measured +71% shufW at R-MAT scale 22 under
    * the r16 sweep — the trade carries over). Derived from the CURRENT
    * edge set each sweep — a constant tuned to either local mode or one
    * cluster size is exactly what the guide's §2 warns against. */
  private def supportParts(spark: org.apache.spark.sql.SparkSession,
                           n: Long): Int = {
    val base = spark.sessionState.conf.numShufflePartitions
    val perPart = spark.conf
      .get("spark.graft.truss.edgesPerPartition", "150000").toLong
    math.max(base, math.min(4096L, n / perPart).toInt)
  }

  def kTruss(edges: DataFrame, k: Int, maxIter: Int = 100,
             hubDegreeCap: Int = HubDegreeCap,
             rebuildFraction: Double = 0.05,
             corePrefilter: Boolean = true): DataFrame = {
    require(k >= 3, "k must be at least 3")
    require(rebuildFraction >= 0.0 && rebuildFraction <= 1.0,
      "rebuildFraction must be in [0, 1]")
    val cnt = graft.functions.GraphSetExpressions
      .sortedIntersectCount(col("na"), col("nb"))
    val inter = graft.functions.GraphSetExpressions
      .sortedIntersect(col("na"), col("nb"))
    // support per canonical edge over p's edge set; hub edges carry several
    // aligned-bucket rows whose partial counts sum, and a filtered
    // mixed-edge expansion can emit zero rows for an edge with a
    // provably-empty intersection — the left join owes it support 0.
    def supportOf(p: UndirectedNeighborhood): DataFrame = {
      val sup = edgeAdjacency(p)
        .groupBy(col("a"), col("b")).agg(sum(cnt.cast("long")).as("support"))
      p.e.join(sup, Seq("a", "b"), "left_outer")
        .select(col("a"), col("b"),
          coalesce(col("support"), lit(0L)).as("support"))
    }
    // ORIENTED full sweep: support for every current edge from ONE
    // degree-ordered triangle enumeration (Latapy's compact-forward /
    // Shun–Tangwongsan shape). Orient each edge toward its higher-(deg,id)
    // endpoint; every triangle then has exactly one vertex with two
    // out-legs, so w ∈ fwd(u) ∩ fwd(v) over the oriented edge (u,v)
    // enumerates each triangle ONCE. The wire cost is Σ_e |fwd| shipped
    // per incident edge — bounded by the graph's degeneracy, NOT Σdeg²:
    // a 10⁵-degree hub's forward list holds only its higher-degree
    // neighbors (near-empty), so hub edges ship next to nothing where the
    // per-edge N(a)∩N(b) sweep shipped the hub's whole adjacency per edge
    // (measured on the scale-20 drill: 37.8 GB total under the per-edge
    // sweep). Supports = each triple exploded to its 3 canonical edges +
    // one count aggregate, all inside ONE stage with map-side partial
    // aggregation — the triple rows are never stored or shuffled, only
    // (edge, partial count) aggregates leave the stage, so peak memory is
    // bounded by the edge count regardless of how triangle-dense the graph
    // is. Pathological regular cores (K_n) make fwd lists long, but there
    // the work equals the triangle count — intrinsic.
    //
    // The orientation is fixed ONCE per full phase and REUSED by its later
    // sweeps: correctness needs only SOME fixed total order (each triangle
    // has exactly one minimal vertex under it), so survivors keep their
    // direction as edges drop; the entry degrees keep forward lists
    // degeneracy-bounded and a shrinking graph only shortens them. Saves
    // the degree aggregation + two attach joins on every sweep after the
    // first.
    def orient(eCur: DataFrame): DataFrame = {
      val deg = eCur.select(explode(array(col("a"), col("b"))).as("x"))
        .groupBy(col("x")).agg(count(lit(1)).as("d"))
      eCur
        .join(deg.select(col("x").as("a"), col("d").as("da")), Seq("a"))
        .join(deg.select(col("x").as("b"), col("d").as("db")), Seq("b"))
        .select(when(col("da") < col("db") ||
            (col("da") === col("db") && col("a") < col("b")),
            struct(col("a").as("u"), col("b").as("v")))
          .otherwise(struct(col("b").as("u"), col("a").as("v"))).as("e"))
        .select(col("e.u").as("u"), col("e.v").as("v"))
    }
    // (a, b, support > 0) over the oriented edge set: rows exist only for
    // edges in ≥ 1 triangle. Every enumerated triangle edge IS a current
    // edge ((u,v) ∈ dirE; w ∈ fwd(u) and w ∈ fwd(v)), so a missing row
    // means support 0 — which any k ≥ 3 filter removes anyway; skipping
    // the support-0 attach saves a full-edge-set outer join per sweep, and
    // a zero-support edge destroys no triangles, so the decrement path
    // never needs it either.
    //
    // r17: the sweep is the cogroup-style TriangleCreditSweep — forward
    // lists ship once per DEMANDING PARTITION over the keyed edge layout
    // instead of once per edge through a join exchange (the r16 SQL
    // formulation moved Σ_u|fwd(u)|² list entries — ~12.5 GB/sweep at
    // R-MAT scale 22 — and its array-stream sorts were the dominant
    // spill). See TriangleCreditSweep's header for the full design and
    // equivalence argument; `parts` keeps the same scale-adaptive sizing
    // (~150k live edges per partition, supportParts below). Returns
    // ALREADY materialized (serialized localCheckpoint).
    def sweepDir(dirE: DataFrame, parts: Int): DataFrame =
      TriangleCreditSweep.sweep(dirE, parts,
        sup => dbgExplain("ktruss-sweep", sup))
    def prep(eCanon: DataFrame): UndirectedNeighborhood =
      prepareNeighborhoodFromEdges(
        eCanon.select(col("a").as("src"), col("b").as("dst")),
        hubDegreeCap, assumeCanonical = true)
    // Adjacency of `prev` RESTRICTED to the endpoint vertices of `removed`
    // — exactly the rows the witness intersection probes, so building more
    // would be waste. Degrees (and therefore hub splitting) are TRUE
    // degrees in prev: the semi-join keeps or drops whole vertices, never
    // slices an edge list. eCount is the FULL prev edge count — adjSide's
    // broadcast heuristic reads it as "how big a graph is this", and the
    // restricted adjacency of a small removed set can still be huge when
    // the touched vertices are hubs. The scan/filter side of this build is
    // O(|prev|) per decrement round; only the groupBy-collect output is
    // removal-proportional. (r16 measured a join-based witness enumeration
    // as the alternative — one prev scan, no arrays — and it LOST 5× on a
    // 4.3%-removal round at R-MAT scale 20: without the galloping sorted
    // intersection a removed hub edge enumerates every (a, w) candidate
    // leg instead of pruning to the actual witnesses, so the array build
    // pays for itself at any removal size that matters.)
    def prepTouched(prev: DataFrame, removed: DataFrame,
                    eCount: Long): UndirectedNeighborhood = {
      val touched = removed
        .select(explode(array(col("a"), col("b"))).as("src")).distinct()
      val bd = bidir(prev.select(col("a").as("src"), col("b").as("dst")),
          withValue = false)
        .join(touched, Seq("src"), "left_semi")
      val hubs = cp(bd.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") > hubDegreeCap)
        .select(col("src"), hubBucketCount(col("deg"), hubDegreeCap).as("nbuckets")))
      val adj = cp(adjacencyArrays(bd, hubs))
      UndirectedNeighborhood(prev, adj, hubs, eCount, hubs.count())
    }
    // Supports of `surv` after deleting `removed` from prev = surv ∪
    // removed, given exact supports on surv w.r.t. prev. Witnesses
    // w ∈ N(a) ∩ N(b) come from a per-round adjacency of prev restricted
    // to the removed edges' endpoints — EXACT (both legs (a,w) and (b,w)
    // are prev edges by construction, so no validation pass exists) and
    // shuffle-proportional to the removed slice, not the surviving graph.
    // Each destroyed triangle is counted once (distinct sorted triple, so
    // a triangle losing 2–3 edges in one round can't double-decrement) and
    // decrements only its surviving edges.
    def decremented(prev: DataFrame, removed: DataFrame, surv: DataFrame,
                    eCount: Long): DataFrame = {
      val pT = prepTouched(prev, removed, eCount)
      val witnesses = edgeAdjacency(pT.copy(e = removed.select(col("a"), col("b"))))
        .select(col("a"), col("b"), explode(inter).as("w"))
      decrementsFromWitnesses(witnesses, surv)
    }
    // Shared tail of every decrement path: (a, b, w) destroyed-triangle
    // witness rows → distinct sorted triples (a triangle losing 2–3 edges
    // in one round must not double-decrement) → per-surviving-edge deltas.
    def decrementsFromWitnesses(witnesses: DataFrame,
                                surv: DataFrame): DataFrame = {
      val tri = witnesses
        .select(array_sort(array(col("a"), col("b"), col("w"))).as("t"))
        .distinct()
        .select(col("t").getItem(0).as("x"), col("t").getItem(1).as("y"),
          col("t").getItem(2).as("z"))
      val delta = tri.select(explode(array(
          struct(col("x").as("a"), col("y").as("b")),
          struct(col("x").as("a"), col("z").as("b")),
          struct(col("y").as("a"), col("z").as("b")))).as("e"))
        .select(col("e.a").as("a"), col("e.b").as("b"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("dec"))
      surv.join(delta, Seq("a", "b"), "left_outer")
        .select(col("a"), col("b"),
          (col("support") - coalesce(col("dec"), lit(0L))).as("support"))
    }
    val dbg = sys.env.contains("GRAFT_TRUSS_DEBUG")
    var e = barrier(cpSer(canonicalEdges(edges)))   // (a, b): the current set
    if (corePrefilter && k >= 4) {
      // k-truss ⊆ (k−1)-core (every truss vertex keeps degree ≥ k−1
      // inside the truss), and the degree peel moves only degree DELTAS
      // (59 MB at R-MAT scale 20 vs the support sweep's tens of GB) — so
      // shrink the graph with the cheap peel BEFORE the expensive one.
      // On the scale-20 drill this halves the first sweep's input; at
      // k=3 the 2-core only trims trees, rarely worth the pass.
      val core = kCore(
        e.select(col("a").as("src"), col("b").as("dst")), k - 1)
        .select(col("id"))
      e = barrier(cpSer(e
        .join(core.select(col("id").as("a")), Seq("a"), "left_semi")
        .join(core.select(col("id").as("b")), Seq("b"), "left_semi")
        .select(col("a"), col("b"))))
    }
    var n = e.count()
    // the full phase's fixed orientation (u, v); null outside a full phase
    var dirE: DataFrame = null
    // When non-null: cp'd (a, b, support), EXACT within the current set —
    // the peel then proceeds by decrement alone (tail regime). When null,
    // the next round is a full sweep: prep + support + filter in ONE fused
    // materialization (only survivors are ever written), exactly the
    // big-round plan the pre-incremental version used.
    var supExact: DataFrame = null
    var iter = 0
    var result: DataFrame = null
    while (result == null && iter < maxIter) {
      val t0 = System.nanoTime()
      var mode = ""
      // The per-round plan choice is a cost model, not a fixed phase order:
      //  - an (oriented) SWEEP ships every SURVIVING edge's forward list —
      //    degeneracy-bounded, the cheap per-edge constant;
      //  - a DECREMENT ships every REMOVED edge's FULL neighborhoods plus
      //    the triangles they destroy — exact per-edge intersections, the
      //    expensive per-edge constant (a removed edge at a hub ships the
      //    hub's whole adjacency; a surviving hub edge in the oriented
      //    sweep ships a near-empty forward list).
      // With that asymmetry the crossover sits well below one half: sweep
      // whenever removals exceed ~15% of the round and decrement only true
      // slivers. Sweeps at ≥15% shrinkage still telescope (total ≤ ~7× the
      // first, each degeneracy-bounded and unmaterialized), while the
      // measured alternative on a 44%-removal round at sf0.1 — per-edge
      // decrement of 105k removed co-purchase edges — cost MORE than
      // re-sweeping the 133k survivors. The failure modes this threshold
      // avoids were both measured at R-MAT scale 20: per-edge sweeps on
      // every ≥5% burst (62 GB, pre-r14) and decrement-always (37 GB + an
      // executor OOM on the 90%-removal first round).
      val SweepMajority = 0.15
      if (supExact != null) {
        val removed = supExact.filter(col("support") < k - 2)
        val nR = removed.count()
        if (nR == 0L) { result = supExact; mode = "converged" }
        else {
          val surv = supExact.filter(col("support") >= k - 2)
          if (nR >= SweepMajority * n) {
            // burst (rare outside the first rounds): re-sweeping the
            // smaller survivor set beats enumerating the big removal's
            // triangles
            e = surv.select(col("a"), col("b")); supExact = null
            dirE = null // re-orient from the current survivor degrees
            mode = "fallback"
          } else {
            supExact = barrier(cpSer(decremented(
              supExact.select(col("a"), col("b")), removed, surv, n)))
            e = supExact.select(col("a"), col("b"))
            mode = "incremental"
          }
          n -= nR
        }
      } else if (rebuildFraction > 0.0) {
        // ONE oriented enumeration per sweep, streamed straight into the
        // per-edge support aggregate — no triple materialization at any
        // removal fraction. Post-filter survivor supports are recovered by
        // the SAME cost model the incremental regime uses: a burst removal
        // just re-sweeps the (geometrically smaller) survivor set next
        // round, while a sliver removal enumerates its destroyed triangles
        // against the pre-removal restricted adjacency and hands exact
        // supports to the decrement regime.
        if (dirE == null) dirE = barrier(cpSer(orient(e)))
        // sweepDir materializes internally (it must outlive its keyed edge
        // checkpoint) — barrier alone resets the carried stats estimate
        val swept = barrier(sweepDir(dirE, supportParts(edges.sparkSession, n)))
        val f = swept.filter(col("support") >= k - 2)
        val n2 = f.count()
        if (n2 == n) { result = f; mode = "converged" } // incl. n == 0
        else if (n2 == 0L) { result = f; mode = "empty" }
        else if (n - n2 >= SweepMajority * n) {
          e = f.select(col("a"), col("b")); n = n2
          dirE = barrier(cpSer(dirE.join(f.select(col("a"), col("b")),
            least(col("u"), col("v")) === col("a") &&
              greatest(col("u"), col("v")) === col("b"), "left_semi")))
          mode = "full"
        } else {
          // swept.filter(< k−2) omits support-0 removals by construction —
          // they destroy no triangles, so the witness enumeration loses
          // nothing; prev (= e) still carries the full pre-removal set for
          // the restricted adjacency
          supExact = barrier(cpSer(decremented(
            e, swept.filter(col("support") < k - 2), f, n)))
          e = supExact.select(col("a"), col("b")); n = n2
          dirE = null
          mode = "full->incremental"
        }
      } else {
        // rebuildFraction == 0: the pure-full-sweep reference mode the
        // equivalence specs peel both ways against
        val p = prep(e)
        val f = barrier(cp(supportOf(p).filter(col("support") >= k - 2)))
        val n2 = f.count()
        if (n2 == n) { result = f; mode = "converged" } // incl. n == 0
        else if (n2 == 0L) { result = f; mode = "empty" }
        else { e = f.select(col("a"), col("b")); n = n2; mode = "full" }
      }
      if (dbg) println(f"[ktruss] round=$iter mode=$mode e=$n " +
        f"t=${(System.nanoTime() - t0) / 1e9}%.2f s")
      iter += 1
    }
    if (result == null) {
      logger.warn(s"kTruss(k=$k) exhausted maxIter=$maxIter before convergence; " +
        "the returned edge set may still contain sub-truss edges")
      // pre-incremental exhaustion semantics: supports w.r.t. the final
      // edge set, filtered once more
      result =
        if (supExact != null) supExact.filter(col("support") >= k - 2)
        else supportOf(prep(e)).filter(col("support") >= k - 2)
    }
    result.select(col("a").as("src"), col("b").as("dst"), col("support"))
  }

  /** k-core: the maximal subgraph where every vertex keeps degree ≥ k —
    * the standard graph-density peel (community cores, nucleus
    * decomposition, spam/bot filtering). Peeling is DEGREE-DECREMENTAL
    * (Matula–Beck, adapted to bulk rounds): maintain per-vertex degrees,
    * and per round subtract from each survivor only the edges it lost to
    * this round's removed vertices — the edge (u, v) with u dying and v
    * alive is found by joining the (immutable, materialized-once)
    * bidirectional edge list against the removed set. Every edge is
    * charged at most twice over the WHOLE peel (once per endpoint death),
    * so total work is O(E + V·rounds) instead of the O(E·rounds) of the
    * naive recompute-degrees-per-round formulation — the difference
    * between a cheap and an impossible deep cascade at 100 TB. Convergence
    * (no vertex below k) is read off the maintained degree column with no
    * final sweep. Per-round frames cut lineage with `localCheckpoint` +
    * the stats barrier like every iterative loop here. Self-loops count 2
    * toward their vertex's degree and duplicate edges count each time
    * (multigraph semantics, matching the degree aggregate this replaces).
    * Returns the core's (id, degree). Logs a warning if `maxIter`
    * exhausts before the fixpoint — the result may then still contain
    * sub-k vertices. */
  def kCore(edges: DataFrame, k: Int, maxIter: Int = 100): DataFrame = {
    require(k >= 1, "k must be positive")
    val bd = cp(bidir(edges.select(col("src"), col("dst")), withValue = false))
    var d = barrier(cp(bd.select(col("src").as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("d"))))
    var iter = 0
    var result: DataFrame = null
    val dbg = sys.env.contains("GRAFT_CORE_DEBUG")
    while (result == null && iter < maxIter) {
      val t0 = System.nanoTime()
      val removed = d.filter(col("d") < k)
      val nR = removed.count()
      if (nR == 0L) result = d
      else {
        val alive = d.filter(col("d") >= k)
        val remIds = removed.select(col("id").as("src"))
        // the removed set is usually a sliver; broadcast it unless huge
        val remSide =
          if (nR <= 4000000L) broadcast(remIds) else remIds.hint("shuffle_hash")
        val dec = bd.join(remSide, Seq("src"))
          .select(col("dst").as("id"))
          .groupBy(col("id")).agg(count(lit(1)).as("dec"))
        d = barrier(cp(alive.join(dec, Seq("id"), "left_outer")
          .select(col("id"),
            (col("d") - coalesce(col("dec"), lit(0L))).as("d"))))
      }
      if (dbg) println(f"[kcore] round=$iter removed=$nR " +
        f"t=${(System.nanoTime() - t0) / 1e9}%.2f s")
      iter += 1
    }
    if (result == null) {
      logger.warn(s"kCore(k=$k) exhausted maxIter=$maxIter before convergence; " +
        "the returned vertex set may still contain sub-k vertices")
      result = d
    }
    // deg-0 exclusion only matters on the exhaustion path: a vertex whose
    // whole neighborhood died has no edges left and the old edge-based
    // aggregate would not have listed it
    result.filter(col("d") > 0)
      .select(col("id"), col("d").cast("long").as("degree"))
  }

  // =========================================================================
  // HyperBall (Boldi & Vigna, "In-Core Computation of Geometric Centralities
  // with HyperBall", arXiv:1308.2144; HyperANF, WWW'11) — the neighborhood-
  // function / effective-diameter capability the reference's Graphalytics
  // lineage points at (BreadthFirstSearch.java:31). Every vertex carries an
  // HLL counter of its out-ball; each round pointwise-max-merges successors'
  // counters. Register merge is a homomorphism of set union, so counter_v at
  // round t IS the register table of Ball(v, t) exactly — and a global
  // register fixpoint is sound: counters are a deterministic function of the
  // previous counters alone, so an unchanged round can never change again.
  //
  // Counters are the repo's DETERMINISTIC Poly64-derived HLL registers
  // (Sketches.hllRegisters' math), so both the converged per-vertex tables
  // and the per-round (count, Σr) trajectory are exact integers an
  // independent engine reproduces from the edge list — the d_hll_orders
  // oracle discipline applied to an iterated graph computation.
  //
  // Scale shape: state is (id, bucket ≤ 2^p, r) — O(V · min(ball, 2^p))
  // rows; each round is ONE join (edges × state on the successor id) + ONE
  // combinable max-aggregate shuffle, with localCheckpoint + StatsBarrier
  // per round (the wcc/kcore loop conventions). The convergence probe rides
  // a count+sum aggregate over the just-checkpointed state. At p = 6 a
  // billion-vertex graph carries ≤ 64 rows per vertex — the memory bound
  // that makes HyperBall feasible where exact BFS-from-every-vertex is not.
  // =========================================================================

  /** Shared loop: returns the converged registers and the per-round
    * (t, n_regs, Σr, Σ estimate) trajectory — t = 0 plus every round that
    * changed ≥ 1 register. Registers only grow (cells added or ranks
    * raised), so the global (count, Σr) pair is strictly increasing until
    * the fixpoint; its first repeat IS convergence, and the emitted rounds
    * are exactly the strictly-increasing prefix an oracle can reproduce
    * with a LAG filter. */
  private def hyperBallLoop(g: KGraph, p: Int, maxIterations: Int,
                            withEstimates: Boolean = false)
      : (DataFrame, Seq[(Int, Long, Long, Double)]) = {
    import graft.pipeline.Sketches
    val regCols = Sketches.hllLongCols(p)
    // partitioned+sorted by the join key ONCE (see cpKeyed): every
    // round's edges⋈state join re-shuffles and re-sorts only the state
    // side instead of all E edge rows per round
    val edges = cpKeyed(g.edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")).distinct(), "dst")
    var state = barrier(cp(Sketches.hllPackedSingletonsLongs(
      g.vertices.select(col("id"), col("id").cast("string").as("k")),
      "id", "k", p)))
    // the Σ-estimate column only serves neighborhoodFunction /
    // effectiveDiameter — register/trajectory callers skip it; all three
    // statistics come from ONE rowwise pass over the packed registers
    def stats(df: DataFrame): (Long, Long, Double) = {
      val regs = array(regCols.map(col): _*)
      val estCol = if (withEstimates) Sketches.hllEstimateLongs(p)(regs)
                   else lit(0.0)
      val r = df.select(Sketches.hllLongStats(regs).as("_st"),
          estCol.as("_e"))
        .agg(coalesce(sum(col("_st._1").cast("long")), lit(0L)),
          coalesce(sum(col("_st._2")), lit(0L)),
          coalesce(sum(col("_e")), lit(0.0)))
        .head()
      (r.getLong(0), r.getLong(1), r.getDouble(2))
    }
    var cur = stats(state)
    val traj = scala.collection.mutable.ArrayBuffer((0, cur._1, cur._2, cur._3))
    var iter = 0
    var done = cur._1 == 0L // edgeless/empty graph: nothing to propagate
    while (!done && iter < maxIterations) {
      if (iter == 1) dbgExplain("hyperball-step", hbStep(edges, state, regCols))
      val next = barrier(cp(hbStep(edges, state, regCols)))
      val ns = stats(next)
      iter += 1
      done = (ns._1, ns._2) == ((cur._1, cur._2))
      if (!done) traj += ((iter, ns._1, ns._2, ns._3))
      state.unpersist(false)
      state = next
      cur = ns
    }
    (state, traj.toSeq)
  }

  /** One HyperBall round over PACKED counters: each vertex pointwise-max-
    * merges its successors' registers into its own — one join + one
    * combinable aggregate, shipping 2^p register BYTES per edge (the
    * in-core HyperBall layout; a row-per-register formulation multiplies
    * message volume by the ball's bucket count — measured on the R-MAT
    * drill: 23.7 GB shuffle / 658 s row-form, 6.7 GB int-array-packed,
    * 2.3 GB at 1 byte/register). Registers ride 2^p/8 LongType columns
    * (8 byte lanes each) merged by graft.functions.BytewiseMaxAgg — a
    * DeclarativeAggregate with a fixed-width buffer, so the merge plans as
    * a true codegen HashAggregate; the prior BINARY-column UDAF planned as
    * ObjectHashAggregate, whose hash map abandons to sort-based
    * aggregation at 128 distinct keys per task
    * (spark.sql.objectHashAggregate.sortBased.fallbackThreshold) — at
    * R-MAT scale 22 that sort-agg path spilled 58 GB and OOM'd the default
    * 8 g heap; the hash path holds per-task register maps in memory. */
  private def hbStep(edges: DataFrame, state: DataFrame,
                     regCols: Seq[String]): DataFrame = {
    import graft.functions.RegMaxFunctions.bytewiseMaxAgg
    state.unionByName(
        edges.join(state.withColumnRenamed("id", "dst"), Seq("dst"))
          .select(col("src").as("id") +: regCols.map(col): _*))
      .groupBy(col("id"))
      .agg(bytewiseMaxAgg(col(regCols.head)).as(regCols.head),
        regCols.tail.map(c => bytewiseMaxAgg(col(c)).as(c)): _*)
  }

  /** Converged per-vertex out-ball HLL registers (id, bucket, r) — the
    * register table of every vertex's full reachable set, at ≤ 2^p rows per
    * vertex. Undirected balls: pass `g.undirected`. Feed a slice to
    * [[graft.pipeline.Sketches.hllEstimateBy]] for ball-size estimates
    * (closeness/harmonic centrality numerators). */
  def hyperBall(g: KGraph, p: Int = 6, maxIterations: Int = 64): DataFrame =
    graft.pipeline.Sketches.hllUnpackLongs(hyperBallLoop(g, p, maxIterations)._1, "id", p)

  /** Per-round register trajectory (t, n_regs, sum_r) — the exact-integer
    * shadow of the neighborhood function: rows for t = 0 and every round
    * that changed at least one register (a strictly-increasing prefix —
    * see [[hyperBallLoop]]). Hash-gates against an independent engine's
    * ball-of-radius-t register tables. */
  def hyperBallTrajectory(g: KGraph, p: Int = 6, maxIterations: Int = 64): DataFrame = {
    val spark = g.edges.sparkSession
    import spark.implicits._
    hyperBallLoop(g, p, maxIterations)._2
      .map { case (t, n, s, _) => (t.toLong, n, s) }
      .toDF("t", "n_regs", "sum_r")
  }

  /** ONE HyperBall run, BOTH products: (converged register table as
    * [[hyperBall]], per-round trajectory as [[hyperBallTrajectory]]) —
    * for callers that want the final balls AND the neighborhood-function
    * shadow without paying the register propagation twice (the loop
    * already computes the trajectory as its fixpoint test, so the second
    * product is free). */
  def hyperBallWithTrajectory(g: KGraph, p: Int = 6,
                              maxIterations: Int = 64): (DataFrame, DataFrame) = {
    val spark = g.edges.sparkSession
    import spark.implicits._
    val (state, traj) = hyperBallLoop(g, p, maxIterations)
    (graft.pipeline.Sketches.hllUnpackLongs(state, "id", p),
      traj.map { case (t, n, s, _) => (t.toLong, n, s) }
        .toDF("t", "n_regs", "sum_r"))
  }

  /** Neighborhood function: N(t) = Σ_v estimate(|Ball(v, t)|) per emitted
    * round (driver-side Seq — one double per round, the sketch IS the
    * reduction). N(0) = |V| up to HLL error; N(T) ≈ reachable pairs. */
  def neighborhoodFunction(g: KGraph, p: Int = 6,
                           maxIterations: Int = 64): Seq[(Int, Double)] =
    hyperBallLoop(g, p, maxIterations, withEstimates = true)._2
      .map { case (t, _, _, e) => (t, e) }

  /** Geometric centralities from the HyperBall loop — the paper's titular
    * application (Boldi & Vigna 2013 §3: one pass yields closeness AND
    * harmonic centrality for EVERY vertex, where exact all-pairs BFS is
    * quadratic): per vertex over out-ball growth Δ_t = |B(v,t)| − |B(v,t−1)|,
    *
    *   sum_dist  = Σ_t t·Δ_t          (total distance to reachable vertices)
    *   harmonic  = Σ_t Δ_t / t        (Boldi–Vigna's recommended centrality)
    *   closeness = (ball − 1) / sum_dist   (0 for sink vertices)
    *
    * For in-distance variants (centrality of v as a TARGET) pass the
    * reversed graph; for the undirected ones, `g.undirected`. Estimates
    * inherit HLL error at precision p; per-round deltas are clamped at 0
    * (the linear-counting/raw-estimate branch switch can wiggle estimates
    * by a fraction of a count between rounds). Returns
    * (id, ball, sum_dist, harmonic, closeness).
    *
    * Scale shape: the hyperBall round plus TWO bounded joins per round
    * (per-vertex estimate frame + accumulator update) — all combinable
    * aggregates and id-keyed joins, state O(V) rows beside the O(V·2^p)
    * registers; no driver-side per-vertex data ever. */
  def geometricCentralities(g: KGraph, p: Int = 8,
                            maxIterations: Int = 64): DataFrame = {
    import graft.pipeline.Sketches
    val regCols = Sketches.hllLongCols(p)
    val regs = array(regCols.map(col): _*)
    // dst-partitioned+sorted once, reused by every round's join
    val edges = cpKeyed(g.edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")).distinct(), "dst")
    var state = barrier(cp(Sketches.hllPackedSingletonsLongs(
      g.vertices.select(col("id"), col("id").cast("string").as("k")),
      "id", "k", p)))
    def est(df: DataFrame): DataFrame =
      df.select(col("id"), Sketches.hllEstimateLongs(p)(regs).as("est"))
    def stats(df: DataFrame): (Long, Long) = {
      val r = df.select(Sketches.hllLongStats(regs).as("_st"))
        .agg(coalesce(sum(col("_st._1").cast("long")), lit(0L)),
          coalesce(sum(col("_st._2")), lit(0L)))
        .head()
      (r.getLong(0), r.getLong(1))
    }
    var prevEst = cp(est(state))
    var acc = cp(prevEst.select(col("id"),
      lit(0.0).as("sum_dist"), lit(0.0).as("harmonic")))
    var cur = stats(state)
    var iter = 0
    var done = cur._1 == 0L
    while (!done && iter < maxIterations) {
      val next = barrier(cp(hbStep(edges, state, regCols)))
      val ns = stats(next)
      iter += 1
      done = ns == cur
      if (!done) {
        val curEst = cp(est(next))
        val delta = curEst.join(prevEst.withColumnRenamed("est", "_pe"), Seq("id"))
          .select(col("id"), greatest(col("est") - col("_pe"), lit(0.0)).as("_d"))
        acc = barrier(cp(acc.join(delta, Seq("id"), "left_outer")
          .select(col("id"),
            (col("sum_dist") + lit(iter) * coalesce(col("_d"), lit(0.0))).as("sum_dist"),
            (col("harmonic") + coalesce(col("_d"), lit(0.0)) / lit(iter)).as("harmonic"))))
        prevEst.unpersist(false)
        prevEst = curEst
      }
      state.unpersist(false)
      state = next
      cur = ns
    }
    acc.join(prevEst, Seq("id"))
      .select(col("id"), col("est").as("ball"), col("sum_dist"), col("harmonic"),
        when(col("sum_dist") > 0, (col("est") - 1) / col("sum_dist"))
          .otherwise(lit(0.0)).as("closeness"))
  }

  /** Effective diameter at quantile `alpha` (HyperANF convention): the
    * interpolated round t at which N(t) first reaches alpha · N(T). */
  def effectiveDiameter(g: KGraph, alpha: Double = 0.9, p: Int = 6,
                        maxIterations: Int = 64): Double = {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha must be in (0, 1], got $alpha")
    val nf = neighborhoodFunction(g, p, maxIterations)
    val target = alpha * nf.last._2
    val idx = nf.indexWhere(_._2 >= target)
    if (idx <= 0) 0.0
    else {
      val (t0, n0) = nf(idx - 1); val (t1, n1) = nf(idx)
      if (n1 == n0) t1.toDouble
      else t0 + (t1 - t0) * (target - n0) / (n1 - n0)
    }
  }

  // =========================================================================
  // HITS (Kleinberg, JACM 1999): hubs & authorities — the link-analysis
  // companion to PageRank for web-corpus quality signals (host/page link
  // features are the deployed non-content quality inputs in web-scale
  // curation pipelines). Each iteration: a ← Eᵀh, h ← E a, L2-normalized.
  // =========================================================================

  /** HITS hub/authority scores after `iterations` mutual-reinforcement
    * rounds, each side L2-normalized per round (the paper's I/O
    * operations). Returns (id, hub, authority); vertices with no
    * out-edges have hub 0, no in-edges authority 0.
    *
    * Scale shape: per round, two degree-keyed shuffles (groupBy dst then
    * src — the same message shape as [[pageRank]]) plus two 1-row L2
    * aggregates broadcast back; state is one (id, score) row per vertex,
    * no driver-side data. */
  def hits(g: KGraph, iterations: Int = 16): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    val edges = cp(g.edges.select(col("src"), col("dst")).distinct())
    def l2normed(s: DataFrame, c: String): DataFrame = {
      val n = s.agg(sqrt(sum(col(c) * col(c))).as("_n"))
      s.crossJoin(broadcast(n))
        .select(col("id"),
          when(col("_n") > 0, col(c) / col("_n")).otherwise(lit(0.0)).as(c))
    }
    var hub = g.vertices.select(col("id"), lit(1.0).as("hub"))
    var auth: DataFrame = null
    (1 to iterations).foreach { _ =>
      auth = cp(l2normed(g.vertices.select(col("id"))
        .join(edges.join(hub.withColumnRenamed("id", "src"), Seq("src"))
            .groupBy(col("dst").as("id")).agg(sum(col("hub")).as("authority")),
          Seq("id"), "left_outer")
        .select(col("id"), coalesce(col("authority"), lit(0.0)).as("authority")),
        "authority"))
      hub = cp(l2normed(g.vertices.select(col("id"))
        .join(edges.join(auth.withColumnRenamed("id", "dst"), Seq("dst"))
            .groupBy(col("src").as("id")).agg(sum(col("authority")).as("hub")),
          Seq("id"), "left_outer")
        .select(col("id"), coalesce(col("hub"), lit(0.0)).as("hub")),
        "hub"))
    }
    hub.join(auth, Seq("id"))
  }

  /** The exact-integer shadow of [[hits]]: UN-normalized hub/authority
    * counts after `iterations` rounds (h₀ = 1; a_k = Eᵀh_{k−1},
    * h_k = E a_k). Because per-round L2 normalization only rescales, the
    * normalized direction is identical — so these integers hash-gate HITS
    * against an independent engine with no floating-point replay (the
    * d_hll_orders / hyperBallTrajectory discipline). Counts grow like
    * (max degree)^iterations: `iterations` is capped at 6 and every
    * round's values are checked against a 2^40 ceiling, failing loudly
    * instead of silently wrapping (sound for degrees below 2^22 —
    * 4M-degree hubs between two checks — far beyond any gate fixture;
    * past that, use [[hits]]). Returns (id, hub, authority) as longs. */
  def hitsCounts(g: KGraph, iterations: Int = 3): DataFrame = {
    require(iterations >= 1 && iterations <= 6,
      s"iterations must be in [1, 6] for the integer shadow, got $iterations")
    val edges = cp(g.edges.select(col("src"), col("dst")).distinct())
    def guarded(s: DataFrame, c: String): DataFrame = {
      val mx = s.agg(coalesce(max(col(c)), lit(0L))).head().getLong(0)
      require(mx < (1L << 40),
        s"hitsCounts overflow guard: max $c $mx exceeds 2^40 — lower " +
          "iterations or use hits() (normalized doubles)")
      s
    }
    var hub = g.vertices.select(col("id"), lit(1L).as("hub"))
    var auth: DataFrame = null
    (1 to iterations).foreach { _ =>
      auth = guarded(cp(g.vertices.select(col("id"))
        .join(edges.join(hub.withColumnRenamed("id", "src"), Seq("src"))
            .groupBy(col("dst").as("id")).agg(sum(col("hub")).as("authority")),
          Seq("id"), "left_outer")
        .select(col("id"), coalesce(col("authority"), lit(0L)).as("authority"))),
        "authority")
      hub = guarded(cp(g.vertices.select(col("id"))
        .join(edges.join(auth.withColumnRenamed("id", "dst"), Seq("dst"))
            .groupBy(col("src").as("id")).agg(sum(col("authority")).as("hub")),
          Seq("id"), "left_outer")
        .select(col("id"), coalesce(col("hub"), lit(0L)).as("hub"))),
        "hub")
    }
    hub.join(auth, Seq("id"))
  }
}
