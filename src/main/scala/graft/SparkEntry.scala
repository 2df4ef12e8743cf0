package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.algos.GraphAlgorithms
import graft.core.KGraph
import graft.core.KGraph.EdgeDirection
import graft.pipeline.{Ann, Curation, Dedup, Events, Layout, LinAlg, Multimodal, Sketches, TextAnalysis}

/**
 * Driver contract: every implemented operator from SURVEY.md §2 is exposed as
 * a named query over the driver-provided parquet tables, with a DuckDB oracle
 * where the semantics are ANSI-SQL-expressible.
 *
 * Graph queries derive graphs from the TPC-H-ish tables:
 *  - supplier→part bipartite graph from lineitem (weights = min quantity)
 *  - part co-purchase graph (parts sharing an order)
 *  - customer "tree" graph  c → c div 2  (deep paths — exercises iterative
 *    convergence; closed-form/recursive oracles)
 *  - customer "star clusters" c → c - c%100 (closed-form oracles for
 *    pagerank/wcc/label-propagation fixpoints)
 *
 * Float discipline for oracle parity: money is summed as exact integer cents
 * (floor(x*100 + 0.5) per row — identical IEEE ops in both engines);
 * iterative-algorithm outputs with float accumulation are round()ed to 6
 * decimals; everything else is integer/string typed.
 */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Normalize events.ts to a session-tz microsecond timestamp whatever the
    * parquet writer produced. Generations of the driver's testdata have
    * shipped it as TIMESTAMP(NANOS) — which Spark only reads as a nanos long
    * (legacy conf) — and as plain TIMESTAMP micros (read as NTZ); the DuckDB
    * oracle sees TIMESTAMP either way (`CAST(ts AS TIMESTAMP)` truncates
    * nanos → micros exactly like `div 1000` here), so both paths land on
    * identical values. */
  private def events(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = t(s, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => // TIMESTAMP or TIMESTAMP_NTZ; session tz is UTC in all mains
        raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  /** exact integer cents from a double money column (same IEEE ops in DuckDB) */
  private def cents(c: Column): Column = floor(c * 100 + 0.5).cast("long")

  // ---- derived graphs -----------------------------------------------------
  // The derived graphs are the workload's INPUTS, shared by many queries; a
  // real deployment materializes them once (a prepared table / materialized
  // view), so the driver's per-query timings shouldn't re-pay graph
  // derivation per query. Memoized per (SparkContext, sf dir) and pinned with
  // localCheckpoint. Correctness is unaffected — every query still computes
  // from the same parquet-derived frames.

  private val graphCache =
    scala.collection.concurrent.TrieMap.empty[(Int, String, String), KGraph]

  private def cachedGraph(s: SparkSession, dir: String, key: String)
                         (build: => KGraph): KGraph =
    graphCache.getOrElseUpdate(
      (System.identityHashCode(s.sparkContext), dir, key), {
        val g = build
        KGraph(g.vertices.localCheckpoint(true), g.edges.localCheckpoint(true))
      })

  // prepared neighborhood (canonical edges + sorted adjacency arrays) for
  // the intersection family — like the graphs above, a real deployment
  // materializes this ONCE per graph (the reference's prepare step), so the
  // four co-purchase similarity queries share it instead of re-deriving it.
  // near-dup cluster frames (id, rep) — a dedup pipeline forms clusters
  // ONCE and every retention/reporting/leakage policy reads them
  private val clusterCache = scala.collection.concurrent.TrieMap
    .empty[(Int, String, String), DataFrame]

  private def cachedMinhashClusters(s: SparkSession, dir: String): DataFrame =
    clusterCache.getOrElseUpdate(
      (System.identityHashCode(s.sparkContext), dir, "minhash"),
      Dedup.minHashLSH(t(s, dir, "documents"), threshold = 0.5, poly = true)
        .toDF("doc_id", "rep").localCheckpoint(true))

  // ONE HyperBall register loop on the tree graph serves both the
  // converged-register gate and the trajectory gate — the trajectory is
  // the loop's own fixpoint bookkeeping, so running the loop twice would
  // only re-measure scheduling floor, not semantics
  private val hyperBallCache = scala.collection.concurrent.TrieMap
    .empty[(Int, String, Int), (DataFrame, DataFrame)]

  private def cachedHyperBall(s: SparkSession, dir: String,
                              p: Int = 6): (DataFrame, DataFrame) =
    // the HLL precision p is part of the key (a caller requesting a
    // different p must never read registers computed at another)
    hyperBallCache.getOrElseUpdate(
      (System.identityHashCode(s.sparkContext), dir, p), {
        val (regs, traj) =
          GraphAlgorithms.hyperBallWithTrajectory(treeGraph(s, dir), p = p)
        (regs.localCheckpoint(true), traj.localCheckpoint(true))
      })

  private def cachedSimhashClusters(s: SparkSession, dir: String): DataFrame =
    clusterCache.getOrElseUpdate(
      (System.identityHashCode(s.sparkContext), dir, "simhash"),
      Dedup.simHashDedup(t(s, dir, "documents"), maxHamming = 3, poly = true)
        .toDF("doc_id", "rep").localCheckpoint(true))

  // verified edit-distance near-dup pairs — the dedup pipeline's candidate
  // materialization: the pair set is produced once and consumed by both
  // the pair export and the clustering policy
  private val editPairsCache = scala.collection.concurrent.TrieMap
    .empty[(Int, String), DataFrame]

  private def cachedEditPairs(s: SparkSession, dir: String): DataFrame =
    editPairsCache.getOrElseUpdate(
      (System.identityHashCode(s.sparkContext), dir),
      Dedup.editDistancePairs(t(s, dir, "documents"), maxDist = 8, q = 5)
        .localCheckpoint(true))

  // learned BPE merge table (tiny: `iters` rows) — the vocabulary a
  // deployment induces once per corpus and reuses for every encode pass
  private val bpeCache = scala.collection.concurrent.TrieMap
    .empty[(Int, String, Int), Seq[(Int, String, String, String, Long)]]

  private def cachedBpeMerges(s: SparkSession, dir: String,
                              iters: Int): Seq[(Int, String, String, String, Long)] =
    bpeCache.getOrElseUpdate(
      (System.identityHashCode(s.sparkContext), dir, iters),
      TextAnalysis.bpeLearn(t(s, dir, "documents"), iters).collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2),
          r.getString(3), r.getLong(4))).toSeq)

  private val nbrCache = scala.collection.concurrent.TrieMap
    .empty[(Int, String, String), GraphAlgorithms.UndirectedNeighborhood]

  private def cachedNeighborhood(s: SparkSession, dir: String, key: String,
                                 assumeCanonical: Boolean = false,
                                 hubDegreeCap: Int = GraphAlgorithms.HubDegreeCap)
                                (g: => KGraph): GraphAlgorithms.UndirectedNeighborhood =
    // cap is part of the key: the same graph prepared at two caps is two
    // different (differently bucketed) materializations
    nbrCache.getOrElseUpdate(
      (System.identityHashCode(s.sparkContext), dir, s"$key#cap=$hubDegreeCap"),
      GraphAlgorithms.prepareNeighborhood(g, hubDegreeCap = hubDegreeCap,
        assumeCanonical = assumeCanonical))

  private def coPurchaseNbr(s: SparkSession, dir: String) =
    // saltedPairs emits src<dst from sorted arrays and the builder dedups —
    // canonical by construction, so prepare skips its canonicalization pass
    cachedNeighborhood(s, dir, "coPurchase", assumeCanonical = true)(
      coPurchaseGraph(s, dir))

  /** supplier → part (+1e6 offset) weighted by min quantity, deduped. */
  private def supplierPartGraph(s: SparkSession, dir: String): KGraph =
    cachedGraph(s, dir, "supplierPart") {
      val e = t(s, dir, "lineitem")
        .groupBy(col("l_suppkey").as("src"), (col("l_partkey") + 1000000L).as("dst"))
        .agg(min(col("l_quantity")).cast("long").as("value"))
        .localCheckpoint(true) // vertex derivation reuses, not re-aggregates
      KGraph.fromEdges(e, id => id)
    }

  /** Baskets above this size take the salted pair-expansion path: their
    * sorted item array is split into `ceil(k / SaltChunk)` chunks, the chunk
    * PAIRS are spread across the cluster by a hash repartition, and each
    * chunk-pair row expands its pairs there. A 10⁵-item mega-order is
    * O(k²)=5·10⁹ pairs; unsalted, one task materializes all of them. */
  private val SaltChunk = 512

  /** Hot-key document-frequency cap shared by the df-capped pair
    * generators (d_containment, d_cdc_dedup) AND interpolated into their
    * DuckDB oracle SQL — one constant so the Spark side and the oracle can
    * never silently diverge on the cut. */
  private val HotDfCap = 1024L

  /** d_heavy_by_source's φ denominator (key is heavy in its group when
    * cnt·φdenom > n_group), interpolated into BOTH the Spark call and the
    * oracle SQL for the same no-silent-divergence reason as [[HotDfCap]]. */
  private val HeavyBySourcePhiDenom = 40

  /** ev_value_sketch's sub-bucket bits (s): exact region < 2^(s+1), log
    * buckets of 2^s sub-buckets per octave. The oracle SQL derives its
    * three literals from this same constant — HotDfCap discipline. */
  private val ValueSketchBits = 7

  /** d_repeated_spans' gram length (tokens) and cross-document frequency
    * floor, interpolated into BOTH sides — HotDfCap discipline. */
  private val RepeatedSpanN = 8
  private val RepeatedSpanMinDocs = 2

  /** parts co-occurring in the same order (canonical a<b). Pair generation is
    * a per-order sorted-array expansion (one groupBy + a codegen'd pair
    * expression + explode), not a lineitem self-join — one scan of lineitem
    * instead of two, and no interpreted nested-HOF slicing per order. Orders
    * bigger than SaltChunk go through the salted chunk-pair path so one
    * mega-order cannot produce a straggler task. */
  private def coPurchaseGraph(s: SparkSession, dir: String): KGraph =
    cachedGraph(s, dir, "coPurchase") {
      val byOrder = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey")).agg(array_sort(collect_set(col("l_partkey"))).as("ps"))
      // checkpoint the pair expansion BEFORE fromEdges: the vertex table is
      // derived from the edges, and without the cut it re-runs the whole
      // explode+distinct pipeline a second time (~2x the build cost)
      val e = graft.core.SkewUtils.saltedPairs(byOrder, "ps", SaltChunk)
        .distinct().withColumn("value", lit(1L)).localCheckpoint(true)
      KGraph.fromEdges(e, id => id)
    }

  /** customer binary tree: c → c div 2 for c ≥ 2; weight (c % 7) + 1. */
  private def treeGraph(s: SparkSession, dir: String): KGraph =
    cachedGraph(s, dir, "tree") {
      val e = t(s, dir, "customer").select(col("c_custkey").as("src"))
        .filter(col("src") >= 2)
        .select(col("src"), expr("src div 2").as("dst"),
          (col("src") % 7 + 1).cast("double").as("value"))
      KGraph.fromEdges(e, id => id)
    }

  /** skewed hub-star + ring over customers: (1, c) for every c ≥ 2 (the hub)
    * plus (c, c+1) ring edges — every ring edge closes a triangle through
    * the hub, and vertex 1's degree is |customer|−1 (≈10⁴ at sf0.1). */
  private def skewHubGraph(s: SparkSession, dir: String): KGraph =
    cachedGraph(s, dir, "skewHub") {
      val cust = t(s, dir, "customer").select(col("c_custkey").as("c"))
      val star = cust.filter(col("c") >= 2)
        .select(lit(1L).as("src"), col("c").as("dst"))
      val ring = cust.filter(col("c") >= 2)
        .select(col("c").as("src"), (col("c") + 1).as("dst"))
        .join(cust.select(col("c").as("dst")), Seq("dst"), "left_semi")
        .select(col("src"), col("dst"))
      KGraph.fromEdges(
        star.unionByName(ring).withColumn("value", lit(1.0)), id => id)
    }

  /** 10⁵-degree-hub star+path — the skew DRILL fixture, one order beyond
    * [[skewHubGraph]]'s natural sf0.1 hub: vertex 1 adjacent to ALL of
    * 2..100001 (degree 100 000) plus path edges (c, c+1), every one of which
    * closes a triangle through the hub. Pure derivation (spark.range), with
    * closed-form LCC / Jaccard / Adamic-Adar / triangle-count oracles — so
    * the whole intersection family (hub split at the PRODUCTION cap 8192 +
    * galloping intersections, GraphSetOps) is gated at 10⁵ degree. */
  private val SkewHubN = 100001L
  private def skewHub1e5(s: SparkSession, dir: String): KGraph =
    cachedGraph(s, dir, "skewHub1e5") {
      val star = s.range(2L, SkewHubN + 1)
        .select(lit(1L).as("src"), col("id").as("dst"))
      val path = s.range(2L, SkewHubN)
        .select(col("id").as("src"), (col("id") + 1).as("dst"))
      KGraph.fromEdges(
        star.unionByName(path).withColumn("value", lit(1.0)), id => id)
    }
  private def skewHub1e5Nbr(s: SparkSession, dir: String) =
    // star (1,c) and path (c,c+1) ranges are canonical and disjoint
    cachedNeighborhood(s, dir, "skewHub1e5", assumeCanonical = true)(
      skewHub1e5(s, dir))

  /** 4096-degree-hub star+path for the EXACT 2-hop skew drill. Exact
    * distance-2 output is intrinsically Θ(D²) per D-degree hub (every hub
    * neighbor owes ≥ D−1 distance-2 vertices), so a 10⁵ hub would make the
    * ANSWER 10¹⁰ values — no algorithm escapes that; the drill instead uses
    * a 4·10³ hub with a LOW split cap (256 → 16 bucket partials) so the
    * full bucketed candidate pipeline (aligned hub partials, salted level-1
    * dedup, galloping direct-neighbor subtraction) runs end to end while
    * the answer stays 1.7·10⁷ values. */
  private val SkewTwoHopN = 4097L
  private def skewTwoHopNbr(s: SparkSession, dir: String) =
    // star + path ranges are canonical and disjoint; the LOW cap (256) is
    // the drill's point — see skewTwoHopGraph's doc
    cachedNeighborhood(s, dir, "skewTwoHop", assumeCanonical = true,
      hubDegreeCap = 256)(skewTwoHopGraph(s, dir))
  private def skewTwoHopGraph(s: SparkSession, dir: String): KGraph =
    cachedGraph(s, dir, "skewTwoHop") {
      val star = s.range(2L, SkewTwoHopN + 1)
        .select(lit(1L).as("src"), col("id").as("dst"))
      val path = s.range(2L, SkewTwoHopN)
        .select(col("id").as("src"), (col("id") + 1).as("dst"))
      KGraph.fromEdges(
        star.unionByName(path).withColumn("value", lit(1.0)), id => id)
    }

  /** 10⁵-degree-hub truss drill graph: star (1,c) for c ∈ 2..100001, path
    * (c,c+1), skip chords (c,c+2), and an 11-clique on 2..12. k=11 peels
    * everything but hub+clique — path edges (support ≤ 3+ε), skips (2),
    * star spokes to non-clique vertices (4) all drop in round 1; the
    * surviving 12-clique (hub ∪ clique, every edge support 10) is the
    * fixpoint. The hub splits at the PRODUCTION cap (8192 → 16 buckets),
    * so round 1's support computation runs the aligned-bucket partial
    * path on a 10⁵-degree vertex. */
  private def skewTrussGraph(s: SparkSession, dir: String): KGraph =
    cachedGraph(s, dir, "skewTruss") {
      val star = s.range(2L, SkewHubN + 1)
        .select(lit(1L).as("src"), col("id").as("dst"))
      val path = s.range(2L, SkewHubN)
        .select(col("id").as("src"), (col("id") + 1).as("dst"))
      val skip = s.range(2L, SkewHubN - 1)
        .select(col("id").as("src"), (col("id") + 2).as("dst"))
      val clique = s.range(2L, 13L).select(col("id").as("src"))
        .join(s.range(2L, 13L).select(col("id").as("dst")),
          col("src") < col("dst"))
      KGraph.fromEdges(
        star.unionByName(path).unionByName(skip).unionByName(clique)
          .withColumn("value", lit(1.0)), id => id)
    }

  /** customer star clusters: c → c - c%100 for c%100 ≠ 0; weight 1. */
  private def starGraph(s: SparkSession, dir: String): KGraph =
    cachedGraph(s, dir, "star") {
      val e = t(s, dir, "customer").select(col("c_custkey").as("src"))
        .filter(col("src") % 100 =!= 0)
        .select(col("src"), (col("src") - col("src") % 100).as("dst"), lit(1.0).as("value"))
      KGraph.fromEdges(e, id => id)
    }

  /** Rank-1 probe fixture for the ORACLE-GATED cf queries: item = partkey
    * mod 5, rating = item + 1 — every user's rated items carry DISTINCT
    * ratings 1..5, so a correctly-training factorizer's per-user top
    * predicted item is max(item): a closed-form external oracle. */
  private def cfProbeRatings(s: SparkSession, dir: String)
      : org.apache.spark.rdd.RDD[(graft.algos.compute.Cf.CfId, graft.algos.compute.Cf.CfId, Float)] = {
    import graft.algos.compute.Cf
    t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      .join(t(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey")),
        col("o_orderkey") === col("l_orderkey"))
      .filter(col("o_custkey") < 500)
      .select(col("o_custkey"), (col("l_partkey") % 5).as("item")).distinct()
      .rdd.map(r => (Cf.CfId.user(r.getLong(0)), Cf.CfId.item(r.getLong(1)),
        (r.getLong(1) + 1).toFloat))
      .persist()
  }

  /** Per-user argmax-predicted item from trained CF vertex state
    * (baseline, factors, weight). Plain factorizers score dot(p_u, q_i);
    * SVD++ scores b_i + q_iᵀ(p_u + Σ y_j/√N) (the μ + b_u terms are
    * per-user constants — order-irrelevant). Grouping is per user over ≤5
    * probe items, so the argmax is a tiny distributed reduce. */
  private def topPredicted(
      s: SparkSession,
      ratings: org.apache.spark.rdd.RDD[(graft.algos.compute.Cf.CfId, graft.algos.compute.Cf.CfId, Float)],
      verts: org.apache.spark.rdd.RDD[(graft.algos.compute.Cf.CfId, (Float, Array[Float], Array[Float]))],
      svdpp: Boolean = false): org.apache.spark.rdd.RDD[(Long, Long)] = {
    def dot(a: Array[Float], b: Array[Float]): Float = {
      var acc = 0f; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { acc += a(i) * b(i); i += 1 }; acc
    }
    val users = verts.filter(_._1.typ == 0).map { case (id, v) => (id.id, v) }
    val items = verts.filter(_._1.typ == 1).map { case (id, v) => (id.id, v) }
    ratings.map { case (u, i, _) => (i.id, u.id) }
      .join(items).map { case (i, (u, iv)) => (u, (i, iv)) }
      .join(users)
      .map { case (u, ((i, iv), uv)) => (u, (i, iv, uv)) }
      .groupByKey()
      .map { case (u, rows0) =>
        val rows = rows0.toArray
        val scored: Array[(Long, Double)] =
          if (!svdpp)
            rows.map { case (i, (_, fi, _), (_, fu, _)) => (i, dot(fu, fi).toDouble) }
          else {
            val dim = rows.head._2._2.length
            val sumY = new Array[Float](dim)
            rows.foreach { case (_, (_, _, y), _) =>
              var k = 0; while (k < dim && k < y.length) { sumY(k) += y(k); k += 1 } }
            val scale = (1.0 / math.sqrt(rows.length.toDouble)).toFloat
            val (_, fu, _) = rows.head._3
            val pu = fu.clone()
            var k = 0; while (k < dim && k < pu.length) { pu(k) += sumY(k) * scale; k += 1 }
            rows.map { case (i, (bi, qi, _), _) => (i, bi + dot(qi, pu).toDouble) }
          }
        (u, scored.minBy { case (i, p) => (-p, i) }._1)
      }
  }

  /** oracle for the cf_*_top queries over the rank-1 probe fixture;
    * agg is "max" (descent-trained models rank the top-rated item first) or
    * "min" (SVD++'s reference-faithful flipped bias update, see below). */
  private def sqlCfTop(agg: String) =
    s"""WITH r AS (
      |  SELECT DISTINCT o_custkey AS u, l_partkey % 5 AS item
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |  WHERE o_custkey < 500)
      |SELECT u AS user_id, $agg(item) AS top_item FROM r GROUP BY u""".stripMargin

  /** shared SQL fragments for the oracle side */
  private val sqlSupplierPartEdges =
    """SELECT l_suppkey AS src, l_partkey + 1000000 AS dst,
      |       CAST(min(l_quantity) AS BIGINT) AS value
      |FROM lineitem GROUP BY 1, 2""".stripMargin
  private val sqlCoPurchaseEdges =
    """SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
      |FROM lineitem a JOIN lineitem b
      |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey""".stripMargin
  private val sqlTreeEdges =
    """SELECT c_custkey AS src, c_custkey // 2 AS dst,
      |       CAST(c_custkey % 7 + 1 AS DOUBLE) AS value
      |FROM customer WHERE c_custkey >= 2""".stripMargin

  // =========================================================================

  /** Named materialization thunks for the SHARED prep the query set
    * memoizes (derived graphs + prepared neighborhoods). Bench runs these
    * BEFORE the timed query loop and reports each as its own `prep:<name>`
    * entry, so a `g_*` query's number is the query's own cost — not
    * whichever query happened to touch a cold cache first. (BENCH_r06's
    * g_skew_adamic read 32 s in the driver artifact vs 1.5 s warm in
    * isolation purely because it paid the 10⁵-hub graph build + dynamic
    * bucket prep for the whole skew family.) Each thunk is idempotent: it
    * just forces the memoizing getter, whose builders localCheckpoint
    * eagerly. */
  def sharedPrep: Seq[(String, (SparkSession, String) => Unit)] = Seq(
    "supplierPart" -> ((s, d) => { supplierPartGraph(s, d); () }),
    "coPurchase" -> ((s, d) => { coPurchaseGraph(s, d); () }),
    "coPurchaseNbr" -> ((s, d) => { coPurchaseNbr(s, d); () }),
    "tree" -> ((s, d) => { treeGraph(s, d); () }),
    "star" -> ((s, d) => { starGraph(s, d); () }),
    "skewHub" -> ((s, d) => { skewHubGraph(s, d); () }),
    "skewHub1e5" -> ((s, d) => { skewHub1e5(s, d); () }),
    "skewHub1e5Nbr" -> ((s, d) => { skewHub1e5Nbr(s, d); () }),
    "skewTwoHop" -> ((s, d) => { skewTwoHopGraph(s, d); () }),
    "skewTwoHopNbr" -> ((s, d) => { skewTwoHopNbr(s, d); () }),
    "skewTruss" -> ((s, d) => { skewTrussGraph(s, d); () }),
    "bpeMerges" -> ((s, d) => { cachedBpeMerges(s, d, 6); () }),
    "editPairs" -> ((s, d) => { cachedEditPairs(s, d); () }),
    "minhashClusters" -> ((s, d) => { cachedMinhashClusters(s, d); () }),
    "simhashClusters" -> ((s, d) => { cachedSimhashClusters(s, d); () }))

  // =========================================================================
  // Scale drill — NOT gated, NOT benched: a deterministic multi-million-edge
  // R-MAT graph (scale 20, 8M edge draws — one-to-two orders beyond the
  // 1e5-hub gate fixtures) driving the iterative peel/propagation family,
  // so iteration count and shuffle growth across a genuine scale step are
  // MEASURED in the SHUFFLE artifact instead of argued from plan shape.
  // graft.tools.Profile's full-gate mode appends these as drill:* rows after the
  // gate sweep; Verify/Bench ignore them, so the correctness gate stays
  // 100% hash-exact-oracled and bench numbers keep their cross-round
  // comparability.
  // =========================================================================

  private def rmatDrillGraph(s: SparkSession, scale: Int, edges: Long): KGraph =
    cachedGraph(s, "-", s"rmat$scale-$edges") {
      val g = graft.core.GraphGenerators.rmatGraph(s, scale, edges)
      // simple graph for the peels: canonical undirected edge set
      KGraph(g.vertices,
        g.edges.filter(col("src") =!= col("dst"))
          .select(least(col("src"), col("dst")).as("src"),
            greatest(col("src"), col("dst")).as("dst"))
          .distinct().withColumn("value", lit(1.0)))
    }

  // wcc/kcore ride the 7.7M-canonical-edge scale-20 graph; ktruss (whose
  // support sweep is intrinsically Σ-deg²-shaped on a heavy tail — measured
  // 540 s / 62 GB shuffle at scale 20) rides a scale-18 / ~1.9M-edge
  // sibling, still ~7× the 1e5-hub gate fixture's edge count
  def scaleDrill: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "rmat_prep" -> ((s, _) => rmatDrillGraph(s, 20, 8000000L).edges),
    "rmat_wcc" -> ((s, _) =>
      GraphAlgorithms.wcc(rmatDrillGraph(s, 20, 8000000L))),
    "rmat_kcore" -> ((s, _) =>
      GraphAlgorithms.kCore(rmatDrillGraph(s, 20, 8000000L).edges, k = 8)),
    "rmat_hyperball" -> ((s, _) =>
      GraphAlgorithms.hyperBall(rmatDrillGraph(s, 20, 8000000L), p = 6)),
    "rmat_prep18" -> ((s, _) => rmatDrillGraph(s, 18, 2000000L).edges),
    "rmat_ktruss" -> ((s, _) =>
      GraphAlgorithms.kTruss(rmatDrillGraph(s, 18, 2000000L).edges, k = 6)),
    // the r13 scale cliff, re-measured per round as the sweep policy
    // evolves: 541 s / 62 GB under the r13 per-edge burst-fallback sweep;
    // OOM-at-8g / 8.7 GB under the r14 full-triple materialization; the
    // r15 streamed oriented sweep runs it at the default heap
    "rmat_ktruss20" -> ((s, _) =>
      GraphAlgorithms.kTruss(rmatDrillGraph(s, 20, 8000000L).edges, k = 6)),
    // second scale point for the iterative drills (scale 22, ~31M
    // canonical edges — 4× the scale-20 row) so each algorithm's growth
    // curve is two-point-pinned like ktruss's Σdeg² curve. prep22 runs
    // FIRST so generation cost is its own row, and the truss — the
    // heaviest peel — runs LAST so an executor-memory cliff there cannot
    // poison the lighter drills' session
    "rmat_prep22" -> ((s, _) => rmatDrillGraph(s, 22, 32000000L).edges),
    "rmat_wcc22" -> ((s, _) =>
      GraphAlgorithms.wcc(rmatDrillGraph(s, 22, 32000000L))),
    "rmat_kcore22" -> ((s, _) =>
      GraphAlgorithms.kCore(rmatDrillGraph(s, 22, 32000000L).edges, k = 8)),
    "rmat_hyperball22" -> ((s, _) =>
      GraphAlgorithms.hyperBall(rmatDrillGraph(s, 22, 32000000L), p = 6)),
    // second truss scale point (4× the edges) so the oriented sweep's
    // growth curve is two-point-pinned like its predecessor's Σdeg² curve
    "rmat_ktruss22" -> ((s, _) =>
      GraphAlgorithms.kTruss(rmatDrillGraph(s, 22, 32000000L).edges, k = 6)),
    // HITS at scale, two points (VERDICT r16 item 5 / r15 item 5): the
    // per-round shape is two degree-keyed shuffles; 8 rounds keeps the
    // drill minutes-bounded while exercising the full loop machinery
    "rmat_hits" -> ((s, _) =>
      GraphAlgorithms.hits(rmatDrillGraph(s, 20, 8000000L), iterations = 8)),
    "rmat_hits22" -> ((s, _) =>
      GraphAlgorithms.hits(rmatDrillGraph(s, 22, 32000000L), iterations = 8)),
    // Pregel RDD runtime at scale (VERDICT r16 item 5): exercises the
    // loop's serialized state and adjacency blocks (Pregel.LoopStorage)
    // under memory pressure. SemiClustering carries the fattest per-vertex state of the
    // Pregel family (bounded cluster sets, member lists in messages);
    // SybilRank is the lean-state counterpoint at scale 22.
    "rmat_semicluster" -> ((s, _) => {
      import graft.algos.compute.AdvancedAlgorithms.{SemiClustering, SemiCluster}
      import graft.pregel.Pregel
      val g = rmatDrillGraph(s, 20, 8000000L)
      val edges = g.edges.select(col("src"), col("dst"))
        .rdd.flatMap(r => Iterator(
          (r.getLong(0), (r.getLong(1), 1.0)),
          (r.getLong(1), (r.getLong(0), 1.0))))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      val verts = edges.map(_._1).distinct().map(id => (id, Set.empty[SemiCluster]))
      val res = Pregel.run(s, new SemiClustering(iterations = 3, maxClusters = 2,
        clusterCapacity = 4, scoreFactor = 0.5),
        verts, edges, numPartitions = 64, maxIterations = 3)
      import s.implicits._
      val out = res.vertices.map { case (id, clusters) => (id, clusters.size) }
        .toDF("id", "n_clusters").localCheckpoint(true)
      res.unpersistState(); edges.unpersist(false)
      out
    }),
    "rmat_sybilrank22" -> ((s, _) => {
      import graft.algos.compute.AdvancedAlgorithms.{SybilRank, SybilValue}
      import graft.pregel.Pregel
      val g = rmatDrillGraph(s, 22, 32000000L)
      val edges = g.edges.select(col("src"), col("dst"))
        .rdd.flatMap(r => Iterator(
          (r.getLong(0), (r.getLong(1), 1.0)),
          (r.getLong(1), (r.getLong(0), 1.0))))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      val verts = edges.map(_._1).distinct()
        .map(id => (id, SybilValue(0.0, isTrusted = id % 100 == 0)))
      val res = Pregel.run(s, new SybilRank(), verts, edges,
        numPartitions = 128, maxIterations = 5)
      import s.implicits._
      val out = res.vertices.map { case (id, v) => (id, math.round(v.rank * 1e6) / 1e6) }
        .toDF("id", "rank").localCheckpoint(true)
      res.unpersistState(); edges.unpersist(false)
      out
    }))

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q2_revenue_by_nation")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- relational core (Catalyst: pushdown, joins, windows) ------------

    "q1_pricing_summary" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-01")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast("long")).as("sum_qty"),
          sum(cents(col("l_extendedprice"))).as("sum_base_cents"),
          sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("sum_disc_cents"),
          count(lit(1)).as("count_order"))
        .withColumn("avg_qty", round(col("sum_qty").cast("double") / col("count_order"), 6))
    }),

    "q2_revenue_by_nation" -> ((s, dir) => {
      t(s, dir, "orders")
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(sum(cents(col("o_totalprice"))).as("revenue_cents"),
          count(lit(1)).as("n_orders"))
    }),

    "q3_top_customers" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"))
        .orderBy(desc("n_orders"), asc("o_custkey"))
        .limit(10)
    }),

    "q4_order_ranks" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey")).orderBy(asc("o_orderdate"), asc("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("rk"))
    }),

    "q5_low_activity" -> ((s, dir) => {
      val counts = t(s, dir, "orders")
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
      t(s, dir, "customer")
        .join(counts, col("c_custkey") === col("o_custkey"), "left_outer")
        .select(col("c_custkey"), coalesce(col("n_orders"), lit(0L)).as("n_orders"))
        .filter(col("n_orders") <= 4)
    }),

    // ---- KGraph transforms (SURVEY §2.1) ---------------------------------

    "g_out_degrees" -> ((s, dir) => supplierPartGraph(s, dir).outDegrees.toDF("id", "value")),

    "g_in_degrees" -> ((s, dir) => supplierPartGraph(s, dir).inDegrees.toDF("id", "value")),

    "g_subgraph" -> ((s, dir) =>
      supplierPartGraph(s, dir)
        .subgraph(col("id") % 2 === 0, col("value") >= 25)
        .edges),

    "g_undirected_degrees" -> ((s, dir) =>
      supplierPartGraph(s, dir).undirected.outDegrees.toDF("id", "value")),

    "g_reduce_min_edge" -> ((s, dir) =>
      supplierPartGraph(s, dir).reduceOnEdges(min, EdgeDirection.In).toDF("id", "value")),

    // ---- iterative graph algorithms (SURVEY §2.4) ------------------------

    "g_wcc_clusters" -> ((s, dir) => GraphAlgorithms.wcc(starGraph(s, dir))),

    "g_wcc_deep" -> ((s, dir) => GraphAlgorithms.wcc(treeGraph(s, dir))),

    "g_wcc_logrounds" -> ((s, dir) => GraphAlgorithms.wccLogRounds(treeGraph(s, dir))),

    "g_bfs_tree" -> ((s, dir) =>
      GraphAlgorithms.bfs(treeGraph(s, dir), 1L, directed = false)),

    "g_sssp_tree" -> ((s, dir) =>
      GraphAlgorithms.sssp(treeGraph(s, dir), 1L, directed = false)),

    "g_mssp_tree" -> ((s, dir) =>
      GraphAlgorithms.mssp(treeGraph(s, dir), Seq(100L, 101L, 77L))),

    // HyperBall (Boldi–Vigna) on the customer binary tree: converged
    // per-vertex OUT-ball (ancestor-set) HLL register tables — exact
    // integers, the d_hll_orders register discipline iterated through a
    // graph loop, reproduced by the oracle from a recursive ancestor CTE.
    // ONE loop run feeds this gate AND g_hyperball_nf (the trajectory is
    // the loop's own fixpoint test — a deployment computes both in one
    // pass, hyperBallWithTrajectory), memoized like the graph frames
    "g_hyperball" -> ((s, dir) => cachedHyperBall(s, dir)._1),

    // per-round (t, n_regs, sum_r) register trajectory — the exact-integer
    // shadow of the neighborhood function N(t); strictly-increasing prefix
    // (register fixpoint), LAG-filtered identically in the oracle
    "g_hyperball_nf" -> ((s, dir) => cachedHyperBall(s, dir)._2),

    "g_pagerank_stars" -> ((s, dir) =>
      GraphAlgorithms.pageRank(starGraph(s, dir), tolerance = 0.0001, resetProb = 0.15)
        .withColumn("value", round(col("value"), 6))),

    // HITS on the disjoint stars (member → root edges): the exact-integer
    // un-normalized shadow after 3 mutual-reinforcement rounds —
    // a₃(root) = h₃(member) = n³ closed form (n = star size), zeros
    // elsewhere; per-round L2 normalization only rescales, so the
    // integers gate the algorithm with no floating-point replay
    // (normalized doubles are spec-pinned in AlgoSpec)
    "g_hits_stars" -> ((s, dir) =>
      GraphAlgorithms.hitsCounts(starGraph(s, dir), iterations = 3)),

    "g_lp_stars" -> ((s, dir) => GraphAlgorithms.labelPropagation(starGraph(s, dir))),

    "g_triangles_total" -> ((s, dir) => {
      val n = GraphAlgorithms.globalTriangleCount(coPurchaseNbr(s, dir))
      s.range(1).select(lit(n).as("n_triangles"))
    }),

    "g_adamic_adar" -> ((s, dir) =>
      GraphAlgorithms.adamicAdar(coPurchaseNbr(s, dir), conversionEnabled = false)
        .withColumn("value", round(col("value"), 6))),

    "g_jaccard" -> ((s, dir) =>
      GraphAlgorithms.jaccard(coPurchaseNbr(s, dir), conversionEnabled = false)
        .withColumn("value", round(col("value"), 6))),

    // the distance-conversion mode (reference Jaccard.java:191-197:
    // 1/v − 1, zero-similarity → Double.MAX_VALUE): gated since r8's parity
    // fix (was −log2(v) — refuted by JaccardTest.java:169, see ParitySpec).
    // MAX_VALUE capped to 1e6 for a portable display value in the gate.
    "g_jaccard_dist" -> ((s, dir) =>
      GraphAlgorithms.jaccard(coPurchaseNbr(s, dir), conversionEnabled = true)
        .withColumn("value", round(least(col("value"), lit(1000000.0)), 6))),

    "g_lcc" -> ((s, dir) =>
      GraphAlgorithms.localClusteringCoefficient(coPurchaseGraph(s, dir), coPurchaseNbr(s, dir))
        .withColumn("value", round(col("value"), 6))),

    // LCC over a DELIBERATELY skewed graph — hub-star (customer 1 linked to
    // every other customer: one 10⁴-degree vertex at sf0.1) plus a ring so
    // every ring edge closes a triangle through the hub. Run with a low hub
    // cap so the bucket-split machinery (adjacencyArrays hub split + aligned
    // bucket-partial intersection) is exercised end to end against the
    // DuckDB oracle; SkewSpec asserts the hub's intersections spread over
    // many shuffle keys instead of one straggler task.
    "g_lcc_skewhub" -> ((s, dir) => {
      val g = skewHubGraph(s, dir)
      // star (1,c) and ring (c,c+1) over distinct customer keys: canonical
      val p = GraphAlgorithms.prepareNeighborhood(g, hubDegreeCap = 256,
        assumeCanonical = true)
      GraphAlgorithms.localClusteringCoefficient(g, p)
        .withColumn("value", round(col("value"), 6))
    }),

    // ---- 10⁵-degree-hub skew drill: the full intersection family on a
    // synthetic hub one order beyond sf0.1's natural skew. The hub splits
    // at the PRODUCTION cap (8192 → 32 bucket partials) and every mixed
    // hub/non-hub intersection takes the galloping O(small·log big) path
    // (GraphSetOps), so no task's work scales with the hub degree.
    "g_skew_lcc" -> ((s, dir) =>
      GraphAlgorithms.localClusteringCoefficient(
          skewHub1e5(s, dir), skewHub1e5Nbr(s, dir))
        .withColumn("value", round(col("value"), 6))),

    "g_skew_jaccard" -> ((s, dir) =>
      GraphAlgorithms.jaccard(skewHub1e5Nbr(s, dir), conversionEnabled = false)
        .withColumn("value", round(col("value"), 6))),

    "g_skew_adamic" -> ((s, dir) =>
      GraphAlgorithms.adamicAdar(skewHub1e5Nbr(s, dir), conversionEnabled = false)
        .withColumn("value", round(col("value"), 6))),

    "g_skew_triangles" -> ((s, dir) => {
      val n = GraphAlgorithms.globalTriangleCount(skewHub1e5Nbr(s, dir))
      s.range(1).select(lit(n).as("n_triangles"))
    }),

    // k-core peel on the co-purchase graph (k=80: ~7% of vertices cascade
    // out over ~6 rounds at these SFs — the loop genuinely iterates)
    "g_kcore" -> ((s, dir) =>
      GraphAlgorithms.kCore(coPurchaseGraph(s, dir).edges, k = 80)),

    // k-truss peel (edge-support ≥ k−2): k=9 removes ~80-90% of edges over
    // 4-11 rounds at these SFs — the galloping-intersection support loop
    "g_ktruss" -> ((s, dir) =>
      GraphAlgorithms.kTruss(coPurchaseGraph(s, dir).edges, k = 9)),

    // exact-distance-2 neighborhood sizes on the customer tree (the
    // friend-of-friend feature: N(N(v)) minus N(v) minus v)
    "g_two_hop" -> ((s, dir) =>
      GraphAlgorithms.twoHopNeighborCounts(treeGraph(s, dir))),

    // 2-hop skew drill: 4096-degree hub, split cap 256 → 16 aligned bucket
    // partials; candidates travel as arrays through salted dedup partials
    // and the direct-neighbor subtraction runs the galloping intersect
    // against the hub's bucketed adjacency (see skewTwoHopGraph's doc for
    // why exact 2-hop cannot gate at 10⁵ degree: the ANSWER is Θ(D²))
    "g_skew_two_hop" -> ((s, dir) =>
      GraphAlgorithms.twoHopNeighborCounts(skewTwoHopNbr(s, dir))),

    // k-truss skew drill: 10⁵-degree hub at the production cap; round 1
    // computes every edge's support through the aligned-bucket partial
    // intersections, peeling 3·10⁵ edges down to the hub+clique 12-clique
    "g_skew_ktruss" -> ((s, dir) =>
      GraphAlgorithms.kTruss(skewTrussGraph(s, dir).edges, k = 11)),

    "g_join_vertices" -> ((s, dir) => {
      val perSupplier = t(s, dir, "lineitem")
        .groupBy(col("l_suppkey").as("id")).agg(count(lit(1)).as("cnt"))
      supplierPartGraph(s, dir)
        .joinWithVertices(perSupplier, (v, in) => v + in)
        .vertices
    }),

    "g_nbr_sum" -> ((s, dir) =>
      supplierPartGraph(s, dir).reduceOnNeighbors(sum, EdgeDirection.In)
        .toDF("id", "value")),

    "g_group_reduce_edges" -> ((s, dir) =>
      // groupReduceOnEdges: arbitrary aggregation over the collected
      // adjacency structs — here max edge value minus the vertex value.
      // Edge-less vertices (parts have no OUT edges) reach the fold with an
      // EMPTY list per reference leftJoin semantics (KGraph.java:415-423),
      // so the init must be empty-safe: 0 (edge values = min quantity ≥ 1,
      // so edged rows are unchanged vs a -∞ init).
      supplierPartGraph(s, dir).groupReduceOnEdges(EdgeDirection.Out) { df =>
        df.select(col("id"),
          (aggregate(col("edges"), lit(0L),
            (acc, e) => greatest(acc, e.getField("value"))) - col("value")).as("value"))
      }),

    "g_edge_join_src" -> ((s, dir) => {
      val perSupplier = t(s, dir, "lineitem")
        .groupBy(col("l_suppkey").as("src")).agg(count(lit(1)).as("cnt"))
      supplierPartGraph(s, dir)
        .joinWithEdgesOnSource(perSupplier, (ev, in) => ev + in)
        .edges
    }),

    // graph generators (SURVEY §2.2, reference GraphGenerators.java:40-98):
    // all four generators' edge sets, tagged and unioned, against the
    // closed-form range() oracle — generation is a narrow map over
    // spark.range partitions, so this is exactly what runs at 1e9 vertices
    "g_generators" -> ((s, dir) => {
      import graft.core.GraphGenerators
      def tag(g: KGraph, t: String) =
        g.edges.select(lit(t).as("tag"), col("src"), col("dst"),
          col("value").cast("double").as("value"))
      tag(GraphGenerators.completeGraph(s, 20), "k")
        .unionByName(tag(GraphGenerators.gridGraph(s, 5, 7), "g"))
        .unionByName(tag(GraphGenerators.starGraph(s, 50), "s"))
        .unionByName(tag(GraphGenerators.chain(s, 30), "c"))
    }),

    // text loader round-trips (SURVEY §2.2, reference Parsers.java:27-95):
    // dump driver-derived rows as whitespace text, parse back through the
    // library loaders, gate against the direct derivation — the loaders'
    // split/cast path is what's under test
    "g_text_edges_roundtrip" -> ((s, dir) => {
      val stage = s"/tmp/graft_stage_${math.abs(dir.hashCode)}/edges"
      treeGraph(s, dir).edges
        .select(concat_ws(" ", col("src"), col("dst"), col("value")).as("value"))
        .write.mode("overwrite").text(stage)
      graft.core.GraphIO.readEdges(s, stage)
    }),

    "g_text_vertices_roundtrip" -> ((s, dir) => {
      val stage = s"/tmp/graft_stage_${math.abs(dir.hashCode)}/vertices"
      graft.core.GraphIO.writeVertices(
        t(s, dir, "customer").select(col("c_custkey").as("id"),
          (col("c_custkey") % 100).as("value")), stage)
      graft.core.GraphIO.readVertices(s, stage)
    }),

    "g_map_vertices" -> ((s, dir) =>
      supplierPartGraph(s, dir).mapVertices((id, v) => v * 2 + id % 7).vertices),

    "g_map_edges" -> ((s, dir) =>
      supplierPartGraph(s, dir)
        .mapEdges((sc, dc, v) => v * 2 + (sc + dc) % 7).edges),

    // joinWithEdges keyed (src,dst): input restricted to repeat pairs so both
    // the matched branch (combiner) and the miss branch (keep value) fire
    "g_join_edges" -> ((s, dir) => {
      val perPair = t(s, dir, "lineitem")
        .groupBy(col("l_suppkey").as("src"), (col("l_partkey") + 1000000L).as("dst"))
        .agg(count(lit(1)).as("cnt")).filter(col("cnt") > 1)
      supplierPartGraph(s, dir).joinWithEdges(perPair, (ev, in) => ev + in).edges
    }),

    "g_edge_join_tgt" -> ((s, dir) => {
      val perPart = t(s, dir, "lineitem")
        .groupBy((col("l_partkey") + 1000000L).as("dst"))
        .agg(count(lit(1)).as("cnt")).filter(col("cnt") > 30)
      supplierPartGraph(s, dir).joinWithEdgesOnTarget(perPart, (ev, in) => ev + in).edges
    }),

    // filterOnVertices: edges must lose any edge with a filtered-out endpoint
    // (the two semi-joins), not just filtered vertices
    "g_filter_vertices" -> ((s, dir) =>
      supplierPartGraph(s, dir).filterOnVertices(col("id") % 3 === 0).edges),

    "g_filter_edges" -> ((s, dir) =>
      supplierPartGraph(s, dir).filterOnEdges(col("value") >= 30).edges),

    // groupReduceOnNeighbors: arbitrary aggregation over the collected
    // (edge value, neighbor value) structs — here an even-neighbor count
    // plus the edge-value sum, folded without re-shuffling per aggregate
    "g_group_reduce_nbrs" -> ((s, dir) =>
      supplierPartGraph(s, dir).groupReduceOnNeighbors(EdgeDirection.Out) { df =>
        df.select(col("id"),
          size(filter(col("neighbors"),
            n => n.getField("nvalue") % 2 === 0)).cast("long").as("n_even"),
          aggregate(col("neighbors"), lit(0L),
            (acc, n) => acc + n.getField("evalue")).as("sum_ev"))
      }),

    // ---- training-data pipeline ops --------------------------------------

    "d_exact_dedup" -> ((s, dir) => Dedup.exact(t(s, dir, "documents"))),

    "d_token_count" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("n_tokens"))),

    "d_subword_count" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.subwordCount(col("text")).as("n_subwords"))),

    "d_fingerprints" -> ((s, dir) =>
      // winnowing: ≤16 smallest distinct Poly64 rolling-window hashes per doc
      t(s, dir, "documents")
        .select(col("doc_id"),
          explode(TextAnalysis.robustFingerprintsPoly(col("text"), k = 8,
            numFingerprints = 16)).as("fp"))),

    "d_quality" -> ((s, dir) =>
      TextAnalysis.qualityScore(t(s, dir, "documents"))
        .select(col("doc_id"),
          col("n_tokens"),
          round(col("stopword_ratio"), 6).as("stopword_ratio"),
          round(col("punct_ratio"), 6).as("punct_ratio"),
          round(col("digit_ratio"), 6).as("digit_ratio"))),

    "d_lang_id" -> ((s, dir) =>
      TextAnalysis.langId(t(s, dir, "documents"))
        .select(col("doc_id"), col("lang_pred"))),

    // benchmark-decontamination: shingle overlap of the corpus (doc_id%41≠0)
    // against the probe/eval set (doc_id%41=0); probe side broadcasts
    "d_contamination" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Curation.contamination(
        docs.filter(col("doc_id") % 41 =!= 0),
        docs.filter(col("doc_id") % 41 === 0))
    }),

    // same check, cluster-scale-probe shape: native BloomFilterAggregate
    // prefilter cuts the corpus shingle stream BEFORE the shuffle join, the
    // exact recheck keeps the output row-identical (same oracle SQL)
    "d_contamination_bloom" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Curation.contaminationBloom(
        docs.filter(col("doc_id") % 41 =!= 0),
        docs.filter(col("doc_id") % 41 === 0))
    }),

    // span-level decontamination (the GPT-3/Llama REMOVAL step): corpus
    // positions covered by an 8-gram that also occurs in the eval set are
    // masked, survivors rebuilt. Probe set = the d_contamination eval
    // slice (doc_id%41=0) PLUS injected window probes (8 tokens from
    // position 1 of every 50th doc — natural 8-gram overlap is zero at
    // sf0.01, so the injection keeps the gate non-vacuous at both SFs)
    "d_decontam_spans" -> ((s, dir) => decontamMasked(s, dir)),

    // its cost-visible corpus aggregate (anti-prune shape, see
    // d_repeated_spans_mask): the decontamination path's real cost is
    // measured at bench time, not just gated
    "d_decontam_spans_agg" -> ((s, dir) => maskCostAgg(decontamMasked(s, dir))),

    // deterministic per-language data mix: content-hash gate, dyadic rates
    "d_sample_mix" -> ((s, dir) =>
      Curation.stratifiedSample(t(s, dir, "documents"), "lang",
        Map("en" -> 0.5, "de" -> 0.25, "fr" -> 0.125, "es" -> 0.75, "zh" -> 1.0),
        keyCol = "doc_id", salt = "mix:", defaultRate = 0.0625)
        .select(col("doc_id"), col("lang"))),

    // END-TO-END curation pipeline — the composition a training-data run
    // actually executes: language-ID → quality gate (length + stopword
    // ratio) → exact-dedup keep-best reps → per-language stratified sample.
    // Every stage is an already-gated operator; this gates that they
    // COMPOSE (one corpus scan feeds langId and quality; the dedup semi
    // join and the sample gate are the only other shuffle/filter)
    "d_curation_e2e" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val lang = TextAnalysis.langId(docs).select(col("doc_id"), col("lang_pred"))
      val qual = TextAnalysis.qualityScore(docs)
        .select(col("doc_id"), col("n_tokens"),
          round(col("stopword_ratio"), 6).as("stopword_ratio"))
      val reps = Dedup.exactKeepBest(docs).select(col("doc_id"))
      val gated = docs.select(col("doc_id"))
        .join(reps, Seq("doc_id"), "left_semi")
        .join(lang, Seq("doc_id"))
        .join(qual, Seq("doc_id"))
        .filter(col("n_tokens") >= 10 && col("stopword_ratio") >= 0.05)
      Curation.stratifiedSample(gated, "lang_pred",
          Map("en" -> 0.5, "de" -> 0.5, "fr" -> 0.25, "es" -> 0.5, "it" -> 0.25),
          keyCol = "doc_id", salt = "cur:", defaultRate = 0.125)
        .select(col("doc_id"), col("lang_pred"), col("n_tokens"))
    }),

    // the same pipeline FUSED into one corpus scan: langId and qualityScore
    // are withColumn chains over the same frame, so composing them lets
    // Catalyst collapse the projections — the dedup fingerprint groupBy is
    // the only second scan. Row-identical to d_curation_e2e (same oracle);
    // the 100 TB-preferred shape (features never rescan or re-join)
    "d_curation_fused" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val featured = TextAnalysis.qualityScore(TextAnalysis.langId(docs))
        .select(col("doc_id"), col("lang_pred"), col("n_tokens"),
          round(col("stopword_ratio"), 6).as("stopword_ratio"))
      val reps = Dedup.exactKeepBest(docs).select(col("doc_id"))
      val gated = featured
        .join(reps, Seq("doc_id"), "left_semi")
        .filter(col("n_tokens") >= 10 && col("stopword_ratio") >= 0.05)
      Curation.stratifiedSample(gated, "lang_pred",
          Map("en" -> 0.5, "de" -> 0.5, "fr" -> 0.25, "es" -> 0.5, "it" -> 0.25),
          keyCol = "doc_id", salt = "cur:", defaultRate = 0.125)
        .select(col("doc_id"), col("lang_pred"), col("n_tokens"))
    }),

    // PII scrub: the gate injects synthetic email/IP/phone spans derived
    // from doc_id so the redaction path is actually exercised on this corpus
    "d_pii_redact" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        Curation.redactPii(concat(
          lit("user"), col("doc_id"), lit("@example.org ip 10.0."),
          col("doc_id") % 256, lit(".17 call +1 555 "),
          lit(1000) + col("doc_id") % 9000, lit(" "), col("text"))).as("redacted"))),

    // corpus curation: keep the 3 best-quality docs per source domain
    "d_quality_topk" -> ((s, dir) =>
      Curation.topKPerGroup(
        TextAnalysis.qualityScore(t(s, dir, "documents"))
          .select(col("source"), col("doc_id"), col("quality")),
        "source", "quality", "doc_id", k = 3)),

    "d_quality_quantile" -> ((s, dir) =>
      // top 20 % quality per source, through the bucketed two-pass rank
      // (quality ∈ [0,1] → 32 fixed range buckets; bounded sort groups) —
      // gated against the single-window oracle, identical by construction
      Curation.topQuantilePerGroup(
        TextAnalysis.qualityScore(t(s, dir, "documents"))
          .select(col("source"), col("doc_id"), col("quality")),
        "source", "quality", "doc_id", fraction = 0.2,
        bucketOf = Some(q => floor(q * 32)))),

    "d_token_budget" -> ((s, dir) =>
      // domain token quotas filled in deterministic hash order; shards=8
      // exercises the two-pass chunk-then-carry prefix sum (the 100 TB
      // path) directly against the single-window oracle
      Curation.tokenBudgetMix(t(s, dir, "documents"),
        budget = when(col("source").isin("src0", "src1", "src2"), lit(900L))
          .otherwise(lit(600L)),
        shards = 8)),

    // temperature (α=1/2) domain mixing: integer-exact √n_d weights +
    // largest-remainder quota allocation, Σalloc = budget exactly; one
    // corpus-scan count, then #groups-row arithmetic
    "d_domain_mix" -> ((s, dir) =>
      Curation.temperatureMix(t(s, dir, "documents"), "source",
        budget = 1000000L)),

    // deterministic hash split: membership gated per (split, source) by
    // count + order-independent XOR of member id-hashes — any migration
    // of a single doc between splits flips the fingerprint
    "d_split" -> ((s, dir) =>
      Curation.hashSplit(t(s, dir, "documents"))
        .select(col("split"), col("source"),
          graft.functions.Poly64.mix64(graft.functions.Poly64.poly64(
            col("doc_id").cast("string"))).as("h"))
        .groupBy(col("split"), col("source"))
        .agg(count(lit(1)).as("n"), expr("bit_xor(h)").as("member_fp"))),

    // content-defined chunking: rolling-hash (Rabin-style) boundaries —
    // insertion-stable chunk streams for chunk-level dedup (expected chunk
    // 2^6 = 64 code points; rowwise codegen'd expression, zero shuffle)
    "d_cdc_chunks" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(graft.functions.Poly64.cdcChunks(col("text"))))
        .toDF("doc_id", "chunk_idx", "chunk_len")),

    // chunk-level dedup: CDC chunk fingerprints as the join key — docs
    // sharing ≥1 content-defined chunk of ≥16 code points, via the same
    // inverted-index shape as d_ngram_pairs (never O(n²) text compares),
    // with the hot-fingerprint df-cap (boilerplate chunks shared by > maxDf
    // docs are dropped from the index — the stop-shingle treatment; the
    // oracle applies the identical HAVING cut)
    "d_cdc_dedup" -> ((s, dir) =>
      Dedup.cdcChunkPairs(t(s, dir, "documents"), minChunkLen = 16,
        maxDf = HotDfCap.toInt)),

    // winsorized quality normalization: clip at the exact p05/p95 —
    // exactQuantiles composing as broadcast thresholds (2-value control
    // channel), the outlier-robust scaling step before mixing scores
    "d_quality_winsor" -> ((s, dir) => {
      val q = TextAnalysis.qualityScore(t(s, dir, "documents"))
        .select(col("doc_id"), col("quality"))
      val thr = Curation.exactQuantiles(q, "quality", Seq(0.05, 0.95))
        .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
      q.select(col("doc_id"),
        least(greatest(col("quality"), lit(thr(0.05))), lit(thr(0.95)))
          .as("quality_winsor"))
    }),

    // deterministic weighted sampling (Efraimidis–Spirakis): hash-derived
    // uniforms, ln(u)/w rank keys micro-quantized, bounded-heap top-k —
    // reproducible across runs/engines, inclusion odds follow the weights
    "d_weighted_sample" -> ((s, dir) =>
      Curation.weightedSample(t(s, dir, "documents"), "n_chars", k = 100)),

    // per-group exact quantiles: one global-range histogram keyed by
    // (group, bucket), then ranking windows over candidate slices only
    "ev_value_quantiles" -> ((s, dir) =>
      Curation.exactQuantilesPerGroup(events(s, dir), "event_type",
        "value", Seq(0.25, 0.5, 0.9))),

    // exact distributed quantiles, no global sort: bucket histogram locates
    // each target rank, then only the candidate buckets' rows are ranked
    "q6_price_quantiles" -> ((s, dir) =>
      Curation.exactQuantiles(t(s, dir, "lineitem"), "l_extendedprice",
        Seq(0.01, 0.25, 0.5, 0.75, 0.9, 0.99))),

    // exact φ-heavy-hitters over corpus tokens (stopword discovery): one
    // scan folds a bounded Misra–Gries candidate sketch, a second recounts
    // only the ≤ 2/φ candidates exactly — never a full-vocabulary shuffle
    "d_heavy_tokens" -> ((s, dir) =>
      Sketches.heavyHitters(
        t(s, dir, "documents").select(
          explode(TextAnalysis.wsTokens(lower(trim(col("text"))))).as("tok")),
        "tok", phiDenom = 30)),

    // per-SOURCE φ-heavy tokens (per-domain stopword/boilerplate
    // discovery): independent Misra–Gries summary per group, candidates
    // stay a distributed (group, key) frame — exact recount via a
    // count-gated semi-join, per-group totals ride the summaries
    "d_heavy_by_source" -> ((s, dir) =>
      Sketches.heavyHittersByGroup(
        t(s, dir, "documents").select(col("source"),
          explode(TextAnalysis.wsTokens(lower(trim(col("text"))))).as("tok")),
        "source", "tok", phiDenom = HeavyBySourcePhiDenom)),

    // HLL distinct-count registers over order keys: deterministic Poly64
    // buckets/ranks so the sketch state itself hash-gates against DuckDB;
    // one partial-aggregated scan, ≤ 2^12 shuffle keys, mergeable by max
    "d_hll_orders" -> ((s, dir) =>
      Sketches.hllRegisters(
        t(s, dir, "lineitem").select(col("l_orderkey").cast("string").as("k")),
        "k", p = 12)),

    // mergeable quantile sketch (DDSketch-style, integer bit-arithmetic
    // buckets — no FP log): the bucket table over event values in cents
    // hash-gates directly; pointwise-sum mergeable per shard/day, bucket
    // space bounded ≤ ~7.4k rows at s=7 — the quantile member of the
    // HLL/CMS/Misra–Gries per-shard profile family
    "ev_value_sketch" -> ((s, dir) =>
      Sketches.logHistogram(
        t(s, dir, "events").select(
          floor(col("value") * 100 + 0.5).cast("long").as("cents")),
        "cents", subBucketBits = ValueSketchBits)),

    // grouped quantile-sketch profiles: one bounded bucket table per event
    // type (the d_hll_by_source shape for value distributions) — per-type
    // p50/p99 from tiny mergeable tables, no per-type rescan
    "ev_value_sketch_by_type" -> ((s, dir) =>
      Sketches.logHistogramBy(
        t(s, dir, "events").select(col("event_type"),
          floor(col("value") * 100 + 0.5).cast("long").as("cents")),
        "event_type", "cents", subBucketBits = ValueSketchBits)),

    // quantile ESTIMATES from the sketch: rank walk + integer midpoint
    // decode over the bounded bucket table — the oracle reproduces the
    // whole estimation pipeline in integer SQL, so the decode logic
    // itself is hash-gated, not just the table
    "ev_value_sketch_q" -> ((s, dir) =>
      Sketches.logHistogramQuantiles(
        Sketches.logHistogram(
          t(s, dir, "events").select(
            floor(col("value") * 100 + 0.5).cast("long").as("cents")),
          "cents", subBucketBits = ValueSketchBits),
        Seq(0.01, 0.25, 0.5, 0.75, 0.9, 0.99),
        subBucketBits = ValueSketchBits)),

    // per-GROUP quantile estimates end-to-end: one rank walk per event
    // type over the grouped bucket table — per-type p50/p99 without a
    // per-type rescan; the oracle reproduces the per-group walk with a
    // PARTITION BY over the same integer bucket SQL
    "ev_value_sketch_q_by_type" -> ((s, dir) =>
      Sketches.logHistogramQuantilesBy(
        Sketches.logHistogramBy(
          t(s, dir, "events").select(col("event_type"),
            floor(col("value") * 100 + 0.5).cast("long").as("cents")),
          "event_type", "cents", subBucketBits = ValueSketchBits),
        "event_type", Seq(0.01, 0.25, 0.5, 0.75, 0.9, 0.99),
        subBucketBits = ValueSketchBits)),

    // PII redaction: synthetic emails/IPv4s/phones injected per doc (the
    // clean corpus has none), scrubbed by the ordered conservative regex
    // set; rowwise map-only pass, counts + scrubbed-text fingerprint gate
    "d_pii_scrub" -> ((s, dir) => {
      val injected = concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@"), col("source"), lit(".example.com from 10."),
        (col("doc_id") % 256).cast("string"), lit(".0."),
        (col("doc_id") % 100).cast("string"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" call +1-555-01"),
            lpad((col("doc_id") % 90).cast("string"), 2, "0")))
          .otherwise(lit("")))
      Curation.scrubPii(
          t(s, dir, "documents").select(col("doc_id"), injected.as("text")))
        .select(col("doc_id"), col("n_email"), col("n_ip"), col("n_phone"),
          graft.functions.Poly64.poly64(col("text_scrubbed")).as("scrub_fp"))
    }),

    // Cross-document repeated n-gram SPANS (substring-granularity dedup,
    // Lee et al. ACL'22): maximal token spans covered by 8-grams occurring
    // in >= 2 distinct docs — linear inverted-index + semi-join + per-doc
    // islands merge, never pair expansion
    "d_repeated_spans" -> ((s, dir) =>
      Dedup.repeatedSpans(t(s, dir, "documents"),
        n = RepeatedSpanN, minDocs = RepeatedSpanMinDocs)),

    // the applied mask: drop covered tokens everywhere, rebuild +
    // fingerprint the survivors (lineDedup's narrow gated shape)
    "d_repeated_spans_removed" -> ((s, dir) =>
      Dedup.removeRepeatedSpans(t(s, dir, "documents"),
        n = RepeatedSpanN, minDocs = RepeatedSpanMinDocs)),

    // keep-one-copy policy (Lee et al.'s deployed variant): each hot gram's
    // first corpus occurrence (min (doc, pos)) is the keeper and survives;
    // every other occurrence is masked — the lineDedup winner rule lifted
    // to span grams
    "d_repeated_spans_keep" -> ((s, dir) =>
      Dedup.removeRepeatedSpansKeepOne(t(s, dir, "documents"),
        n = RepeatedSpanN, minDocs = RepeatedSpanMinDocs)),

    // keep-one cost-visible corpus aggregate (anti-prune shape, see
    // d_repeated_spans_mask): the keeper path's real cost is measured at
    // bench time, not just gated
    "d_repeated_spans_keep_agg" -> ((s, dir) =>
      maskCostAgg(Dedup.removeRepeatedSpansKeepOne(t(s, dir, "documents"),
        n = RepeatedSpanN, minDocs = RepeatedSpanMinDocs))),

    // corpus-level mask aggregate: forces FULL mask materialization even
    // under a bench-side count(). Two prunes have to be defeated: the
    // per-doc mask query's count() is metadata-only (Catalyst eliminates
    // the rebuild join), and count() over a no-grouping aggregate is the
    // CONSTANT 1 (measured: zero shuffle without the guard) — so the row
    // count is made data-dependent via a non-foldable filter on the
    // fingerprint xor, which cannot be answered without running the mask.
    // The n_docs=0 disjunct keeps the single agg row on an EMPTY corpus
    // (bit_xor of nothing is NULL — the bare isNotNull would drop the row
    // while the oracle keeps it)
    "d_repeated_spans_mask" -> ((s, dir) =>
      maskCostAgg(Dedup.removeRepeatedSpans(t(s, dir, "documents"),
        n = RepeatedSpanN, minDocs = RepeatedSpanMinDocs))),

    // CDC member: base index (75% of docs) + incremental spans over the
    // newly arrived 25%, hotness judged against base ∪ delta — must equal
    // the full-corpus spans restricted to the delta docs (the oracle is
    // exactly that restriction)
    "d_repeated_spans_incr" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val base = Dedup.gramDfIndex(docs.filter(col("doc_id") % 4 =!= 0),
        n = RepeatedSpanN)
      Dedup.repeatedSpansIncremental(base,
        docs.filter(col("doc_id") % 4 === 0),
        n = RepeatedSpanN, minDocs = RepeatedSpanMinDocs)._2
    }),

    // the ANY-REPEAT criterion (Lee et al.'s literal >=2-occurrences
    // count, within-document repeats included) — closes the measured
    // within-doc gap of the cross-doc df criterion; same linear
    // inverted-index shape, plain count(*) instead of countDistinct.
    // Injection: every 50th doc gets its own leading window appended
    // (a within-doc-ONLY repeat — invisible to the cross-doc criterion,
    // the d_dup_matrix non-vacuousness discipline)
    "d_repeated_spans_any" -> ((s, dir) =>
      Dedup.repeatedSpansAnyRepeat(withinDocRepeatInjected(t(s, dir, "documents")),
        n = RepeatedSpanN, minCount = RepeatedSpanMinDocs)),

    // the applied any-repeat mask (remove everywhere, within-doc copies
    // too): per-doc survivors + fingerprint, same narrow gated shape
    "d_repeated_spans_any_removed" -> ((s, dir) =>
      Dedup.removeRepeatedSpansAny(withinDocRepeatInjected(t(s, dir, "documents")),
        n = RepeatedSpanN, minCount = RepeatedSpanMinDocs)),

    // cost-visible corpus aggregate for the any-repeat mask (the per-doc
    // gate is metadata-only under a bench count() — same anti-prune shape
    // as d_repeated_spans_mask, so the rebuild cost is measured)
    "d_repeated_spans_any_agg" -> ((s, dir) =>
      maskCostAgg(Dedup.removeRepeatedSpansAny(
        withinDocRepeatInjected(t(s, dir, "documents")),
        n = RepeatedSpanN, minCount = RepeatedSpanMinDocs))),

    // Line-level exact dedup (C4/RefinedWeb boilerplate killer): first
    // corpus occurrence of each distinct line survives, later copies drop.
    // The single-line corpus is re-wrapped into 2-token lines (~900 combos
    // over ~37k lines ⇒ heavy genuine duplication + hot line-hash keys);
    // winner selection is a combinable min, never a hot-group sort
    "d_line_dedup" -> ((s, dir) => {
      val toks = TextAnalysis.wsTokens(trim(col("text")))
      val docs2 = t(s, dir, "documents").select(col("doc_id"),
        array_join(transform(
            sequence(lit(0), ((size(toks) + 1) / 2 - 1).cast("int")),
            i => array_join(slice(toks, i * 2 + 1, lit(2)), " ")),
          "\n").as("text"))
      Dedup.lineDedup(docs2)
    }),

    // Count-Min counter table over corpus tokens: deterministic
    // Carter–Wegman×mix64 buckets so the sketch state hash-gates against
    // DuckDB; one partial-aggregated scan, ≤ 4·2^11 shuffle keys,
    // mergeable by pointwise sum (see CmsSpec for lookup/merge/stream)
    "d_cms_tokens" -> ((s, dir) =>
      Sketches.cmsTable(
        t(s, dir, "documents").select(
          explode(TextAnalysis.wsTokens(lower(trim(col("text"))))).as("tok")),
        "tok", depth = 4, widthLog2 = 11)),

    // per-source HLL register tables: one mergeable distinct-token profile
    // per bounded dimension value; ≤ #sources·2^10 rows from one scan
    "d_hll_by_source" -> ((s, dir) =>
      Sketches.hllRegistersBy(
        t(s, dir, "documents").select(col("source"),
          explode(TextAnalysis.wsTokens(lower(trim(col("text"))))).as("tok")),
        "source", "tok", p = 10)),

    // register-merge path gated end-to-end: the max-merged union of the
    // per-source HLL profiles must equal the global register table —
    // distinct-over-any-slice-union without rescanning, proven cross-engine
    "d_hll_union" -> ((s, dir) =>
      Sketches.mergeHllRegisters(Seq(
        Sketches.hllRegistersBy(
          t(s, dir, "documents").select(col("source"),
            explode(TextAnalysis.wsTokens(lower(trim(col("text"))))).as("tok")),
          "source", "tok", p = 10).select(col("bucket"), col("r"))))
        .select(col("bucket"), col("r").cast("int").as("r"))),

    // cross-doc repetition coverage: ppm of each doc's distinct 3-gram
    // shingles shared with ≥2 docs — inverted-index join on shingles,
    // doc-frequency combinable before its shuffle
    "d_shared_coverage" -> ((s, dir) =>
      TextAnalysis.sharedShingleCoverage(t(s, dir, "documents"))),

    // Gopher repetition filters, occurrence-weighted: top word-2-gram share
    // + duplicate-3-gram occurrence fraction per doc, integer ppm (the
    // argmax complement of d_repetition's distinct-based dup ratios)
    "d_top_grams" -> ((s, dir) =>
      TextAnalysis.topGramSignals(t(s, dir, "documents"))),

    // cross-source duplication matrix: exact-dup pair counts per source
    // pair, closed-form from per-(fp, source) counts — never pair expansion.
    // The generated corpora contain NO exact duplicates (six rounds of
    // 0-row passes proved only agreed emptiness), so the prologue injects
    // deterministic ones — the d_pii_scrub injection pattern: every 50th
    // doc cloned into a '<source>_mirror' feed (cross-source branch), every
    // 100th cloned again into its OWN source (within-source C(c,2) branch)
    "d_dup_matrix" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val mirror = docs.filter(col("doc_id") % 50 === 0)
        .withColumn("doc_id", col("doc_id") + lit(1000000L))
        .withColumn("source", concat(col("source"), lit("_mirror")))
      val twin = docs.filter(col("doc_id") % 100 === 0)
        .withColumn("doc_id", col("doc_id") + lit(2000000L))
      Dedup.crossSourceDupMatrix(docs.unionByName(mirror).unionByName(twin))
    }),

    // corpus-level boilerplate leaderboard: top-20 3-grams by occurrence —
    // combinable counts + TakeOrderedAndProject (no vocabulary sort)
    "d_global_grams" -> ((s, dir) =>
      TextAnalysis.globalTopGrams(t(s, dir, "documents"), n = 3, k = 20)),

    // JSONL sink→source roundtrip: per-source count + char volume + XOR'd
    // Poly64 content fingerprints must survive the format cycle (oracle
    // computes the same summary straight from parquet)
    "d_jsonl_roundtrip" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val path = "/tmp/graft_io/documents_jsonl"
      graft.core.GraphIO.writeJsonl(docs, path)
      roundtripSummary(graft.core.GraphIO.readJsonl(s, path, docs.schema))
    }),

    // CSV sink→source roundtrip (quote/escape-lossless text), same gate
    "d_csv_roundtrip" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val path = "/tmp/graft_io/documents_csv"
      graft.core.GraphIO.writeCsv(docs, path)
      roundtripSummary(graft.core.GraphIO.readCsv(s, path, docs.schema))
    }),

    // ORC sink→source roundtrip (self-describing columnar), same gate
    "d_orc_roundtrip" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val path = "/tmp/graft_io/documents_orc"
      graft.core.GraphIO.writeOrc(docs, path)
      roundtripSummary(graft.core.GraphIO.readOrc(s, path))
    }),

    // Hive-partitioned layout roundtrip: write partitionBy(lang), read the
    // tree back — the partition cycle must be invisible to the content
    // fingerprint (the pruning behavior itself is plan-spec'd)
    "d_partitioned_roundtrip" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val path = "/tmp/graft_io/documents_bylang"
      graft.core.GraphIO.writePartitioned(docs, path, "lang")
      roundtripSummary(graft.core.GraphIO.readPartitioned(s, path))
    }),

    // multi-policy dedup funnel: docs/tokens surviving each policy — the
    // one-glance comparison of exact, near-dup-cluster, and span-removal
    // aggressiveness over the same corpus
    "d_dedup_report" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val ntok = docs.select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
      def row(policy: String, kept: DataFrame) =
        kept.join(ntok, "doc_id")
          .agg(count(lit(1)).as("docs_kept"), sum(col("n_tokens")).as("tokens_kept"))
          .select(lit(policy).as("policy"), col("docs_kept"), col("tokens_kept"))
      val raw = ntok
        .agg(count(lit(1)).as("docs_kept"), sum(col("n_tokens")).as("tokens_kept"))
        .select(lit("raw").as("policy"), col("docs_kept"), col("tokens_kept"))
      val exact = row("exact", Dedup.firstSeen(docs).select(col("doc_id")))
      val mh = row("minhash", Dedup.keepBestPerCluster(
        cachedMinhashClusters(s, dir), docs).select(col("doc_id")))
      val span = Dedup.spanCoverage(docs, spanTokens = 16)
        .agg(sum(when(col("n_tokens") > col("dup_tokens"), 1L).otherwise(0L))
          .as("docs_kept"),
          sum(col("n_tokens") - col("dup_tokens")).as("tokens_kept"))
        .select(lit("span16").as("policy"), col("docs_kept"), col("tokens_kept"))
      raw.unionByName(exact).unionByName(mh).unionByName(span)
    }),

    // exact duplicated-span coverage (ExactSubstr analog): 16-token sliding
    // windows, corpus-wide fp occurrence counts, per-doc interval-union of
    // duplicated spans — what a span-removal dedup pass would delete
    "d_span_coverage" -> ((s, dir) =>
      Dedup.spanCoverage(t(s, dir, "documents"), spanTokens = 16)),

    // prefix-filtered similarity join (PPJoin-family): identical output to
    // d_ngram_pairs, but the inverted index holds only each doc's
    // rarest-first prefix — the 100 TB plan (boilerplate shingles never
    // join); candidates verified exactly by the galloping kernel
    "d_ngram_pairs_prefix" -> ((s, dir) =>
      Dedup.ngramJaccardPairsPrefix(t(s, dir, "documents"), threshold = 0.1)
        .withColumn("jaccard", round(col("jaccard"), 6))),

    // asymmetric containment pairs (quote/boilerplate-inclusion signal):
    // one intersection count per unordered pair via the shingle inverted
    // index, both directions emitted with their own denominator
    "d_containment" -> ((s, dir) =>
      Dedup.containmentPairs(t(s, dir, "documents"), threshold = 0.4,
          maxDocFreq = HotDfCap)
        .withColumn("containment", round(col("containment"), 6))),

    // Gopher quality-rule filters: rowwise metrics + 0/1 rule flags +
    // conjunctive keep — shuffle-free corpus scan
    "d_gopher_rules" -> ((s, dir) =>
      TextAnalysis.gopherRules(t(s, dir, "documents"))),

    // C4 page-level cleaning flags (Raffel et al. JMLR'20 §2.2): the
    // corpus is sentence-wrapped (10-token sentences ending '.') and
    // seeded with each failure mode — %31 bad word, %37 lorem ipsum,
    // %43 brace, %47 truncated under minSentences — so every flag AND the
    // keep verdict are non-vacuous (the d_dup_matrix injection
    // discipline). Flags cast to int for the cross-engine hash
    "d_c4_filter" -> ((s, dir) => {
      val injected = c4InjectDoc(c4SentenceWrapped(t(s, dir, "documents"), " "))
      Curation.c4DocFilter(injected, blocklist = Seq("badger", "mushroom"))
        .select(col("doc_id"),
          col("has_bad_word").cast("int").as("has_bad_word"),
          col("has_lorem").cast("int").as("has_lorem"),
          col("has_brace").cast("int").as("has_brace"),
          col("n_sentences"),
          col("keep").cast("int").as("keep"))
    }),

    // C4 line-level cleaning (terminal punctuation + >=5 words + no
    // 'javascript' word): sentence-wrapped corpus with one injected line
    // per failure mode; rebuilt-survivor fingerprint, the lineDedup
    // narrow shape. ENTIRELY rowwise — one codegen'd scan, zero shuffle
    "d_c4_lines" -> ((s, dir) => {
      val injected = c4InjectLines(c4SentenceWrapped(t(s, dir, "documents"), "\n"))
      Curation.c4LineFilter(injected)
    }),

    // C4's dedup unit ("all but one of any three-sentence span occurring
    // more than once"): keep-one over 3-sentence windows. The wrapped
    // corpus has no natural 3-sentence repeats beyond its mirrored docs,
    // so duplication is injected: every (20k+1)th doc appends a FIXED
    // 3-sentence block (cross-doc — keeper is the lowest doc), every 50th
    // appends its own first 3 sentences (within-doc repeat; disjoint
    // residues, so the slice always reads the pre-block text)
    "d_c4_span_dedup" -> ((s, dir) => {
      val wrapped = c4SentenceWrapped(t(s, dir, "documents"), "\n")
      val injected = wrapped.withColumn("text", concat(col("text"),
        when(col("doc_id") % 20 === 1, lit("\n" + C4SpanBlock))
          .otherwise(lit("")),
        when(col("doc_id") % 50 === 0,
          concat(lit("\n"),
            array_join(slice(split(col("text"), "\n", -1), lit(1), lit(3)), "\n")))
          .otherwise(lit(""))))
      Dedup.sentenceSpanDedup(injected, n = 3)
    }),

    // cost-visible corpus aggregate for the sentence-span mask (same
    // anti-prune convention — the per-doc gate's count() is metadata-only)
    "d_c4_span_agg" -> ((s, dir) => {
      val wrapped = c4SentenceWrapped(t(s, dir, "documents"), "\n")
      val injected = wrapped.withColumn("text", concat(col("text"),
        when(col("doc_id") % 20 === 1, lit("\n" + C4SpanBlock))
          .otherwise(lit("")),
        when(col("doc_id") % 50 === 0,
          concat(lit("\n"),
            array_join(slice(split(col("text"), "\n", -1), lit(1), lit(3)), "\n")))
          .otherwise(lit(""))))
      maskCostAgg(Dedup.sentenceSpanDedup(injected, n = 3))
    }),

    // C4's span unit done RIGHT: the corpus arrives as ONE line (10-token
    // '.'-terminated sentences joined by spaces), the deterministic
    // rule-based segmenter re-discovers the sentences, and the
    // three-SENTENCE keep-one dedup runs over segmenter output. Injected
    // edge cases per residue class: %11 abbreviations (dr./mr./p.m. must
    // not split; '!' must), %13 a bare-number enumeration ("2." must not
    // split), %17 a quote-wrapped terminal ("stop!" — closer strip), plus
    // the d_c4_span_dedup duplication discipline (%20==1 a fixed
    // cross-doc 3-sentence block; %50 a second block appended TWICE —
    // the within-doc any-repeat path). 'a.'-terminated natural sentences
    // exercise the single-initial guard corpus-wide
    "d_c4_span_sent" -> ((s, dir) => {
      val segmented = c4SegmentInjected(s, dir).withColumn("text",
        array_join(TextAnalysis.segmentSentences(col("text")), "\n"))
      Dedup.sentenceSpanDedup(segmented, n = 3)
    }),

    // BM25 retrieval: top-5 docs per probe term (k1=1.2, b=0.75); probe
    // filter precedes the tf shuffle, df/corpus-stats broadcast, top-k is
    // the bounded-heap aggregate — rank order pinned by round-then-tiebreak
    "d_bm25_top" -> ((s, dir) =>
      TextAnalysis.bm25TopDocs(t(s, dir, "documents"),
        Seq("spark", "join", "window"), k = 5)),

    // hybrid retrieval: BM25 (per-term micro-quantized, summed per doc) and
    // dense cosine vs vec 0's embedding, top-50 each, fused by reciprocal
    // rank — integer-exact fusion, no score calibration
    "d_hybrid_rrf" -> ((s, dir) => {
      // both arms rank via Ann.rankTopK (TakeOrdered partial top-k +
      // bounded 50-row rank assignment) — NO unpartitioned WindowExec:
      // the old row_number().over(Window.orderBy(...)) single-tasked the
      // whole scored corpus (PlanAuditSpec pins the window-free plan)
      val lex = Ann.rankTopK(
        TextAnalysis.bm25TopDocs(t(s, dir, "documents"),
            Seq("spark", "join", "window"), k = 1000000)
          .withColumn("m", expr("CAST(round(bm25 * 1000000) AS BIGINT)"))
          .groupBy(col("doc_id")).agg(sum(col("m")).as("score")),
        "score", "doc_id", k = 50)
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val qv = emb.filter(col("vec_id") === 0).select(col("v").as("qv"))
      def dot(x: String, y: String) =
        expr(s"aggregate(zip_with($x, $y, (p, q) -> p * q), 0D, (acc, z) -> acc + z)")
      val dense = Ann.rankTopK(
        emb.crossJoin(broadcast(qv))
          .withColumn("cos", dot("v", "qv") /
            (sqrt(dot("v", "v")) * sqrt(dot("qv", "qv")))),
        "cos", "vec_id", k = 50)
      Ann.rrfFuse(lex, dense)
        .select(col("id").as("doc_id"), col("rank_a").as("lex_rank"),
          col("rank_b").as("dense_rank"), col("rrf_micro"))
    }),

    // BPE vocabulary induction: 6 merge rules learned over the corpus — per
    // iteration one pair-count shuffle (vocabulary-sized after partial agg)
    // + a 1-row driver argmax + a rowwise codegen'd greedy merge pass.
    // The learned table is memoized per (session, corpus): a deployment
    // learns the vocabulary ONCE and both the merge-table export and the
    // encode pass read it (prep:bpeMerges carries the learn in the bench).
    "d_bpe_merges" -> ((s, dir) => {
      import s.implicits._
      cachedBpeMerges(s, dir, 6).toDF("it", "lhs", "rhs", "merged", "cnt")
    }),

    // BPE encode: apply the 6 learned merges rowwise (shuffle-free scan);
    // gated by symbol count + Poly64 fingerprint of the symbol stream
    "d_bpe_tokens" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = cachedBpeMerges(s, dir, 6).sortBy(_._1)
        .map(m => (m._2, m._3))
      TextAnalysis.bpeEncode(docs, merges).select(
        col("doc_id"),
        size(col("symbols")).cast("long").as("n_symbols"),
        graft.functions.Poly64.poly64(array_join(col("symbols"), " ")).as("sym_fp"))
    }),

    // embedding second-moment (Gram) matrix, integer-exact: one bounded-state
    // aggregation (O(d²) longs per partition), per-term micro quantization
    // makes the sums associative-exact — the distributed half of PCA/whitening
    "d_embed_gram" -> ((s, dir) =>
      LinAlg.gramMatrix(t(s, dir, "embeddings"), "embedding")),

    // URL canonicalization for web-corpus dedup: synthetic URLs derived from
    // (source, doc_id) exercise case folding, default ports, www/fragment/
    // tracking-param stripping, and param sorting; canon string + naive
    // registered domain are the dedup keys
    "d_url_canon" -> ((s, dir) => {
      val u = when(col("doc_id") % 2 === 0,
          concat(lit("HTTPS://WWW."), col("source"), lit(".Example.COM:443/Path/"),
            (col("doc_id") % 3).cast("string"),
            lit("?utm_source=feed&b=2&a=1&gclid=x&z=9#frag")))
        .otherwise(concat(lit("http://"), col("source"),
          lit(".example.com:80?ref=abc&q=term#x")))
      val canon = TextAnalysis.canonicalizeUrl(u)
      t(s, dir, "documents").select(col("doc_id"), canon.as("canon_url"),
        TextAnalysis.registeredDomain(
          regexp_extract(canon, "^[a-z]+://([^/?#]*)", 1)).as("domain"))
    }),

    // Unicode NFC normalization (native expression, isNormalized fast path):
    // a decomposed/precomposed suffix forces real composition; the Poly64
    // fingerprint of the normalized text gates byte-exact NFC vs DuckDB
    "d_nfc" -> ((s, dir) => {
      val raw = concat(col("text"), lit(" cafe\u0301 caf\u00e9 stra\u00dfe"))
      val norm = graft.functions.NormalizeExpression.nfc(raw)
      t(s, dir, "documents").select(
        col("doc_id"),
        graft.functions.Poly64.poly64(norm).as("norm_fp"),
        length(norm).cast("long").as("n_cp"))
    }),

    // mojibake (UTF-8-decoded-as-Latin-1) detection: planted double-encode
    // damage on every third doc; the artifact count is the quality signal
    // normalization can't repair \u2014 rowwise regexp, shuffle-free scan
    "d_mojibake" -> ((s, dir) => {
      val pre = substring(col("text"), 1, 16)
      val raw = when(col("doc_id") % 3 === 0,
          concat(pre, lit(" \u00e2\u20ac\u0153smart\u00e2\u20ac quotes " +
            "\u00c3\u00a9t\u00c3\u00a9 \u00ef\u00bf\u00bd")))
        .when(col("doc_id") % 3 === 1, concat(pre, lit(" clean caf\u00e9 text")))
        .otherwise(pre)
      val moji = TextAnalysis.mojibakeSignals(raw)
      t(s, dir, "documents").select(col("doc_id"), moji.as("moji"),
        (moji > 0).as("damaged"))
    }),

    // DSIR importance weights: hashed-unigram (Poly64 mod 64) log-ratio of
    // the non-English target slice vs the raw corpus, add-one smoothed,
    // integer micro-nat quantized before the per-doc sum (hash-stable)
    "d_dsir_weights" -> ((s, dir) =>
      Curation.dsirWeights(t(s, dir, "documents"), col("lang") =!= "en")),

    // DSIR over the paper's actual feature space: hashed unigrams AND
    // bigrams (Xie et al. 2023 §3.1) — the word-order-sensitive variant
    // (the spec pins a phrase-ordering fixture the unigram weights tie on)
    "d_dsir_weights_bi" -> ((s, dir) =>
      Curation.dsirWeightsBigrams(t(s, dir, "documents"), col("lang") =!= "en")),

    // DSIR selection: top 20% of docs by importance weight (weight DESC,
    // doc_id ASC) via the bounded-heap top-k — no global sort
    "d_dsir_sample" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val k = math.ceil(docs.count() * 0.2).toInt
      Curation.dsirSample(docs, col("lang") =!= "en", k)
    }),

    // DSIR selection over the paper's unigram+bigram feature space — the
    // d_dsir_weights_bi model feeding the same deterministic top-20% cut
    // (only the weight source swaps; the bounded-heap tail is identical)
    "d_dsir_sample_bi" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val k = math.ceil(docs.count() * 0.2).toInt
      Curation.dsirSample(docs, col("lang") =!= "en", k, bigrams = true)
    }),

    "d_ngram_pairs" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(t(s, dir, "documents"), threshold = 0.1)
        .withColumn("jaccard", round(col("jaccard"), 6))),

    // keyword extraction: top TF-IDF term per doc (rounded-score ranking)
    "d_tfidf_top" -> ((s, dir) =>
      TextAnalysis.tfIdfTop(t(s, dir, "documents"))),

    // document chunking: fixed 64-token windows, 8-token overlap (rowwise);
    // chunk content fingerprinted with the oracle-reproducible Poly64 family
    "d_chunk" -> ((s, dir) =>
      TextAnalysis.chunk(t(s, dir, "documents"), chunkTokens = 64, overlap = 8)
        .select(col("doc_id"), col("chunk_idx"), col("chunk_tokens"),
          graft.functions.Poly64.poly64(col("chunk_text")).as("chunk_fp"))),

    // sequence packing: contiguous-fill bins of 2048 tokens (summary:
    // per-bin doc count + token total — compact, order-free output)
    "d_pack" -> ((s, dir) =>
      TextAnalysis.packBins(t(s, dir, "documents"), budget = 2048)
        .groupBy(col("pack_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("pack_tokens"))),

    // sequence packing, SHARDED: the 100 TB shape — the running-sum window
    // partitions by the shard key (hash shuffle + parallel per-shard sorts,
    // no global single-reducer sort); pack identity = (source, pack_id)
    "d_pack_sharded" -> ((s, dir) =>
      TextAnalysis.packBins(t(s, dir, "documents"), budget = 2048,
          shardCol = Some("source"))
        .groupBy(col("source"), col("pack_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("pack_tokens"))),

    // unigram-LM quality score (perplexity-proxy filter, CCNet-style);
    // gated on the EXACT integer micro-nat total — round(double, 6) of the
    // quotient can straddle a half boundary between engines
    "d_lm_score" -> ((s, dir) =>
      TextAnalysis.lmScore(t(s, dir, "documents"))
        .select(col("doc_id"), col("n_tokens"), col("lm_micro_total"))),

    // the deployed CCNet shape (Wenzek et al. LREC'20): model trained on
    // the curated 'en' slice ONLY, every doc scored against it. The corpus
    // vocabulary is closed (measured: zero natural OOV on any split), so
    // every 10th doc gets a synthetic unseen token appended — the
    // d_pii_scrub injection pattern — making the n_oov smoothing-floor
    // path non-vacuous in the gate
    "d_lm_domain" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val scored = docs.select(col("doc_id"),
        when(col("doc_id") % 10 === 0,
          concat(col("text"), lit(" qqxzoov"),
            (col("doc_id") % 7).cast("string")))
          .otherwise(col("text")).as("text"))
      TextAnalysis.lmScoreAgainst(
          TextAnalysis.lmModel(docs.filter(col("lang") === "en")), scored)
        .select(col("doc_id"), col("n_tokens"), col("n_oov"),
          col("lm_micro_total"))
    }),

    // CCNet's head/middle/tail perplexity split (Wenzek et al. §4.3):
    // reference model = the curated 'en' slice, every doc's integer
    // micro-nat NLL bucketed against corpus terciles decoded from the
    // mergeable log-histogram sketch — thresholds are sketch
    // representatives, so the whole pipeline is integer-exact cross-engine
    "d_lm_buckets" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // s=10 (relative error <= 2^-11): the synthetic corpus's NLL spread
      // is +-5% around 3.4M micro-nats, so the s=7 default's ~16k-wide
      // buckets put BOTH terciles in one bucket and 'middle' goes vacuous;
      // 2k-wide buckets split all three classes non-degenerately
      TextAnalysis.lmBuckets(
        TextAnalysis.lmModel(docs.filter(col("lang") === "en")), docs,
        subBucketBits = 10)
    }),

    // order-3 LM with Stupid Backoff (Brants et al. EMNLP'07; the CCNet
    // filter's actual order-n shape — a unigram model ranks documents by
    // OOV mass, not fluency): model = every 1/2/3-gram count over the
    // curated 'en' slice, scoring starts at the longest available context
    // and backs off ×0.4 per step to the add-one unigram floor. Same
    // injection as d_lm_domain (every 10th doc gets an unseen token) so
    // the OOV floor AND the backoff cascade behind it are non-vacuous;
    // gated on the exact integer micro-nat total plus the backoff
    // profile columns (n_full / n_backoff_steps — a degenerate all-unigram
    // run would be visible in the gate itself)
    "d_lm_ngram" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val scored = docs.select(col("doc_id"),
        when(col("doc_id") % 10 === 0,
          concat(col("text"), lit(" qqxzoov"),
            (col("doc_id") % 7).cast("string")))
          .otherwise(col("text")).as("text"))
      TextAnalysis.lmNgramScoreAgainst(
        TextAnalysis.lmNgramModel(docs.filter(col("lang") === "en"), order = 3),
        scored, order = 3)
    }),

    // CCNet's head/middle/tail split over the ORDER-5 Stupid Backoff score
    // (Wenzek et al. §4.3 at the deployed order; Brants et al. EMNLP'07) —
    // the split that actually measures fluency: repeat-heavy word salad
    // scores well under a unigram model, so the unigram terciles
    // (d_lm_buckets) and these diverge exactly where CCNet needs them to.
    // Same every-10th-doc OOV injection as d_lm_ngram; thresholds decoded
    // from the s=10 mergeable log-histogram like d_lm_buckets
    "d_lm_ngram_buckets" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val scored = docs.select(col("doc_id"),
        when(col("doc_id") % 10 === 0,
          concat(col("text"), lit(" qqxzoov"),
            (col("doc_id") % 7).cast("string")))
          .otherwise(col("text")).as("text"))
      TextAnalysis.lmNgramBuckets(
        TextAnalysis.lmNgramModel(docs.filter(col("lang") === "en"), order = 5),
        scored, order = 5, subBucketBits = 10)
    }),

    // supervised reference-domain classifier (the fastText slot of CCNet,
    // Wenzek et al. LREC'20 §4.4) — mergeable multinomial NB. The corpus
    // has NO natural class separation (measured: every lang/source shares
    // the full 31-term vocabulary), so training rides an injection
    // prologue: two synthetic domains with separable vocab PLUS opposed
    // real-vocab anchors (data/table vs scan/merge), trained in BOTH
    // engines; scored docs = the whole real corpus (classified by their
    // genuine data/table vs scan/merge counts — non-degenerate) + 20
    // held-out synthetic docs (always classified correctly; the spec
    // pins 20/20 held-out accuracy separately)
    "d_domain_classify" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val heldA = s.range(0, 10).select((col("id") + 9000000L).as("doc_id"),
        concat(lit("aleph zephyr data w"), (col("id") % 5).cast("string")).as("text"))
      val heldB = s.range(0, 10).select((col("id") + 9100000L).as("doc_id"),
        concat(lit("borax osmium scan w"), (col("id") % 5).cast("string")).as("text"))
      TextAnalysis.nbClassify(
        TextAnalysis.nbModel(nbDomainTrain(s)),
        TextAnalysis.nbPriors(nbDomainTrain(s)),
        docs.unionByName(heldA).unionByName(heldB))
    }),

    // document-local unigram entropy (degenerate-repetition signal); gated
    // on the exact integer micro-nat total, same discipline as d_lm_score
    "d_entropy" -> ((s, dir) =>
      TextAnalysis.unigramEntropy(t(s, dir, "documents"))),

    // document-level token co-occurrence with PMI in integer micro-nats —
    // collocation mining over distinct-token sets, support-thresholded
    "d_cooccur" -> ((s, dir) =>
      TextAnalysis.cooccurrence(t(s, dir, "documents"), minSupport = 5)),

    // exact edit-distance similarity join (Ed-Join count filtering: rare
    // positional q-gram prefixes → candidates, thresholded levenshtein
    // verify) — finds the planted near-identical pairs without an all-pairs
    // product
    "d_edit_pairs" -> ((s, dir) => cachedEditPairs(s, dir)),

    // one-scan ROLLUP corpus profile: (source, lang) cells + marginals
    "d_profile_rollup" -> ((s, dir) =>
      Curation.corpusProfile(t(s, dir, "documents"), "source", "lang")),

    // edit-distance dedup clusters: WCC over the exact lev<=8 pair graph —
    // the fifth gated clustering policy (exact/minhash/simhash/semantic/edit)
    "d_edit_clusters" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.clustersFromPairs(docs.select(col("doc_id").as("id")),
        cachedEditPairs(s, dir))
        .toDF("doc_id", "rep")
    }),

    // snapshot diff between two deterministic corpus versions (drop 'test'
    // docs vs drop 'valid' docs + mutate 'de' texts): added/removed/changed
    // by Poly64 content fingerprint — the incremental-ingest audit
    "d_snapshot_diff" -> ((s, dir) => {
      val split = Curation.hashSplit(t(s, dir, "documents"))
      val fp = (d: DataFrame) => d.select(col("doc_id"),
        graft.functions.Poly64.poly64(
          regexp_replace(lower(trim(col("text"))), "\\s+", " ")).as("fp"))
      val v1 = split.filter(col("split") =!= "test")
      val v2 = split.filter(col("split") =!= "valid")
        .withColumn("text", when(col("lang") === "de",
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
      Curation.snapshotDiff(fp(v1), fp(v2))
        .filter(col("status") =!= "unchanged")
    }),

    // cross-split near-dup leakage: hash splits × minhash clusters — the
    // train/test contamination check (empty = clean; here the planted
    // near-dups leak by construction)
    "d_split_leakage" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Curation.splitLeakage(
        Curation.hashSplit(docs).select(col("doc_id"), col("split")),
        cachedMinhashClusters(s, dir))
    }),

    // corpus stats: per-language vocabulary size + token volume (exact
    // distinct — the oracle-checkable baseline; approx_count_distinct is the
    // sketch path at 100 TB)
    "d_vocab" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("lang"),
          explode(TextAnalysis.wsTokens(lower(trim(col("text"))))).as("tok"))
        .groupBy(col("lang"))
        .agg(countDistinct(col("tok")).as("vocab"),
          count(lit(1)).as("n_tokens"))),

    // Gopher-style repetition filter features (rowwise, shuffle-free)
    "d_repetition" -> ((s, dir) =>
      TextAnalysis.repetition(t(s, dir, "documents"))
        .select(col("doc_id"), col("n_tokens"), col("dup_token_ratio"),
          col("dup_2gram_ratio"), col("dup_3gram_ratio"))),

    // retention-policy dedup: keep the largest doc per content group
    "d_dedup_retain" -> ((s, dir) =>
      Dedup.exactKeepBest(t(s, dir, "documents"))),

    // streaming first-seen dedup, batch analog: the exact frame
    // streamingExact emits when arrival order = doc_id order (the
    // MemoryStream spec pins stream ≡ this; the oracle gates the semantics)
    "d_streaming_dedup" -> ((s, dir) =>
      Dedup.firstSeen(t(s, dir, "documents"))
        .select(col("doc_id"), col("source"), col("n_chars"))),

    // end-to-end near-dup curation: MinHash+LSH clusters → keep the largest
    // member per cluster (Poly64-gated like d_minhash_clusters)
    "d_minhash_retain" -> ((s, dir) =>
      Dedup.keepBestPerCluster(cachedMinhashClusters(s, dir),
        t(s, dir, "documents"))),

    // same retention over SimHash Hamming clusters
    "d_simhash_retain" -> ((s, dir) =>
      Dedup.keepBestPerCluster(cachedSimhashClusters(s, dir),
        t(s, dir, "documents"))),

    // poly = true: Poly64 Rabin base hashes — the full LSH pipelines
    // (shingle→minhash→band→bucket-join→verify→WCC, token-hash→simhash→
    // chunk-join→hamming→WCC) are then reproducible in the DuckDB oracle
    // via HUGEINT mod-2^64 folds
    "d_minhash_clusters" -> ((s, dir) => cachedMinhashClusters(s, dir)),

    // incremental LSH maintenance: index 80% of the corpus, fold the other
    // 20% in as a delta — must equal the FULL recompute (the oracle is the
    // same SQL as d_minhash_clusters), with the delta joins reading the
    // base side from the persisted bucketed index only
    "d_minhash_incr" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.saveLshIndex(docs.filter(col("doc_id") % 5 =!= 0), "incr_idx",
        threshold = 0.5, poly = true, buckets = 8) // SF-sized file fan-out
      Dedup.incrementalMinHashLSH(s, "incr_idx",
          docs.filter(col("doc_id") % 5 === 0), threshold = 0.5, poly = true)
        .toDF("doc_id", "rep")
    }),

    "d_simhash_clusters" -> ((s, dir) => cachedSimhashClusters(s, dir)),

    "e_knn_top1" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      Ann.bruteForceKnn(emb, emb, 1).select(col("query_id"), col("nbr_id"))
    }),

    // SQ8 scalar-quantized ANN: corpus dequantized from 8-bit codes,
    // queries full-precision (asymmetric distance); oracle replays the
    // identical round/step arithmetic from SQL-side per-dim min/max
    "e_knn_sq8" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      Ann.sq8Knn(emb, emb, k = 3)
        .select(col("query_id"), col("nbr_id"), col("rank"))
    }),

    // exact kNN GRAPH (query set = corpus) via the block-nested-loop join —
    // no corpus broadcast; per-tile bounded-heap partials merge to global
    // top-3 (ids+rank gated; sim omitted — engines' FP formulas differ)
    "e_knn_graph" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      Ann.knnGraphBlocked(emb, k = 3, blocks = 8)
        .select(col("query_id"), col("nbr_id"), col("rank"))
    }),

    // mutual-kNN connected components: reciprocated kNN edges → WCC —
    // embedding clustering composed from the ANN + graph halves of the
    // library (oracle replays knn + mutuality + recursive min-label)
    "e_knn_mutual_cc" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      Ann.mutualKnnComponents(emb, k = 3, blocks = 8)
    }),

    "e_knn_ivf" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      // id-ordered quantizer init so the full IVF pipeline (Lloyd training,
      // cell assignment, nprobe search) is DuckDB-oracle-checkable
      Ann.ivfKnn(emb, emb, 3, nlist = 16, nprobe = 4, iters = 2, hashInit = false)
        .select(col("query_id"), col("nbr_id"), col("rank"))
    }),

    // recall@k of the nprobe=4 IVF search against exhaustive search (probe
    // every cell = brute force minus self) — the ANN quality report as
    // exact per-query integers
    "e_knn_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      val approx = Ann.ivfKnn(emb, emb, 3, nlist = 16, nprobe = 4, iters = 2,
        hashInit = false).select(col("query_id"), col("nbr_id"))
      val exact = Ann.ivfKnn(emb, emb, 3, nlist = 16, nprobe = 16, iters = 2,
        hashInit = false).select(col("query_id"), col("nbr_id"))
      Ann.recallAtK(exact, approx)
    }),

    // incremental IVF maintenance: train + index 80% of the vectors, fold
    // the other 20% in as a delta against the FROZEN quantizer, search the
    // persisted index — the oracle trains on the base slice only and
    // assigns/probes everything, exactly the frozen-centroid semantics
    "e_knn_ivf_incr" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      Ann.saveIvfIndex(emb.filter(col("vec_id") % 5 =!= 0), "incr_ivf",
        nlist = 16, iters = 2, hashInit = false, buckets = 8)
      Ann.appendToIvfIndex(s, "incr_ivf", emb.filter(col("vec_id") % 5 === 0))
      Ann.ivfKnnIndexed(s, "incr_ivf", emb, 3, nprobe = 4)
        .select(col("query_id"), col("nbr_id"), col("rank"))
    }),

    // product quantization: 2×32-dim subspaces, 8 codes each, ADC scoring —
    // id-ordered init so the whole train/encode/score pipeline is
    // DuckDB-oracle-checkable like e_knn_ivf
    "e_knn_pq" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      Ann.pqKnn(emb, emb, 2, m = 2, ncodes = 8, iters = 2, hashInit = false)
    }),

    // IVF-PQ: the 100 TB ANN configuration — IVF cells bound WHICH candidates
    // are scored, PQ codes bound the cost per candidate; id-ordered init
    // keeps the whole composition DuckDB-checkable
    "e_knn_ivfpq" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      Ann.ivfPqKnn(emb, emb, 2, nlist = 16, nprobe = 4, m = 2, ncodes = 8,
        iters = 2, hashInit = false)
    }),

    // hyperplane-LSH KNN (no training pass): sign-bucket candidates with
    // Hamming-1 multi-probe, exact cosine rerank — the Rademacher hash
    // family is SQL-reproducible, so the whole path is oracle-gated
    "e_knn_lsh" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      Ann.lshKnn(emb, emb, 3, bits = 10)
        .select(col("query_id"), col("nbr_id"), col("rank"))
    }),

    // incremental IVF-PQ maintenance: the 100 TB ANN configuration's ingest
    // loop — quantizer AND codebook train on the 80% base, the 20% delta is
    // assigned + encoded against both FROZEN and appended, the search reads
    // the maintained scoring-ready index
    "e_knn_ivfpq_incr" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      Ann.saveIvfPqIndex(emb.filter(col("vec_id") % 5 =!= 0), "incr_ivfpq",
        nlist = 16, m = 2, ncodes = 8, iters = 2, hashInit = false, buckets = 8)
      Ann.appendToIvfPqIndex(s, "incr_ivfpq", emb.filter(col("vec_id") % 5 === 0))
      Ann.ivfPqKnnIndexed(s, "incr_ivfpq", emb, 2, nprobe = 4)
    }),

    "e_embedding_dedup" -> ((s, dir) =>
      // exact all-pairs verification path (oracle-checkable end to end,
      // including the connected-components clustering)
      Dedup.embeddingDedup(t(s, dir, "embeddings"), threshold = 0.9, lshBits = 0)
        .toDF("vec_id", "rep")),

    "e_embedding_dedup_lsh" -> ((s, dir) =>
      // hyperplane-bucketed candidates — the 100 TB scale path (bucket
      // equi-join instead of all-pairs); Rademacher ±1 hyperplanes are
      // integer-derived, so the whole pipeline is oracle-checkable
      Dedup.embeddingDedup(t(s, dir, "embeddings"), threshold = 0.9, lshBits = 10)
        .toDF("vec_id", "rep")),

    // Johnson–Lindenstrauss Rademacher projection (Achlioptas 2003):
    // exact-integer shadow — micro-quantized inputs, ±1 signs from the
    // hyperplane integer mix, LONG accumulation (no float association) —
    // 8 components per vector; the float-scaled form is spec-pinned with
    // a cluster-preservation recall drill
    "e_rp_project" -> ((s, dir) =>
      Ann.rpProjectMicro(t(s, dir, "embeddings"), outDim = 8)),

    "e_semdedup" -> ((s, dir) => {
      // SemDeDup (arXiv:2303.09540): k-means cells bound the pairwise term,
      // greedy lowest-id retention inside each cell. hashInit=false so the
      // Lloyd trainer is the same id-ordered-init pipeline the e_knn_ivf
      // oracle already derives in ANSI SQL. threshold=0.35 sits inside the
      // synthetic corpus's cosine mass (its max pairwise cosine is ~0.51 —
      // no planted near-dups) so the prune path actually fires: ~46 of 500
      // vectors drop at sf0.01; nearest pair is 1.2e-6 from the threshold
      // at sf0.1, so the float boundary can't flip a comparison.
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      Dedup.semDedup(emb, nlist = 16, threshold = 0.35, iters = 2, hashInit = false)
    }),

    "e_semdedup_incr" -> ((s, dir) => {
      // ingest-loop shape: quantizer frozen on the base slice, delta
      // appended as bucket files, survivors computed over the maintained
      // cells table (same greedy rule, no base-side exchange)
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      Dedup.saveSemDedupIndex(emb.filter(col("vec_id") % 5 =!= 0), "isem",
        nlist = 16, threshold = 0.35, iters = 2, hashInit = false, buckets = 8)
      Dedup.appendToSemDedupIndex(s, "isem", emb.filter(col("vec_id") % 5 === 0))
      Dedup.semDedupSurvivors(s, "isem")
    }),

    // ---- Pregel CF algorithms, ORACLE-GATED via derived prediction order --
    // The float factor values themselves are seeded-deterministic but not
    // ANSI-SQL-derivable (DuckDB can't run the trainer); they stay pinned by
    // AlgoSpec goldens. The driver queries emit a derived output an external
    // oracle CAN check: per-user argmax-predicted item over the rank-1 probe
    // fixture (rating = item+1, items = partkey mod 5, so each user's rated
    // items carry DISTINCT ratings). Any correctly-training factorizer ranks
    // the rating-5 item first after its first alternation; the oracle is
    // `max(item) per user`.

    "cf_sgd_top" -> ((s, dir) => {
      import graft.algos.compute.Cf
      import graft.pregel.Pregel
      val ratings = cfProbeRatings(s, dir)
      val verts = ratings.flatMap(t => Iterator(t._1, t._2)).distinct()
        .map(id => (id, Array.empty[Float]))
      val e = ratings.map { case (u, i, r) => (u, (i, r)) }
      val res = Pregel.run(s, new Cf.Sgd(dim = 8, iterations = 4, randomSeed = Some(42L)),
        verts, e, numPartitions = 8, maxIterations = 10)
      import s.implicits._
      val out = topPredicted(s, ratings,
        res.vertices.map { case (id, f) => (id, (0f, f, Array.empty[Float])) })
        .toDF("user_id", "top_item").localCheckpoint(true)
      res.unpersistState(); ratings.unpersist(false)
      out
    }),

    "cf_als_top" -> ((s, dir) => {
      import graft.algos.compute.Cf
      import graft.pregel.Pregel
      val ratings = cfProbeRatings(s, dir)
      val verts = ratings.flatMap(t => Iterator(t._1, t._2)).distinct()
        .map(id => (id, Array.empty[Float]))
      val e = ratings.map { case (u, i, r) => (u, (i, r)) }
      val res = Pregel.run(s, new Cf.Als(dim = 8, iterations = 4, randomSeed = Some(42L)),
        verts, e, numPartitions = 8, maxIterations = 10)
      import s.implicits._
      val out = topPredicted(s, ratings,
        res.vertices.map { case (id, f) => (id, (0f, f, Array.empty[Float])) })
        .toDF("user_id", "top_item").localCheckpoint(true)
      res.unpersistState(); ratings.unpersist(false)
      out
    }),

    "cf_svdpp_top" -> ((s, dir) => {
      import graft.algos.compute.Cf
      import graft.pregel.Pregel
      val ratings = cfProbeRatings(s, dir)
      val verts = ratings.flatMap(t => Iterator(t._1, t._2)).distinct()
        .map(id => (id, Cf.SvdppValue(0f, Array.empty[Float], Array.empty[Float])))
      val e = ratings.map { case (u, i, r) => (u, (i, r)) }
      val res = Pregel.run(s, new Cf.Svdpp(dim = 8, iterations = 4, randomSeed = Some(42L)),
        verts, e, numPartitions = 8, maxIterations = 12)
      import s.implicits._
      val out = topPredicted(s, ratings,
        res.vertices.map { case (id, v) => (id, (v.baseline, v.factors, v.weight)) },
        svdpp = true)
        .toDF("user_id", "top_item").localCheckpoint(true)
      res.unpersistState(); ratings.unpersist(false)
      out
    }),

    "g_semicluster" -> ((s, dir) => {
      import graft.algos.compute.AdvancedAlgorithms.{SemiClustering, SemiCluster}
      import graft.pregel.Pregel
      val edges = starGraph(s, dir).edges
        .select(col("src"), col("dst"), col("value"))
        .rdd.flatMap(r => Iterator(
          (r.getLong(0), (r.getLong(1), r.getDouble(2))),
          (r.getLong(1), (r.getLong(0), r.getDouble(2))))).persist()
      val verts = edges.map(_._1).distinct().map(id => (id, Set.empty[SemiCluster]))
      val res = Pregel.run(s, new SemiClustering(iterations = 6, maxClusters = 2,
        clusterCapacity = 4, scoreFactor = 0.5),
        verts, edges, numPartitions = 8, maxIterations = 10)
      import s.implicits._
      val out = res.vertices.map { case (id, clusters) =>
        val best = if (clusters.isEmpty) 0.0
          else math.round(clusters.map(_.score).max * 1e6) / 1e6
        (id, clusters.size, best)
      }.toDF("id", "n_clusters", "best_score").localCheckpoint(true)
      res.unpersistState(); edges.unpersist(false)
      out
    }),

    "g_kmeans_clusters" -> ((s, dir) => {
      import graft.algos.compute.AdvancedAlgorithms.{KMeans, KMeansValue}
      import graft.pregel.Pregel
      val sc = s.sparkContext
      // distributed load; float→double widening runs in the map task (the
      // Catalyst per-element cast would be interpreted anyway)
      val pts = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
        .rdd.map(r => (r.getLong(0),
          KMeansValue(r.getSeq[Float](1).iterator.map(_.toDouble).toVector, 0)))
        .persist()
      // id-ordered quantizer init: takeOrdered ships only k rows to the driver
      val init = pts.takeOrdered(4)(Ordering.by(_._1)).map(_._2.coords).toSeq
      val res = Pregel.run(s,
        new KMeans(k = 4, maxIterations = 8, initialCenters = Some(init)),
        pts, sc.parallelize(Seq.empty[(Long, (Long, Double))]),
        numPartitions = 8, maxIterations = 10)
      import s.implicits._
      val out = res.vertices.map { case (id, v) => (id, v.clusterId) }
        .toDF("vec_id", "cluster").localCheckpoint(true)
      res.unpersistState(); pts.unpersist(false)
      out
    }),

    "g_sybilrank" -> ((s, dir) => {
      import graft.algos.compute.AdvancedAlgorithms.{SybilRank, SybilValue}
      import graft.pregel.Pregel
      val edges = starGraph(s, dir).edges
        .select(col("src"), col("dst"), col("value"))
        .rdd.flatMap(r => Iterator(
          (r.getLong(0), (r.getLong(1), r.getDouble(2))),
          (r.getLong(1), (r.getLong(0), r.getDouble(2))))).persist()
      val verts = edges.map(_._1).distinct()
        .map(id => (id, SybilValue(0.0, isTrusted = id % 100 == 0)))
      val res = Pregel.run(s, new SybilRank(), verts, edges,
        numPartitions = 8, maxIterations = 30)
      import s.implicits._
      val out = res.vertices.map { case (id, v) => (id, math.round(v.rank * 1e6) / 1e6) }
        .toDF("id", "rank").localCheckpoint(true)
      res.unpersistState(); edges.unpersist(false)
      out
    }),

    "g_maxbmatching" -> ((s, dir) => {
      import graft.algos.compute.AdvancedAlgorithms.{MaxBMatching, MbmEdge, MbmState}
      import graft.pregel.Pregel
      // undirected star clusters (diameter 2 → fast proposal convergence);
      // weights vary per leaf, capacity 2 per vertex
      val edges = starGraph(s, dir).edges
        .select(col("src"), col("dst"), (col("src") % 7 + 1).cast("double").as("w"))
        .rdd.flatMap(r => Iterator(
          (r.getLong(0), (r.getLong(1), MbmEdge(r.getDouble(2), MbmState.Default))),
          (r.getLong(1), (r.getLong(0), MbmEdge(r.getDouble(2), MbmState.Default))))).persist()
      val verts = edges.map(_._1).distinct().map(id => (id, 2))
      val res = Pregel.run(s, new MaxBMatching, verts, edges,
        numPartitions = 8, maxIterations = 12)
      import s.implicits._
      val out = res.edges.filter(_._2.value.state == MbmState.Included)
        .map { case (src, e) => (src, e.target, e.value.weight) }
        .toDF("src", "dst", "weight").localCheckpoint(true)
      res.unpersistState(); edges.unpersist(false)
      out
    }),

    // Pregel VertexCount/EdgeCount building blocks (reference library/basic):
    // the counts land in persistent LongSum aggregators — the Pregel
    // aggregator channel itself is what this query gates
    "g_counts" -> ((s, dir) => {
      import graft.algos.compute.BasicAlgorithms.{EdgeCount, VertexCount}
      import graft.pregel.Pregel
      val g = supplierPartGraph(s, dir)
      val edges = g.edges.select(col("src"), col("dst")).rdd
        .map(r => (r.getLong(0), (r.getLong(1), 1.0))).persist()
      val verts = g.vertices.select(col("id")).rdd
        .map(r => (r.getLong(0), 0L)).persist()
      // 8 partitions: the graph is ~1e5 rows at sf0.1 — per-superstep stage
      // scheduling dominates at the default 32 (same tuning as g_maxbmatching)
      val vc = Pregel.run(s, new VertexCount, verts, edges,
        numPartitions = 8, maxIterations = 3)
      val nv = vc.aggregates(VertexCount.Agg).asInstanceOf[Long]
      vc.unpersistState()
      val ec = Pregel.run(s, new EdgeCount, verts, edges,
        numPartitions = 8, maxIterations = 3)
      val ne = ec.aggregates(EdgeCount.Agg).asInstanceOf[Long]
      ec.unpersistState(); verts.unpersist(false); edges.unpersist(false)
      s.range(1).select(lit(nv).as("n_vertices"), lit(ne).as("n_edges"))
    }),

    // Pregel ReverseEdges building block: step 0 floods ids along out-edges,
    // step 1 addEdge()s any missing reverse — gates the edge-MUTATION path
    // (the adjacency rewrite), whose output is the final edge set itself
    "g_reverse_edges" -> ((s, dir) => {
      import graft.algos.compute.BasicAlgorithms.ReverseEdges
      import graft.pregel.Pregel
      val g = treeGraph(s, dir)
      val edges = g.edges.rdd
        .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2)))).persist()
      val verts = g.vertices.select(col("id")).rdd
        .map(r => (r.getLong(0), 0L)).persist()
      val res = Pregel.run(s, new ReverseEdges, verts, edges,
        numPartitions = 8, maxIterations = 5)
      import s.implicits._
      val out = res.edges.map { case (src, e) => (src, e.target, e.value) }
        .toDF("src", "dst", "value").localCheckpoint(true)
      res.unpersistState(); verts.unpersist(false); edges.unpersist(false)
      out
    }),

    // ---- streaming module (summary aggregation, batch-checkable) ---------

    "s_streaming_cc" -> ((s, dir) => {
      import s.implicits._
      import graft.streaming.EdgeStreamOps
      val e = starGraph(s, dir).edges
        .select(col("src"), col("dst")).as[(Long, Long)]
      val comps = EdgeStreamOps
        .aggregateSummary(e, new graft.streaming.EdgeStreamOps.ConnectedComponentsAgg)
        .flatMap(_.toSeq).toDF("id", "root")
      // normalize union-find roots to the component minimum for a stable label
      val labels = comps.groupBy(col("root")).agg(min(col("id")).as("value"))
      comps.join(labels, Seq("root")).select(col("id"), col("value"))
    }),

    "s_bipartiteness" -> ((s, dir) => {
      import s.implicits._
      import graft.streaming.EdgeStreamOps
      val e = starGraph(s, dir).edges.select(col("src"), col("dst")).as[(Long, Long)]
      val (ok, _) = EdgeStreamOps
        .aggregateSummary(e, new graft.streaming.EdgeStreamOps.BipartitenessAgg).head()
      s.range(1).select(lit(ok).as("is_bipartite"))
    }),

    "s_spanner" -> ((s, dir) => {
      import s.implicits._
      import graft.streaming.EdgeStreamOps
      val e = starGraph(s, dir).edges.select(col("src"), col("dst")).as[(Long, Long)]
      val spanner = EdgeStreamOps
        .aggregateSummary(e, new graft.streaming.EdgeStreamOps.SpannerAgg(2)).head()
      s.createDataset(spanner.toSeq).toDF("src", "dst")
    }),

    // windowed edge-stream ops (KGraphWindowedStream analog): tumbling
    // 1-hour slice by source vertex, per-window per-vertex edge-value sum
    "s_windowed_reduce" -> ((s, dir) => {
      import graft.streaming.EdgeStreamOps._
      val e = events(s, dir).select(col("user_id").as("src"),
        (col("user_id") % 50).as("dst"), cents(col("value")).as("value"), col("ts"))
      e.slice(col("ts"), "1 hour").reduceOnEdges(sum)
        .select(col("window.start").as("window_start"), col("id"), col("value"))
    }),

    // ---- events (streaming semantics, batch-checkable) -------------------

    // multimodal PLAN stages (pure Catalyst over typed metadata — the
    // contract a decode stage plugs into; byte decode itself is spec-gated
    // since the driver tables carry no binaries): frame-sampling schedule
    // and resize geometry, driven by deterministic per-doc metadata
    "mm_frame_plan" -> ((s, dir) => {
      val media = t(s, dir, "documents").select(col("doc_id").as("id"),
        struct(lit("video").as("mediaType"),
          (lit(500L) + col("doc_id") % 7919).as("durationMs")).as("meta"))
      Multimodal.frameSamplePlan(media, hopMs = 1000L)
        .toDF("id", "frame_idx", "start_ms")
    }),

    "mm_resize_plan" -> ((s, dir) => {
      val media = t(s, dir, "documents").select(col("doc_id").as("id"),
        struct((lit(400L) + col("doc_id") % 1200).cast("int").as("width"),
          (lit(300L) + col("doc_id") % 900).cast("int").as("height")).as("meta"))
      Multimodal.resizePlan(media, maxSide = 512)
        .select(col("id"), col("target_width"), col("target_height"),
          round(col("scale"), 6).as("scale"))
    }),

    // perceptual near-dup image clusters over the 64-bit pHash: pigeonhole
    // band candidates → bit_count(xor) ≤ 6 verify → WCC. The decode→DCT
    // stage is spec-gated on real JDK-encoded PNGs (the driver tables
    // carry no binaries); the GATE pins the clustering machinery on
    // deterministic synthetic hashes — mix64(doc_id div 4) with per-residue
    // bit flips at Hamming 3 / 5 / 16, so each group of four clusters as
    // {base, +3bits, +5bits} with the 16-bit variant a singleton (the
    // 3↔5 pair sits at Hamming 8 and connects only TRANSITIVELY through
    // the base — the WCC path is non-vacuous by construction)
    "mm_phash_dups" -> ((s, dir) => {
      val v = pmod(col("doc_id"), lit(4))
      val hashes = t(s, dir, "documents").select(col("doc_id").as("id"),
        graft.functions.Poly64.mix64(expr("doc_id div 4")).bitwiseXOR(
          when(v === 1, lit(66561L))              // bits {0,10,16}
            .when(v === 2, lit(2201172838402L))   // bits {1,11,21,31,41}
            .when(v === 3, lit(1431655765L))      // 16 alternating bits
            .otherwise(lit(0L))).as("phash64"))
      Multimodal.phashClusters(hashes, maxHamming = 6)
    }),

    "ev_hourly" -> ((s, dir) =>
      events(s, dir)
        .groupBy(date_trunc("hour", col("ts")).as("hour_start"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("sum_cents"))),

    // recency-decayed per-user value: binary-weight EWMA over the last 16
    // events — integer-exact (micro-unit floor + BIGINT weighted fold)
    "ev_decay" -> ((s, dir) =>
      Events.decayedValue(events(s, dir), window = 16)),

    // per-user 2σ outliers decided in exact integer algebra (micro-unit
    // quantization + decimal(38) cross-multiplied variance test — zero FP,
    // so the flag set is bit-identical across engines and shuffle orders)
    "ev_outliers" -> ((s, dir) =>
      Events.outliers(events(s, dir), sigmas = 2)),

    // robust median/MAD outliers (heavy-tail-safe): exact rank-based
    // medians via bucket-histogram selection, all integer micro-units
    "ev_robust_outliers" -> ((s, dir) =>
      Events.robustOutliers(events(s, dir), k = 3)),

    // per-type equi-width value histogram (fixed bounds, clamped edges)
    "ev_histogram" -> ((s, dir) =>
      Events.histogram(events(s, dir), lo = 0.0, hi = 500.0, bits = 5)),

    // funnel latency profile: exact quantiles of first-view → first-purchase
    // time per converting user (micros; bucket-histogram rank selection, no
    // global sort)
    "ev_conversion_time" -> ((s, dir) => {
      val ev = events(s, dir)
      val s1 = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
      val deltas = ev.filter(col("event_type") === "purchase")
        .join(s1, "user_id").filter(col("ts") > col("t1"))
        .groupBy(col("user_id"), col("t1")).agg(min(col("ts")).as("t2"))
        .select((unix_micros(col("t2")) - unix_micros(col("t1"))).as("delta_us"))
      Curation.exactQuantiles(deltas, "delta_us", Seq(0.25, 0.5, 0.9))
    }),

    // per-label per-dimension embedding moment profile (drift-monitoring
    // building block): floor-quantized micro-unit sums, BIGINT-exact
    "e_label_profile" -> ((s, dir) =>
      LinAlg.groupDimProfile(t(s, dir, "embeddings"), "label", "embedding")),

    // Z-order layout assignment over orders (price × order-day): Morton
    // interleave of fixed-bound buckets + shift-derived target file id —
    // the multi-dimensional data-skipping layout, bit-exact vs SQL
    "ev_zorder" -> ((s, dir) =>
      Layout.zorderAssign(
        t(s, dir, "orders")
          .withColumn("o_day",
            datediff(col("o_orderdate").cast("date"), lit("1992-01-01").cast("date"))),
        "o_totalprice", 0.0, 600000.0, "o_day", 0.0, 2560.0,
        bits = 8, fileBits = 4)
        .select(col("o_orderkey"), col("xb"), col("yb"),
          col("morton"), col("file_id"))),

    // per-file zone maps over the Z-ordered assignment: the externalized
    // min/max pruning metadata a 100 TB scan planner skips files with
    "ev_zone_maps" -> ((s, dir) =>
      Layout.zoneMaps(
        Layout.zorderAssign(
          t(s, dir, "orders")
            .withColumn("o_day",
              datediff(col("o_orderdate").cast("date"), lit("1992-01-01").cast("date"))),
          "o_totalprice", 0.0, 600000.0, "o_day", 0.0, 2560.0,
          bits = 8, fileBits = 4),
        "file_id", Seq("xb", "yb", "morton"))),

    // semi-structured props column: JSON path extraction feeding an aggregate
    // (get_json_object is codegen'd; the JSON never leaves the scan stage)
    "ev_props_agg" -> ((s, dir) =>
      events(s, dir)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(count(col("k")).as("n"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))),

    // ordered conversion funnel over the behavioral event log
    "ev_funnel" -> ((s, dir) =>
      Events.funnel(events(s, dir), Seq("view", "click", "purchase"))),

    // day-grain cohort retention (first-event cohort × activity offset)
    "ev_retention" -> ((s, dir) =>
      Events.cohortRetention(events(s, dir))),

    // range join: errors within 30 min after each purchase of the same user
    // — bucketized interval join (bins ≈ interval length), never a
    // nested-loop inequality join
    "ev_range" -> ((s, dir) => {
      val ev = events(s, dir).withColumn("us", unix_micros(col("ts")))
      val win = 30L * 60 * 1000000
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("us").as("win_start"), (col("us") + win).as("win_end"))
      val errors = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("error_id"), col("user_id"),
          col("us").as("err_us"))
      val pairs = Events.rangeJoin(errors, purchases,
        "err_us", "win_start", "win_end", binWidth = win,
        keyCols = Seq("user_id"))
      purchases.join(
          pairs.groupBy(col("purchase_id")).agg(count(lit(1)).as("n")),
          Seq("purchase_id"), "left")
        .select(col("purchase_id"), col("user_id"),
          coalesce(col("n"), lit(0L)).as("n_errors"))
    }),

    // interval-overlap join: 30-min purchase windows × 10-min view windows
    // per user — bin-replicated equi-join with a canonical-bin dedup guard,
    // never an inequality-only nested loop
    "ev_overlap" -> ((s, dir) => {
      val ev = events(s, dir).withColumn("us", unix_micros(col("ts")))
      val w30 = 30L * 60 * 1000000; val w10 = 10L * 60 * 1000000
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("us").as("ps"), (col("us") + w30).as("pe"))
      val v = ev.filter(col("event_type") === "view")
        .select(col("event_id").as("view_id"), col("user_id"),
          col("us").as("vs"), (col("us") + w10).as("ve"))
      val pairs = Events.intervalOverlapJoin(p, v, "ps", "pe", "vs", "ve",
        binWidth = w30, keyCols = Seq("user_id"))
      p.join(pairs.groupBy(col("purchase_id")).agg(count(lit(1)).as("n")),
          Seq("purchase_id"), "left")
        .select(col("purchase_id"), col("user_id"),
          coalesce(col("n"), lit(0L)).as("n_views"))
    }),

    // as-of join: each purchase ↔ the user's most recent prior-or-equal
    // click value (temporal feature attachment; DuckDB ASOF JOIN oracle)
    "ev_asof" -> ((s, dir) => {
      val ev = events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(cents(col("value"))).as("click_cents"))
      Events.asofJoin(purchases, clicks, "user_id", "ts", "click_cents")
        .select(col("event_id"), col("user_id"),
          col("asof_value").as("click_cents"))
    }),

    // FORWARD as-of: each purchase ↔ the user's EARLIEST at-or-after click
    // value (time-reversed reuse of the backward machinery; DuckDB native
    // forward-ASOF oracle)
    "ev_asof_fwd" -> ((s, dir) => {
      val ev = events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(cents(col("value"))).as("click_cents"))
      Events.asofJoinForward(purchases, clicks, "user_id", "ts", "click_cents")
        .select(col("event_id"), col("user_id"),
          col("asof_value").as("click_cents"))
    }),

    // the hot-key-hardened as-of plan (daily time chunks + boundary
    // carry-over): must be row-identical to ev_asof — same DuckDB native
    // ASOF oracle gates both
    "ev_asof_chunked" -> ((s, dir) => {
      val ev = events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(cents(col("value"))).as("click_cents"))
      Events.asofJoin(purchases, clicks, "user_id", "ts", "click_cents",
          chunk = Some(ts => floor(unix_timestamp(ts) / 86400L)))
        .select(col("event_id"), col("user_id"),
          col("asof_value").as("click_cents"))
    }),

    "ev_sessions" -> ((s, dir) =>
      Events.sessionize(events(s, dir))
        .groupBy(col("user_id"), col("session_seq"))
        .agg(min(col("ts")).as("session_start"), count(lit(1)).as("n_events"))
        .select(col("user_id"), col("session_start"), col("n_events"))),

    // hot-key-hardened sessionization: per-(user, day-chunk) windows +
    // boundary-corrected prefix sums — row-identical to ev_sessions (same
    // oracle), with every sort partition bounded by the chunk width
    "ev_sessions_chunked" -> ((s, dir) =>
      Events.sessionize(events(s, dir),
          chunk = Some(ts => floor(unix_timestamp(ts) / 86400L)))
        .groupBy(col("user_id"), col("session_seq"))
        .agg(min(col("ts")).as("session_start"), count(lit(1)).as("n_events"))
        .select(col("user_id"), col("session_start"), col("n_events"))),

    // 10⁵-event-hot-user skew DRILL for the chunked session path (the
    // events analog of g_skew_*): user 1 fires every minute with an hour
    // jump each 1000 events → exactly 100 sessions of 1000, most of them
    // CROSSING day-chunk boundaries mid-session; 10 normal users with
    // 2-hour gaps → 100 single-event sessions each. Pure derivation with a
    // closed-form oracle; every (user, day) sort group stays ≈1 day wide
    // while the unchunked plan would sort all 10⁵ hot rows in one task
    "ev_skew_sessions" -> ((s, dir) => {
      val base = 1704067200L // 2024-01-01 00:00:00 UTC
      val hot = s.range(0L, 100000L).select(
        lit(1L).as("user_id"),
        timestamp_seconds(lit(base) + col("id") * 60 +
          expr("id div 1000") * 3600).as("ts"),
        col("id").as("event_id"))
      val normal = s.range(0L, 1000L).select(
        (col("id") % 10 + 2).as("user_id"),
        timestamp_seconds(lit(base) + expr("id div 10") * 7200).as("ts"),
        (lit(100000L) + col("id")).as("event_id"))
      Events.sessionize(hot.unionByName(normal),
          chunk = Some(ts => floor(unix_timestamp(ts) / 86400L)))
        .groupBy(col("user_id"), col("session_seq"))
        .agg(min(col("ts")).as("session_start"), count(lit(1)).as("n_events"))
        .select(col("user_id"), col("session_start"), col("n_events"))
    })
  )

  // =========================================================================

  /** Per-source roundtrip summary: count + char volume + XOR'd Poly64
    * fingerprints of `doc_id:text` — the lossless-format gate for the
    * JSONL/CSV sink→source cycles (any dropped/mutated row or character
    * flips the XOR). */
  /** Cost-visible corpus aggregate over a span-mask result
    * (doc_id, n_kept, text_fp): count + Σn_kept + XOR of fingerprints.
    * The filter defeats TWO count()-time prunes — the rebuild join
    * elimination AND the constant-1 fold of a no-grouping aggregate —
    * while the n_docs=0 disjunct keeps the single row on an empty corpus
    * (bit_xor of nothing is NULL; the oracle keeps the row). */
  private def maskCostAgg(masked: DataFrame): DataFrame =
    masked
      .agg(count(lit(1)).as("n_docs"), sum(col("n_kept")).as("tot_kept"),
        expr("bit_xor(text_fp)").as("mask_fp"))
      .filter(col("n_docs") === 0 || col("mask_fp").isNotNull)

  /** Within-document-ONLY repeat injection for the any-repeat span gates
    * (d_repeated_spans_any / _any_removed): every 50th doc gets its own
    * leading RepeatedSpanN-token window appended, so the window occurs at
    * pos 0 AND at the tail — a >=2-occurrence repeat the cross-document
    * criterion cannot see (the d_dup_matrix non-vacuousness discipline).
    * `concat` (not concat_ws) so a NULL text stays NULL, matching the SQL
    * `||` semantics in [[anyRepeatSrc]]; docs shorter than the window
    * append what they have (no repeat created — harmless, engine-agreed). */
  private def withinDocRepeatInjected(docs: DataFrame): DataFrame = {
    val toks = Dedup.normTokens(col("text"))
    docs.withColumn("text",
      when(col("doc_id") % 50 === 0,
        concat(col("text"), lit(" "),
          array_join(slice(toks, 1, RepeatedSpanN), " ")))
        .otherwise(col("text")))
  }

  /** C4-gate corpus prep: re-wrap the (punctuation-free) corpus into
    * 10-token sentences ending '.', joined by `sep` (' ' for the page
    * gate, '\n' for the line gate); every 47th doc is first truncated to
    * 12 tokens so the minSentences rule is non-vacuous. Replayed verbatim
    * in the oracle SQL. */
  private def c4SentenceWrapped(docs: DataFrame, sep: String): DataFrame = {
    val toks0 = TextAnalysis.wsTokens(trim(col("text")))
    val toks = when(col("doc_id") % 47 === 0, slice(toks0, 1, 12))
      .otherwise(toks0)
    val sents = transform(
      sequence(lit(0), ((size(toks) + 9) / 10 - 1).cast("int")),
      i => concat(array_join(slice(toks, i * 10 + 1, lit(10)), " "), lit(".")))
    docs.select(col("doc_id"), array_join(sents, sep).as("text"))
  }

  /** Page-gate injections: one tail per C4 failure mode. */
  private def c4InjectDoc(docs: DataFrame): DataFrame =
    docs.withColumn("text", concat(col("text"),
      when(col("doc_id") % 31 === 0, lit(" badger.")).otherwise(lit("")),
      when(col("doc_id") % 37 === 0, lit(" lorem ipsum.")).otherwise(lit("")),
      when(col("doc_id") % 43 === 0, lit(" { x }")).otherwise(lit(""))))

  /** The fixed 3-sentence block injected into every (20k+1)th doc for the
    * d_c4_span_dedup gate — vocabulary disjoint from the corpus, so it
    * cannot collide with the within-doc injection. */
  private val C4SpanBlock =
    "the quick brown fox runs.\nover the lazy dog today.\nand jumps the high fence."

  /** The second fixed 3-sentence block (space-joined — the segmenter must
    * split it), appended TWICE to every 50th doc for d_c4_span_sent's
    * within-doc any-repeat path; vocabulary disjoint from the corpus AND
    * from [[C4SpanBlock]]. */
  private val C4SentBlock2 =
    "alpha beta gamma delta now. epsilon zeta eta theta soon. iota kappa lambda mu done."

  /** d_c4_span_sent's corpus: sentence-wrapped as ONE space-joined line,
    * with segmenter edge-case injections (abbreviations, bare-number
    * enumeration, quote-wrapped terminal) and the span-dedup duplication
    * blocks. Replayed token-for-token in the oracle SQL. */
  private def c4SegmentInjected(s: SparkSession, dir: String): DataFrame =
    c4SentenceWrapped(t(s, dir, "documents"), " ")
      .withColumn("text", concat(col("text"),
        when(col("doc_id") % 11 === 0,
          lit(" dr. smith met mr. jones at 3.5 p.m. sharp!")).otherwise(lit("")),
        when(col("doc_id") % 13 === 0,
          lit(" was it worth 2. maybe not?")).otherwise(lit("")),
        when(col("doc_id") % 17 === 0,
          lit(" she said \"stop!\" then left.")).otherwise(lit("")),
        when(col("doc_id") % 20 === 1,
          lit(" " + C4SpanBlock.replace("\n", " "))).otherwise(lit("")),
        when(col("doc_id") % 50 === 0,
          lit(" " + C4SentBlock2 + " " + C4SentBlock2)).otherwise(lit(""))))

  /** Line-gate injections: one line per line-rule failure mode — no
    * terminal punctuation (%31), a 'javascript' word in an otherwise-legal
    * line (%37), under five words (%43). */
  private def c4InjectLines(docs: DataFrame): DataFrame =
    docs.withColumn("text", concat(col("text"),
      when(col("doc_id") % 31 === 0, lit("\nclick here now no punct"))
        .otherwise(lit("")),
      when(col("doc_id") % 37 === 0,
        lit("\nenable javascript support on your browser."))
        .otherwise(lit("")),
      when(col("doc_id") % 43 === 0, lit("\ntiny line.")).otherwise(lit(""))))

  /** Injected NB training corpus for d_domain_classify — two synthetic
    * domains, 40 docs each: separable private vocab (aleph/quartz/zephyr
    * vs borax/lattice/osmium), opposed REAL-vocab anchors (data/table vs
    * scan/merge — both in the corpus's natural vocabulary, so real docs
    * classify by their genuine token counts), and a shared w0..w4 tail
    * that cancels between classes. Deterministic and replayed verbatim in
    * the oracle SQL. */
  private def nbDomainTrain(s: SparkSession): DataFrame = {
    val a = s.range(0, 40).select(lit("dom_a").as("label"),
      concat(lit("aleph quartz zephyr aleph data table w"),
        (col("id") % 5).cast("string")).as("text"))
    val b = s.range(0, 40).select(lit("dom_b").as("label"),
      concat(lit("borax lattice osmium borax scan merge w"),
        (col("id") % 5).cast("string")).as("text"))
    a.unionByName(b)
  }

  /** Shared construction for d_decontam_spans and its cost aggregate:
    * eval slice + injected window probes, masked corpus = non-eval docs.
    * The injected windows are exactly RepeatedSpanN tokens wide (derived,
    * not hardcoded — a shorter-than-n window yields ZERO probe grams and
    * the gate silently reverts to agreed emptiness). */
  private def decontamMasked(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val probes = docs.filter(col("doc_id") % 41 === 0).select(col("text"))
      .unionByName(docs.filter(col("doc_id") % 50 === 0)
        .select(array_join(slice(Dedup.normTokens(col("text")), 2, RepeatedSpanN), " ")
          .as("text")))
    Curation.decontaminateSpans(docs.filter(col("doc_id") % 41 =!= 0),
      probes, n = RepeatedSpanN)
  }

  private def roundtripSummary(df: DataFrame): DataFrame =
    df.select(col("source"), col("n_chars"),
        graft.functions.Poly64.mix64(graft.functions.Poly64.poly64(
          concat_ws(":", col("doc_id"), coalesce(col("text"), lit(""))))).as("h"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"),
        expr("bit_xor(h)").as("content_fp"))

  /** The roundtrip oracle computes [[roundtripSummary]] straight from the
    * parquet — the format cycle must be invisible to it. */
  private lazy val docRoundtripOracle: String =
    s"""WITH ks AS (SELECT source, n_chars,
       |       CAST(doc_id AS VARCHAR) || ':' || coalesce(text, '') AS k FROM documents),
       |hs AS (SELECT source, n_chars, ${sqlPoly("cps", 1125899906842597L, 1099511628211L)} AS u
       |       FROM (SELECT source, n_chars, list_transform(range(1, length(k) + 1),
       |                    j -> CAST(unicode(k[j]) AS HUGEINT)) AS cps FROM ks)),
       |m1 AS (SELECT source, n_chars, (${sqlXorShr("u", 33)} * 6364136223846793005) % $U64 AS u FROM hs),
       |m2 AS (SELECT source, n_chars, (${sqlXorShr("u", 29)} * 2685821657736338717) % $U64 AS u FROM m1),
       |m3 AS (SELECT source, n_chars, ${sqlXorShr("u", 32)} AS u FROM m2),
       |b AS (SELECT source, n_chars, ${sqlU2S("u")} AS h FROM m3)
       |SELECT source, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars,
       |       bit_xor(h) AS content_fp
       |FROM b GROUP BY source""".stripMargin

  /** The remove-everywhere hot/mk block, shared by the
    * d_repeated_spans_removed and d_repeated_spans_mask oracles — one
    * definition so the per-doc gate and its corpus aggregate can never
    * silently test different semantics. */
  private lazy val removeEverywhereHotMk: String =
    s"""hot AS (SELECT gm FROM g GROUP BY gm
       |        HAVING count(DISTINCT doc_id) >= $RepeatedSpanMinDocs),
       |mk AS (SELECT doc_id, pos FROM g JOIN hot USING (gm)),""".stripMargin

  /** Keep-one hot/mk block, shared by the d_repeated_spans_keep per-doc
    * gate and its cost-visible corpus aggregate. */
  private lazy val keepOneHotMk: String =
    s"""hot AS (SELECT gm, min(doc_id * 1048576 + pos) AS w FROM g GROUP BY gm
       |        HAVING count(DISTINCT doc_id) >= $RepeatedSpanMinDocs),
       |mk AS (SELECT doc_id, pos FROM g JOIN hot USING (gm)
       |       WHERE doc_id * 1048576 + pos <> w),""".stripMargin

  /** Decontamination probe-gram hot/mk block + corpus source, shared by
    * the d_decontam_spans per-doc gate and its corpus aggregate: probe
    * set = the eval slice (doc_id%41=0) plus injected n-token windows
    * from every 50th doc (natural overlap is zero at sf0.01). The window
    * width tracks RepeatedSpanN on BOTH sides — list_slice end is
    * inclusive, so [2, 2+n-1] is n tokens, matching Spark's
    * slice(toks, 2, n). */
  private lazy val decontamHotMk: String = {
    val n = RepeatedSpanN
    val terms = (0 until n).map(j => s"toks[i+$j]").mkString(" || ' ' || ")
    s"""pr AS (SELECT text FROM documents WHERE doc_id % 41 = 0
       |       UNION ALL
       |       SELECT array_to_string(list_slice(
       |         string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '),
       |         2, ${2 + n - 1}), ' ') AS text
       |       FROM documents WHERE doc_id % 50 = 0),
       |pt AS (SELECT string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
       |       FROM pr),
       |hot AS (SELECT DISTINCT $terms AS gm
       |        FROM pt, unnest(range(1, len(toks) - $n + 2)) AS u(i)
       |        WHERE len(toks) >= $n),
       |mk AS (SELECT doc_id, pos FROM g JOIN hot USING (gm)),""".stripMargin
  }

  private lazy val decontamSrc: String =
    "SELECT doc_id, text FROM documents WHERE doc_id % 41 <> 0"

  /** The [[withinDocRepeatInjected]] corpus replayed in SQL for the
    * any-repeat span oracles: every 50th doc appends its own leading
    * n-token window (`||` keeps NULL text NULL, matching Spark's
    * `concat`). */
  private lazy val anyRepeatSrc: String = {
    val n = RepeatedSpanN
    s"""SELECT doc_id,
       |  CASE WHEN doc_id % 50 = 0 THEN text || ' ' || array_to_string(
       |    list_slice(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '),
       |      1, $n), ' ')
       |  ELSE text END AS text
       |FROM documents""".stripMargin
  }

  /** The [[c4SentenceWrapped]] prep replayed in SQL: CTEs d0 → tr → w,
    * with w(doc_id, t0) the sentence-wrapped text joined by `sepSql`
    * (an SQL expression — `"' '"` or `"chr(10)"`). */
  private def c4WrapSql(sepSql: String): String =
    s"""d0 AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tk0
       |       FROM documents),
       |tr AS (SELECT doc_id, CASE WHEN doc_id % 47 = 0 THEN list_slice(tk0, 1, 12)
       |              ELSE tk0 END AS tk FROM d0),
       |w AS (SELECT doc_id, array_to_string(list_transform(range(0, (len(tk) + 9) // 10),
       |        i -> array_to_string(list_slice(tk, i * 10 + 1, i * 10 + 10), ' ') || '.'),
       |        $sepSql) AS t0 FROM tr)""".stripMargin

  /** Any-repeat hot/mk block (Lee et al.'s literal >=2-occurrences
    * criterion — count(*) over positions, within-doc repeats included),
    * shared by the d_repeated_spans_any_removed mask oracle. */
  private lazy val anyRepeatHotMk: String =
    s"""hot AS (SELECT gm FROM g GROUP BY gm
       |        HAVING count(*) >= $RepeatedSpanMinDocs),
       |mk AS (SELECT doc_id, pos FROM g JOIN hot USING (gm)),""".stripMargin

  /** The d_c4_span_dedup oracle body — shared with its cost-visible
    * aggregate so the two can never test different semantics. */
  private lazy val c4SpanDedupOracle: String =
    s"""WITH ${c4WrapSql("chr(10)")},
           |inj AS (SELECT doc_id, t0
           |    || CASE WHEN doc_id % 20 = 1 THEN chr(10) || '${C4SpanBlock.replace("\n", "' || chr(10) || '")}' ELSE '' END
           |    || CASE WHEN doc_id % 50 = 0 THEN chr(10) ||
           |         array_to_string(list_slice(string_split(t0, chr(10)), 1, 3), chr(10))
           |       ELSE '' END AS text FROM w),
           |ls AS (SELECT doc_id, string_split(text, chr(10)) AS lines FROM inj),
           |ln AS (SELECT doc_id, CAST(u.i AS BIGINT) - 1 AS pos, lines[i] AS line
           |       FROM ls, unnest(range(1, len(lines) + 1)) AS u(i)),
           |g AS (SELECT doc_id, CAST(u.i AS BIGINT) - 1 AS pos,
           |             lines[i] || chr(10) || lines[i+1] || chr(10) || lines[i+2] AS gm
           |      FROM ls, unnest(range(1, len(lines) - 1)) AS u(i)
           |      WHERE len(lines) >= 3),
           |hot AS (SELECT gm, min(doc_id * 1048576 + pos) AS wk FROM g GROUP BY gm
           |        HAVING count(*) >= 2),
           |mk AS (SELECT doc_id, pos FROM g JOIN hot USING (gm)
           |       WHERE doc_id * 1048576 + pos <> wk),
           |cov AS (SELECT DISTINCT doc_id, pos + u.j AS pos
           |        FROM mk, unnest(range(0, 3)) AS u(j)),
           |kept AS (SELECT ln.doc_id, ln.pos, ln.line FROM ln
           |         ANTI JOIN cov ON ln.doc_id = cov.doc_id AND ln.pos = cov.pos),
           |reb AS (SELECT doc_id, count(*) AS n_kept,
           |               string_agg(line, chr(10) ORDER BY pos) AS txt
           |        FROM kept GROUP BY doc_id),
           |alld AS (SELECT d.doc_id, coalesce(r.n_kept, 0) AS n_kept,
           |                coalesce(r.txt, '') AS txt
           |         FROM inj d LEFT JOIN reb r ON d.doc_id = r.doc_id),
           |hs AS (SELECT doc_id, n_kept,
           |         ${sqlPoly("cps", 1125899906842597L, 1099511628211L)} AS u
           |       FROM (SELECT doc_id, n_kept, list_transform(range(1, length(txt) + 1),
           |                    j -> CAST(unicode(txt[j]) AS HUGEINT)) AS cps FROM alld)),
           |m1 AS (SELECT doc_id, n_kept, (${sqlXorShr("u", 33)} * 6364136223846793005) % $U64 AS u FROM hs),
           |m2 AS (SELECT doc_id, n_kept, (${sqlXorShr("u", 29)} * 2685821657736338717) % $U64 AS u FROM m1),
           |m3 AS (SELECT doc_id, n_kept, ${sqlXorShr("u", 32)} AS u FROM m2)
           |SELECT doc_id, CAST(n_kept AS BIGINT) AS n_kept, ${sqlU2S("u")} AS text_fp
           |FROM m3""".stripMargin


  /** The d_c4_span_sent oracle: wrap as ONE space-joined line, inject the
    * segmenter edge cases + duplication blocks, SEGMENT (token boundary
    * flag → running-count group → per-group string_agg — same semantics
    * as the engine's aggregate fold, different physical plan), then the
    * c4SpanDedupOracle three-sentence keep-one over segmenter output.
    * Abbreviation list is interpolated from TextAnalysis.SentenceAbbrevs
    * so the two engines cannot drift. */
  private lazy val c4SpanSentOracle: String = {
    val abbrevs = graft.pipeline.TextAnalysis.SentenceAbbrevs
      .map(a => s"'$a'").mkString(", ")
    s"""WITH ${c4WrapSql("' '")},
       |inj AS (SELECT doc_id, t0
       |    || CASE WHEN doc_id % 11 = 0 THEN ' dr. smith met mr. jones at 3.5 p.m. sharp!' ELSE '' END
       |    || CASE WHEN doc_id % 13 = 0 THEN ' was it worth 2. maybe not?' ELSE '' END
       |    || CASE WHEN doc_id % 17 = 0 THEN ' she said "stop!" then left.' ELSE '' END
       |    || CASE WHEN doc_id % 20 = 1 THEN ' ${C4SpanBlock.replace("\n", " ")}' ELSE '' END
       |    || CASE WHEN doc_id % 50 = 0 THEN ' $C4SentBlock2 $C4SentBlock2' ELSE '' END
       |    AS text FROM w),
       |tkl AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM inj),
       |tp AS (SELECT doc_id, CAST(u.i AS BIGINT) AS i, toks[i] AS tok
       |       FROM tkl, unnest(range(1, len(toks) + 1)) AS u(i)),
       |bf AS (SELECT doc_id, i, tok,
       |         CASE WHEN regexp_matches(core, '[.!?]$$')
       |               AND lower(core) NOT IN ($abbrevs)
       |               AND NOT regexp_matches(lower(core), '^[a-z]\\.$$')
       |               AND NOT regexp_matches(core, '^[0-9]+\\.$$')
       |              THEN 1 ELSE 0 END AS b
       |       FROM (SELECT doc_id, i, tok,
       |               regexp_replace(tok, '["'')\\]»”’]+$$', '') AS core FROM tp)),
       |gp AS (SELECT doc_id, i, tok,
       |         CAST(coalesce(sum(b) OVER (PARTITION BY doc_id ORDER BY i
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS grp
       |       FROM bf),
       |ln AS (SELECT doc_id, grp AS pos, string_agg(tok, ' ' ORDER BY i) AS line
       |       FROM gp GROUP BY 1, 2),
       |ls AS (SELECT doc_id, list(line ORDER BY pos) AS lines FROM ln GROUP BY 1),
       |g AS (SELECT doc_id, CAST(u.i AS BIGINT) - 1 AS pos,
       |             lines[i] || chr(10) || lines[i+1] || chr(10) || lines[i+2] AS gm
       |      FROM ls, unnest(range(1, len(lines) - 1)) AS u(i)
       |      WHERE len(lines) >= 3),
       |hot AS (SELECT gm, min(doc_id * 1048576 + pos) AS wk FROM g GROUP BY gm
       |        HAVING count(*) >= 2),
       |mk AS (SELECT doc_id, pos FROM g JOIN hot USING (gm)
       |       WHERE doc_id * 1048576 + pos <> wk),
       |cov AS (SELECT DISTINCT doc_id, pos + u.j AS pos
       |        FROM mk, unnest(range(0, 3)) AS u(j)),
       |kept AS (SELECT ln.doc_id, ln.pos, ln.line FROM ln
       |         ANTI JOIN cov ON ln.doc_id = cov.doc_id AND ln.pos = cov.pos),
       |reb AS (SELECT doc_id, count(*) AS n_kept,
       |               string_agg(line, chr(10) ORDER BY pos) AS txt
       |        FROM kept GROUP BY doc_id),
       |alld AS (SELECT d.doc_id, coalesce(r.n_kept, 0) AS n_kept,
       |                coalesce(r.txt, '') AS txt
       |         FROM inj d LEFT JOIN reb r ON d.doc_id = r.doc_id),
       |hs AS (SELECT doc_id, n_kept,
       |         ${sqlPoly("cps", 1125899906842597L, 1099511628211L)} AS u
       |       FROM (SELECT doc_id, n_kept, list_transform(range(1, length(txt) + 1),
       |                    j -> CAST(unicode(txt[j]) AS HUGEINT)) AS cps FROM alld)),
       |m1 AS (SELECT doc_id, n_kept, (${sqlXorShr("u", 33)} * 6364136223846793005) % $U64 AS u FROM hs),
       |m2 AS (SELECT doc_id, n_kept, (${sqlXorShr("u", 29)} * 2685821657736338717) % $U64 AS u FROM m1),
       |m3 AS (SELECT doc_id, n_kept, ${sqlXorShr("u", 32)} AS u FROM m2)
       |SELECT doc_id, CAST(n_kept AS BIGINT) AS n_kept, ${sqlU2S("u")} AS text_fp
       |FROM m3""".stripMargin
  }

  /** Span-mask oracle template shared by d_repeated_spans_removed /
    * _keep / _mask: positional n-gram stream (gram STRINGS — Spark's
    * GramHash is an internal shuffle-width choice, equality is the
    * semantics), caller-supplied `hot`+`mk` CTEs pick the masked
    * occurrences (remove-everywhere vs keep-one keeper argmin), then
    * covered-position anti-join, pos-order rebuild, Poly64+mix64
    * fingerprint — (doc_id, n_kept, text_fp). `srcCte` is the masked
    * corpus (defaults to the whole documents table); the hot/mk block may
    * define its own extra CTEs (e.g. a probe-gram set). */
  private def spanMaskOracle(hotAndMk: String,
                             srcCte: String = "SELECT doc_id, text FROM documents"): String = {
    val n = RepeatedSpanN
    val terms = (0 until n).map(j => s"toks[i+$j]").mkString(" || ' ' || ")
    s"""WITH src AS ($srcCte),
       |t1 AS (SELECT doc_id,
       |  string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
       |  FROM src),
       |g AS (SELECT doc_id, CAST(u.i AS BIGINT) - 1 AS pos, $terms AS gm
       |      FROM t1, unnest(range(1, len(toks) - $n + 2)) AS u(i)
       |      WHERE len(toks) >= $n),
       |$hotAndMk
       |cov AS (SELECT DISTINCT doc_id, pos + u.j AS pos
       |        FROM mk, unnest(range(0, $n)) AS u(j)),
       |tp AS (SELECT doc_id, CAST(u.i AS BIGINT) - 1 AS pos, toks[i] AS tok
       |       FROM t1, unnest(range(1, len(toks) + 1)) AS u(i)),
       |kept AS (SELECT tp.doc_id, tp.pos, tp.tok FROM tp
       |         ANTI JOIN cov ON tp.doc_id = cov.doc_id AND tp.pos = cov.pos),
       |reb AS (SELECT doc_id, count(*) AS n_kept,
       |               string_agg(tok, ' ' ORDER BY pos) AS txt
       |        FROM kept GROUP BY doc_id),
       |alld AS (SELECT d.doc_id, coalesce(r.n_kept, 0) AS n_kept,
       |                coalesce(r.txt, '') AS txt
       |         FROM src d LEFT JOIN reb r ON d.doc_id = r.doc_id),
       |hs AS (SELECT doc_id, n_kept,
       |         ${sqlPoly("cps", 1125899906842597L, 1099511628211L)} AS u
       |       FROM (SELECT doc_id, n_kept, list_transform(range(1, length(txt) + 1),
       |                    j -> CAST(unicode(txt[j]) AS HUGEINT)) AS cps FROM alld)),
       |m1 AS (SELECT doc_id, n_kept, (${sqlXorShr("u", 33)} * 6364136223846793005) % $U64 AS u FROM hs),
       |m2 AS (SELECT doc_id, n_kept, (${sqlXorShr("u", 29)} * 2685821657736338717) % $U64 AS u FROM m1),
       |m3 AS (SELECT doc_id, n_kept, ${sqlXorShr("u", 32)} AS u FROM m2)
       |SELECT doc_id, CAST(n_kept AS BIGINT) AS n_kept, ${sqlU2S("u")} AS text_fp
       |FROM m3""".stripMargin
  }

  /** All-pairs 3-gram Jaccard oracle over `documents` — gates BOTH
    * d_ngram_pairs (full inverted index) and d_ngram_pairs_prefix (prefix
    * filter + galloping verify): one semantics, two physical plans. */
  private val ngramPairsOracle: String =
    """WITH sh AS (
      |  SELECT doc_id, list_distinct(list_transform(
      |    range(1, greatest(len(toks) - 2, 1) + 1),
      |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS s
      |  FROM (SELECT doc_id,
      |          string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
      |        FROM documents)
      |  WHERE len(toks) >= 3)
      |SELECT x.doc_id AS a, y.doc_id AS b,
      |       round(CAST(len(list_intersect(x.s, y.s)) AS DOUBLE) /
      |             (len(x.s) + len(y.s) - len(list_intersect(x.s, y.s))), 6) AS jaccard
      |FROM sh x JOIN sh y ON x.doc_id < y.doc_id
      |WHERE CAST(len(list_intersect(x.s, y.s)) AS DOUBLE) /
      |      (len(x.s) + len(y.s) - len(list_intersect(x.s, y.s))) >= 0.1""".stripMargin

  /** DuckDB SQL for `steps` unrolled Lloyd iterations over the embeddings
    * table (dim-64), mirroring the Pregel KMeans exactly: init = coords of the
    * k smallest vec_ids; assignment = argmin squared L2 (ties → lowest cluster
    * index); next centers = per-cluster elementwise mean with empty-cluster
    * fallback; centers FREEZE once max center drift ≤ 1e-3 (the masterCompute
    * halt — frozen centers reproduce the halted assignment in every later
    * unrolled step, so the final SELECT equals the algorithm's last superstep). */
  private def kmeansOracleSql(k: Int, steps: Int, dim: Int = 64): String = {
    val sb = new StringBuilder
    sb ++= s"""WITH v AS MATERIALIZED (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
              |pts AS MATERIALIZED (SELECT id, r.i AS i, e[r.i] AS x FROM v, range(1, ${dim + 1}) r(i)),
              |init AS MATERIALIZED (SELECT row_number() OVER (ORDER BY id) - 1 AS cl, id
              |         FROM (SELECT id FROM v ORDER BY id LIMIT $k)),
              |c1 AS MATERIALIZED (SELECT init.cl, p.i, p.x AS v FROM init JOIN pts p USING (id))""".stripMargin
    for (t <- 1 to steps) {
      sb ++= s""",
                |d$t AS MATERIALIZED (SELECT p.id, c.cl, sum((p.x - c.v) * (p.x - c.v)) AS dd
                |        FROM pts p JOIN c$t c USING (i) GROUP BY 1, 2),
                |a$t AS MATERIALIZED (SELECT id, cl FROM (
                |  SELECT id, cl, row_number() OVER (PARTITION BY id ORDER BY dd, cl) AS rn
                |  FROM d$t) WHERE rn = 1)""".stripMargin
      if (t < steps) {
        sb ++= s""",
                  |m$t AS MATERIALIZED (SELECT a.cl, p.i, avg(p.x) AS v
                  |        FROM a$t a JOIN pts p USING (id) GROUP BY 1, 2),
                  |dr$t AS MATERIALIZED (SELECT max(sqrt(s)) AS drift FROM (
                  |  SELECT c.cl, sum((coalesce(m.v, c.v) - c.v) * (coalesce(m.v, c.v) - c.v)) AS s
                  |  FROM c$t c LEFT JOIN m$t m ON m.cl = c.cl AND m.i = c.i GROUP BY 1)),
                  |c${t + 1} AS MATERIALIZED (SELECT c.cl, c.i,
                  |  CASE WHEN (SELECT drift FROM dr$t) <= 0.001 THEN c.v
                  |       ELSE coalesce(m.v, c.v) END AS v
                  |  FROM c$t c LEFT JOIN m$t m ON m.cl = c.cl AND m.i = c.i)""".stripMargin
      }
    }
    sb ++= s"\nSELECT id AS vec_id, CAST(cl AS INTEGER) AS cluster FROM a$steps"
    sb.toString
  }

  /** DuckDB SQL mirroring Ann.pqKnn(hashInit=false): per-subspace id-ordered
    * k-means (`iters` Lloyd rounds, empty codes drop), final-codebook encode
    * (argmin, ties → lowest code), per-query LUT distances, ADC = sum of the
    * m per-subspace lookups, top-k by (adc, nbr_id). The per-subspace CTE
    * chain is generated in a loop — same unrolled-Lloyd pattern as
    * kmeansOracleSql/ivfOracleSql. */
  private def pqOracleSql(m: Int, ncodes: Int, iters: Int, k: Int,
                          dim: Int = 64, trainWhere: String = "TRUE"): String = {
    val subDim = dim / m
    val sb = new StringBuilder
    sb ++= "WITH v AS MATERIALIZED (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)"
    val filtered = trainWhere != "TRUE"
    for (s <- 0 until m) {
      val off = s * subDim
      val tp = if (filtered) s"tp$s" else s"p$s"
      val init = if (filtered) s"SELECT id FROM v WHERE $trainWhere ORDER BY id LIMIT $ncodes"
                 else s"SELECT id FROM v ORDER BY id LIMIT $ncodes"
      sb ++= s""",
                |p$s AS MATERIALIZED (SELECT id, r.i AS i, e[$off + r.i] AS x FROM v, range(1, ${subDim + 1}) r(i))""".stripMargin
      if (filtered) sb ++= s""",
                |tp$s AS MATERIALIZED (SELECT * FROM p$s WHERE $trainWhere)""".stripMargin
      sb ++= s""",
                |init$s AS MATERIALIZED (SELECT row_number() OVER (ORDER BY id) - 1 AS cl, id
                |        FROM ($init)),
                |c${s}_0 AS MATERIALIZED (SELECT init$s.cl, p.i, p.x AS v FROM init$s JOIN $tp p USING (id))""".stripMargin
      for (t <- 1 to iters) {
        sb ++= s""",
                  |d${s}_$t AS MATERIALIZED (SELECT p.id, c.cl, sum((p.x - c.v) * (p.x - c.v)) AS dd
                  |        FROM $tp p JOIN c${s}_${t - 1} c USING (i) GROUP BY 1, 2),
                  |a${s}_$t AS MATERIALIZED (SELECT id, cl FROM (
                  |  SELECT id, cl, row_number() OVER (PARTITION BY id ORDER BY dd, cl) AS rn
                  |  FROM d${s}_$t) WHERE rn = 1),
                  |c${s}_$t AS MATERIALIZED (SELECT a.cl, p.i, avg(p.x) AS v
                  |        FROM a${s}_$t a JOIN $tp p USING (id) GROUP BY 1, 2)""".stripMargin
      }
      // lut = every vector's subvector distance to every FINAL codeword;
      // encode = its argmin (the same distances, so one CTE serves both)
      sb ++= s""",
                |lut$s AS MATERIALIZED (SELECT p.id AS query_id, c.cl AS code,
                |        sum((p.x - c.v) * (p.x - c.v)) AS pd2
                |        FROM p$s p JOIN c${s}_$iters c USING (i) GROUP BY 1, 2),
                |enc$s AS MATERIALIZED (SELECT query_id AS id, code AS cl FROM (
                |  SELECT query_id, code, row_number() OVER (PARTITION BY query_id ORDER BY pd2, code) AS rn
                |  FROM lut$s) WHERE rn = 1),
                |cand$s AS (SELECT l.query_id, e.id AS nbr_id, l.pd2
                |           FROM lut$s l JOIN enc$s e ON l.code = e.cl)""".stripMargin
    }
    val unioned = (0 until m).map(s => s"SELECT * FROM cand$s").mkString(" UNION ALL ")
    sb ++= s""",
              |adc AS (SELECT query_id, nbr_id, sum(pd2) AS adc
              |        FROM ($unioned) u WHERE query_id <> nbr_id GROUP BY 1, 2)
              |SELECT query_id, nbr_id, CAST(rn AS INTEGER) AS rank FROM (
              |  SELECT query_id, nbr_id, row_number() OVER (PARTITION BY query_id ORDER BY adc, nbr_id) AS rn
              |  FROM adc) WHERE rn <= $k""".stripMargin
    sb.toString
  }

  /** DuckDB SQL mirroring Ann.ivfPqKnn(hashInit=false): the IVF coarse
    * quantizer bounds WHICH (query, nbr) pairs are scored (cell-candidate
    * pairs, self excluded) and PQ-ADC provides the score — the composition of
    * [[ivfOracleSql]]'s candidate stage with [[pqOracleSql]]'s ADC stage.
    * CTE namespaces are disjoint (ivf: pts/init/cen·/fd/ca/qp/cand; pq:
    * p·/init·/c·_·/lut·/enc·/cand·), so the two builders' bodies compose
    * verbatim over the shared `v`. */
  private def ivfPqOracleSql(nlist: Int, nprobe: Int, iters: Int,
                             m: Int, ncodes: Int, k: Int,
                             dim: Int = 64, trainWhere: String = "TRUE"): String = {
    val ivf = ivfOracleSql(nlist, nprobe, iters, k, dim, trainWhere)
    // ivf body: everything between the shared v CTE and its `sims` scoring
    // stage (cand is the last CTE we keep)
    val ivfBody = ivf.substring(
      ivf.indexOf("pts AS MATERIALIZED"),
      ivf.indexOf(",\nsims AS MATERIALIZED"))
    val pq = pqOracleSql(m, ncodes, iters, k, dim, trainWhere)
    // pq body: everything after the shared v CTE up to (excluding) its
    // final all-pairs adc stage
    val pqBody = pq.substring(
      pq.indexOf(",\np0 AS MATERIALIZED") + 2,
      pq.indexOf(",\nadc AS"))
    val unioned = (0 until m).map(s => s"SELECT * FROM cand$s").mkString(" UNION ALL ")
    s"""WITH v AS MATERIALIZED (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |$ivfBody,
       |$pqBody,
       |adc AS (SELECT u.query_id, u.nbr_id, sum(u.pd2) AS adc
       |        FROM ($unioned) u JOIN cand USING (query_id, nbr_id)
       |        GROUP BY 1, 2)
       |SELECT query_id, nbr_id, CAST(rn AS INTEGER) AS rank FROM (
       |  SELECT query_id, nbr_id, row_number() OVER (PARTITION BY query_id ORDER BY adc, nbr_id) AS rn
       |  FROM adc) WHERE rn <= $k""".stripMargin
  }

  /** DuckDB SQL mirroring Ann.ivfKnn(hashInit=false): id-ordered centroid
    * init, `iters` Lloyd rounds (empty cells DROP, as in trainCentroids),
    * corpus assignment, nprobe nearest cells per query, exact cosine top-k
    * within the probed cells. `trainWhere` restricts the TRAINING corpus
    * (init + Lloyd) — the assignment/probe stages always see every vector;
    * the incremental-index oracle trains on the base slice only, mirroring
    * Ann.saveIvfIndex(base) + appendToIvfIndex(delta) with frozen
    * centroids. */
  private def ivfOracleSql(nlist: Int, nprobe: Int, iters: Int, k: Int,
                           dim: Int = 64, trainWhere: String = "TRUE"): String = {
    val sb = new StringBuilder
    sb ++= lloydCellsSqlPrefix(nlist, iters, dim, trainWhere)
    sb ++= s""",
              |qp AS MATERIALIZED (SELECT id AS query_id, cl AS cell FROM (
              |  SELECT id, cl, row_number() OVER (PARTITION BY id ORDER BY dd, cl) AS rn
              |  FROM fd) WHERE rn <= $nprobe),
              |cand AS MATERIALIZED (SELECT q.query_id, c.id AS nbr_id
              |         FROM qp q JOIN ca c ON q.cell = c.cell AND q.query_id <> c.id),
              |sims AS MATERIALIZED (SELECT cand.query_id, cand.nbr_id,
              |  CASE WHEN sqrt(list_dot_product(qv.e, qv.e)) > 0
              |        AND sqrt(list_dot_product(cv.e, cv.e)) > 0
              |       THEN list_dot_product(qv.e, cv.e) /
              |            (sqrt(list_dot_product(qv.e, qv.e)) * sqrt(list_dot_product(cv.e, cv.e)))
              |       ELSE 0.0 END AS sim
              |  FROM cand JOIN v qv ON qv.id = cand.query_id JOIN v cv ON cv.id = cand.nbr_id)
              |SELECT query_id, nbr_id, CAST(rnk AS INTEGER) AS rank FROM (
              |  SELECT query_id, nbr_id,
              |         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, nbr_id) AS rnk
              |  FROM sims) WHERE rnk <= $k""".stripMargin
    sb.toString
  }

  /** Shared Lloyd-training + final-assignment CTE prefix (everything through
    * `fd` — per-(id, cell) distances against the final centroids — and `ca`
    * — the row_number argmin cell assignment). Common front of
    * [[ivfOracleSql]] and [[semdedupOracleSql]]. `trainWhere` restricts the
    * TRAINING slice only; assignment sees every vector. */
  private def lloydCellsSqlPrefix(nlist: Int, iters: Int, dim: Int,
                                  trainWhere: String): String = {
    val filtered = trainWhere != "TRUE"
    val tp = if (filtered) "tp" else "pts"
    val init = if (filtered) s"SELECT id FROM v WHERE $trainWhere ORDER BY id LIMIT $nlist"
               else s"SELECT id FROM v ORDER BY id LIMIT $nlist"
    val sb = new StringBuilder
    sb ++= s"""WITH v AS MATERIALIZED (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
              |pts AS MATERIALIZED (SELECT id, r.i AS i, e[r.i] AS x FROM v, range(1, ${dim + 1}) r(i))""".stripMargin
    if (filtered) sb ++= s""",
              |tp AS MATERIALIZED (SELECT * FROM pts WHERE $trainWhere)""".stripMargin
    sb ++= s""",
              |init AS MATERIALIZED (SELECT row_number() OVER (ORDER BY id) - 1 AS cl, id
              |         FROM ($init)),
              |cen0 AS MATERIALIZED (SELECT init.cl, p.i, p.x AS v FROM init JOIN $tp p USING (id))""".stripMargin
    for (t <- 1 to iters) {
      sb ++= s""",
                |d$t AS MATERIALIZED (SELECT p.id, c.cl, sum((p.x - c.v) * (p.x - c.v)) AS dd
                |        FROM $tp p JOIN cen${t - 1} c USING (i) GROUP BY 1, 2),
                |a$t AS MATERIALIZED (SELECT id, cl FROM (
                |  SELECT id, cl, row_number() OVER (PARTITION BY id ORDER BY dd, cl) AS rn
                |  FROM d$t) WHERE rn = 1),
                |cen$t AS MATERIALIZED (SELECT a.cl, p.i, avg(p.x) AS v
                |          FROM a$t a JOIN $tp p USING (id) GROUP BY 1, 2)""".stripMargin
    }
    sb ++= s""",
              |fd AS MATERIALIZED (SELECT p.id, c.cl, sum((p.x - c.v) * (p.x - c.v)) AS dd
              |       FROM pts p JOIN cen$iters c USING (i) GROUP BY 1, 2),
              |ca AS MATERIALIZED (SELECT id, cl AS cell FROM (
              |  SELECT id, cl, row_number() OVER (PARTITION BY id ORDER BY dd, cl) AS rn
              |  FROM fd) WHERE rn = 1)""".stripMargin
    sb.toString
  }

  /** DuckDB SQL mirroring Dedup.semDedup(hashInit=false): Lloyd cells from
    * the shared prefix, vectors L2-normalized once, survivors = vectors
    * with no LOWER-id cell-mate at normalized-dot ≥ threshold (the same
    * comparison form the e_embedding_dedup oracle proved float-safe on
    * this data at the same threshold). `trainWhere` restricts the TRAINING
    * slice only (the incremental-index oracle: frozen centroids trained on
    * the base, every vector assigned and pruned). */
  private def semdedupOracleSql(nlist: Int, iters: Int, threshold: Double,
                                dim: Int = 64,
                                trainWhere: String = "TRUE"): String =
    lloydCellsSqlPrefix(nlist, iters, dim, trainWhere) + s""",
      |nv AS MATERIALIZED (SELECT id, CASE WHEN sqrt(list_dot_product(e, e)) > 0
      |        THEN list_transform(e, x -> x / sqrt(list_dot_product(e, e)))
      |        ELSE e END AS u FROM v),
      |kill AS (SELECT DISTINCT x.id
      |         FROM ca x JOIN ca y ON y.cell = x.cell AND y.id < x.id
      |         JOIN nv a ON a.id = x.id JOIN nv b ON b.id = y.id
      |         WHERE list_dot_product(a.u, b.u) >= $threshold)
      |SELECT c.id AS vec_id, CAST(c.cell AS INTEGER) AS cell FROM ca c
      |WHERE c.id NOT IN (SELECT id FROM kill)""".stripMargin

  /** Composite-quality CTE prefix: `comp` = the per-doc text features, `q` =
    * the documented 4-term quality score (round 6) of
    * TextAnalysis.qualityScore. Shared by the d_quality_topk and
    * d_quality_quantile oracles, which differ only in the keep rule. */
  private val qualityCteSql: String =
    """WITH comp AS (
      |  SELECT source, doc_id, toks,
      |    CASE WHEN len(toks) > 0
      |         THEN (length(text) - (len(toks) - 1)) / CAST(len(toks) AS DOUBLE)
      |         ELSE 0.0 END AS mtl,
      |    CASE WHEN len(toks) > 0
      |         THEN CAST(len(list_filter(toks, t -> list_contains(
      |    ['the','a','an','of','to','in','and','is','it','that','for','on','was','with','as','at','by','this'],
      |           lower(t)))) AS DOUBLE) / len(toks)
      |         ELSE 0.0 END AS swr,
      |    CASE WHEN length(text) > 0
      |         THEN (length(text) - length(regexp_replace(text, '[!-/:-@\[-`{-~]', '', 'g')))
      |              / CAST(length(text) AS DOUBLE)
      |         ELSE 0.0 END AS pr,
      |    CASE WHEN length(text) > 0
      |         THEN (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))
      |              / CAST(length(text) AS DOUBLE)
      |         ELSE 0.0 END AS dr
      |  FROM (SELECT source, doc_id, text,
      |          string_split_regex(trim(text), '\s+') AS toks FROM documents)),
      |q AS (
      |  SELECT source, doc_id,
      |    round(greatest(0.0, least(1.0,
      |      0.25 * least(len(toks) / 64.0, 1.0)
      |      + 0.25 * (CASE WHEN mtl BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.0 END)
      |      + 0.25 * least(swr * 4.0, 1.0)
      |      + 0.25 * (1.0 - least(pr + dr, 1.0)))), 6) AS quality
      |  FROM comp)
      |""".stripMargin

  /** A cluster oracle ([[minhashOracleSql]]/[[simhashOracleSql]] — both end
    * with the same reach-closure SELECT) composed with the keep-largest
    * retention policy (max n_chars per cluster, ties → min doc_id) — the
    * oracle for Dedup.minHashKeepBest / simHashKeepBest. Swaps the cluster
    * query's final SELECT for the retention tail. */
  /** Recall@k oracle: one Lloyd prefix, then BOTH rankings from a single
    * all-cells similarity relation — the exact top-k is the nprobe = nlist
    * ranking (probing every cell IS brute force, minus self), the
    * approximate one restricts candidates to each query's `nprobe` nearest
    * cells (`crn`) before ranking. Mirrors
    * [[graft.pipeline.Ann.recallAtK]] over two [[graft.pipeline.Ann.ivfKnn]]
    * runs that differ only in nprobe. */
  private def knnRecallOracleSql(nlist: Int, nprobe: Int, iters: Int,
                                 k: Int, dim: Int = 64): String = {
    val sb = new StringBuilder
    sb ++= lloydCellsSqlPrefix(nlist, iters, dim, "TRUE")
    sb ++= s""",
       |qpr AS MATERIALIZED (SELECT id AS query_id, cl AS cell,
       |  row_number() OVER (PARTITION BY id ORDER BY dd, cl) AS crn FROM fd),
       |cnd AS MATERIALIZED (SELECT q.query_id, c.id AS nbr_id, q.crn
       |        FROM qpr q JOIN ca c ON q.cell = c.cell AND q.query_id <> c.id),
       |sm AS MATERIALIZED (SELECT cnd.query_id, cnd.nbr_id, cnd.crn,
       |  CASE WHEN sqrt(list_dot_product(qv.e, qv.e)) > 0
       |        AND sqrt(list_dot_product(cv.e, cv.e)) > 0
       |       THEN list_dot_product(qv.e, cv.e) /
       |            (sqrt(list_dot_product(qv.e, qv.e)) * sqrt(list_dot_product(cv.e, cv.e)))
       |       ELSE 0.0 END AS sim
       |  FROM cnd JOIN v qv ON qv.id = cnd.query_id JOIN v cv ON cv.id = cnd.nbr_id),
       |ex AS (SELECT query_id, nbr_id FROM (
       |  SELECT query_id, nbr_id,
       |         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, nbr_id) AS rnk
       |  FROM sm) WHERE rnk <= $k),
       |ap AS (SELECT query_id, nbr_id FROM (
       |  SELECT query_id, nbr_id,
       |         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, nbr_id) AS rnk
       |  FROM sm WHERE crn <= $nprobe) WHERE rnk <= $k)
       |SELECT e.query_id, count(a.nbr_id) AS hits, count(*) AS k
       |FROM ex e LEFT JOIN ap a ON e.query_id = a.query_id AND e.nbr_id = a.nbr_id
       |GROUP BY 1""".stripMargin
    sb.toString
  }

  /** Cross-split leakage oracle: splices the minhash cluster oracle with the
    * d_split hash-assignment CTEs, then counts straddling pairs per split
    * pair (mirrors [[graft.pipeline.Curation.splitLeakage]]). */
  private def splitLeakageOracleSql: String = {
    val base = minhashOracleSql(threshold = 0.5)
    val tail = "SELECT a AS doc_id, min(b) AS rep FROM reach GROUP BY a"
    require(base.endsWith(tail), "cluster oracle tail changed")
    base.dropRight(tail.length).stripSuffix("\n") + ",\n" +
      s"""cl AS ($tail),
         |ksl AS (SELECT doc_id, CAST(doc_id AS VARCHAR) AS k FROM documents),
         |hsl AS (SELECT doc_id, ${sqlPoly("cps", 1125899906842597L, 1099511628211L)} AS u
         |        FROM (SELECT doc_id, list_transform(range(1, length(k) + 1),
         |                     j -> CAST(unicode(k[j]) AS HUGEINT)) AS cps FROM ksl)),
         |mm1 AS (SELECT doc_id, (${sqlXorShr("u", 33)} * 6364136223846793005) % $U64 AS u FROM hsl),
         |mm2 AS (SELECT doc_id, (${sqlXorShr("u", 29)} * 2685821657736338717) % $U64 AS u FROM mm1),
         |mm3 AS (SELECT doc_id, ${sqlXorShr("u", 32)} AS u FROM mm2),
         |spl AS (SELECT doc_id, CASE WHEN (u // 2) % 1000 < 900 THEN 'train'
         |          WHEN (u // 2) % 1000 < 950 THEN 'valid' ELSE 'test' END AS split FROM mm3),
         |jl AS (SELECT cl.rep, spl.split FROM cl JOIN spl USING (doc_id)),
         |pcl AS (SELECT rep, split, count(*) AS n FROM jl GROUP BY 1, 2)
         |SELECT x.split AS split_a, y.split AS split_b,
         |       CAST(sum(x.n * y.n) AS BIGINT) AS n_pairs,
         |       count(*) AS n_clusters
         |FROM pcl x JOIN pcl y ON x.rep = y.rep AND x.split < y.split
         |GROUP BY 1, 2""".stripMargin
  }

  private def retainOracleSql(base: String): String = {
    val finalSelect = "SELECT a AS doc_id, min(b) AS rep FROM reach GROUP BY a"
    require(base.endsWith(finalSelect), "cluster oracle tail changed")
    base.dropRight(finalSelect.length).stripSuffix("\n") + ",\n" +
      s"""cl AS ($finalSelect),
         |j AS (SELECT cl.rep, d.doc_id, d.n_chars
         |      FROM cl JOIN documents d USING (doc_id)),
         |r AS (SELECT rep, max(n_chars) AS kept_chars, count(*) AS n_members
         |      FROM j GROUP BY 1)
         |SELECT min(j.doc_id) AS doc_id, CAST(r.kept_chars AS BIGINT) AS kept_chars,
         |       r.n_members
         |FROM j JOIN r ON j.rep = r.rep AND j.n_chars = r.kept_chars
         |GROUP BY r.rep, r.kept_chars, r.n_members""".stripMargin
  }

  /** Dedup-funnel oracle: splices the minhash cluster oracle (threshold 0.5,
    * the d_minhash_retain configuration) and appends exact / span16 policy
    * CTEs; one UNION ALL row per policy. Span CTEs reuse the minhash `tk`
    * (both sides tokenize with the same normalization). */
  private def dedupReportOracleSql: String = {
    val base = minhashOracleSql(threshold = 0.5)
    val tail = "SELECT a AS doc_id, min(b) AS rep FROM reach GROUP BY a"
    require(base.endsWith(tail), "cluster oracle tail changed")
    base.dropRight(tail.length).stripSuffix("\n") + ",\n" +
      s"""cl AS ($tail),
         |ntok AS (
         |  SELECT doc_id, CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 0
         |    ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens
         |  FROM documents),
         |mh_best AS (
         |  SELECT rep, max(n_chars) AS kc
         |  FROM cl JOIN documents USING (doc_id) GROUP BY rep),
         |mh_kept AS (
         |  SELECT min(d.doc_id) AS doc_id
         |  FROM cl JOIN documents d USING (doc_id)
         |  JOIN mh_best b ON cl.rep = b.rep AND d.n_chars = b.kc
         |  GROUP BY cl.rep),
         |ex_kept AS (
         |  SELECT min(doc_id) AS doc_id FROM (
         |    SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS k
         |    FROM documents) GROUP BY k),
         |sw AS (SELECT doc_id, unnest(list_transform(range(1, len(tk) - 14),
         |        i -> {'pos': i, 'win': array_to_string(tk[i:i+15], ' ')})) AS s
         |       FROM tk WHERE len(tk) >= 16),
         |sw2 AS (SELECT doc_id, s.pos AS pos, s.win AS win FROM sw),
         |sc AS (SELECT win FROM sw2 GROUP BY win HAVING count(*) >= 2),
         |sd AS (SELECT doc_id, pos FROM sw2 JOIN sc USING (win)),
         |su AS (SELECT doc_id, pos,
         |        max(pos + 15) OVER (PARTITION BY doc_id ORDER BY pos
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
         |       FROM sd),
         |sper AS (SELECT doc_id, sum(CASE WHEN prev_end IS NULL THEN 16
         |           ELSE greatest(0, least(16, pos + 15 - prev_end)) END) AS dup
         |         FROM su GROUP BY doc_id),
         |sall AS (SELECT t.doc_id, len(t.tk) AS n_tokens, coalesce(p.dup, 0) AS dup
         |         FROM tk t LEFT JOIN sper p USING (doc_id))
         |SELECT 'raw' AS policy, count(*) AS docs_kept,
         |       CAST(sum(n_tokens) AS BIGINT) AS tokens_kept FROM ntok
         |UNION ALL
         |SELECT 'exact', count(*), CAST(sum(n_tokens) AS BIGINT)
         |FROM ex_kept JOIN ntok USING (doc_id)
         |UNION ALL
         |SELECT 'minhash', count(*), CAST(sum(n_tokens) AS BIGINT)
         |FROM mh_kept JOIN ntok USING (doc_id)
         |UNION ALL
         |SELECT 'span16', count(*) FILTER (WHERE n_tokens > dup),
         |       CAST(sum(n_tokens - dup) AS BIGINT) FROM sall""".stripMargin
  }

  // ---- Poly64 / mod-2^64 arithmetic helpers for the LSH-pipeline oracles ---
  // graft's Poly64 Rabin hash is h := h·mult + codepoint with Long wraparound;
  // DuckDB reproduces it exactly as a HUGEINT left fold mod 2^64.

  private val U64 = "18446744073709551616" // 2^64
  private val S63 = "9223372036854775808"  // 2^63

  /** DuckDB left fold of Poly64 over a HUGEINT codepoint list expression. */
  /** DSIR hashed-unigram importance-weight CTE prefix (ends at `w`):
    * mirrors [[Curation.dsirWeights]] with target = lang <> 'en', B = 64.
    * Each whitespace token Poly64-hashes mod 64 — 64 divides 2^64, so the
    * unsigned HUGEINT mod equals Spark's signed pmod. One aggregation
    * yields raw+target bucket counts; the add-one-smoothed ln ratio
    * quantizes to integer micro-nats PER BUCKET (order-independent long
    * sums — the lmScore cross-engine discipline), then sums per doc. */
  private def dsirWeightsCte: String = dsirCteFrom(
    """tk AS (
      |  SELECT doc_id, (lang <> 'en') AS is_tgt,
      |    unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
      |  FROM documents)""".stripMargin)

  /** The bigram-feature tk stream (unigrams UNION ALL adjacent pairs) for
    * d_dsir_weights_bi — same downstream model/scoring CTEs. */
  private def dsirWeightsBiCte: String = dsirCteFrom(
    """d9 AS (
      |  SELECT doc_id, (lang <> 'en') AS is_tgt,
      |    string_split_regex(lower(trim(text)), '\s+') AS toks
      |  FROM documents),
      |tk AS (
      |  SELECT doc_id, is_tgt, toks[i] AS tok
      |  FROM d9, unnest(range(1, len(toks) + 1)) AS u(i)
      |  UNION ALL
      |  SELECT doc_id, is_tgt, toks[i] || ' ' || toks[i + 1] AS tok
      |  FROM d9, unnest(range(1, len(toks))) AS u(i))""".stripMargin)

  private def dsirCteFrom(tkCte: String): String = {
    val tokCps = "list_transform(range(1, length(tok) + 1), " +
      "i -> CAST(unicode(tok[i]) AS HUGEINT))"
    val poly = sqlPoly(tokCps, graft.functions.Poly64.Seed1, graft.functions.Poly64.Mult1)
    s"""WITH $tkCte,
       |bk AS (SELECT doc_id, is_tgt,
       |         CAST(($poly) % 64 AS BIGINT) AS bucket
       |       FROM tk),
       |model AS (SELECT bucket, count(*) AS raw_cnt,
       |            sum(CASE WHEN is_tgt THEN 1 ELSE 0 END) AS tgt_cnt
       |          FROM bk GROUP BY 1),
       |tot AS (SELECT CAST(sum(raw_cnt) AS BIGINT) AS raw_n,
       |               CAST(sum(tgt_cnt) AS BIGINT) AS tgt_n FROM model),
       |delta AS (SELECT bucket,
       |            CAST(round((ln(CAST(tgt_cnt + 1 AS DOUBLE) / (tgt_n + 64))
       |                      - ln(CAST(raw_cnt + 1 AS DOUBLE) / (raw_n + 64)))
       |              * 1000000) AS BIGINT) AS dm
       |          FROM model CROSS JOIN tot),
       |w AS (SELECT doc_id, CAST(sum(dm) AS BIGINT) AS weight_micro
       |      FROM bk JOIN delta USING (bucket) GROUP BY 1)""".stripMargin
  }

  /** Unrolled BPE oracle: per iteration, pair counts + 1-row argmax CTE +
    * an EXACT greedy-left-to-right merge. Greedy semantics in set-based SQL:
    * overlapping candidate positions only arise for l = r runs, where the
    * merged positions are exactly the odd row_numbers within each
    * gaps-and-islands streak; everything else merges unconditionally. A
    * position is consumed iff its left neighbor merged. */
  private def bpeOracleSql(iters: Int, finalSelect: Option[String] = None): String = {
    val head =
      """WITH s0 AS MATERIALIZED (
        |  SELECT doc_id, regexp_extract_all(regexp_replace(regexp_replace(
        |    lower(trim(text)), '\s+', ' ', 'g'), ' ', '¶', 'g'), '.') AS tk
        |  FROM documents WHERE text IS NOT NULL)""".stripMargin
    val steps = (1 to iters).map { i =>
      s"""p$i AS MATERIALIZED (
         |  SELECT doc_id, i, tk[i] AS a, tk[i + 1] AS b
         |  FROM (SELECT doc_id, tk, unnest(range(1, len(tk))) AS i FROM s${i - 1})),
         |c$i AS MATERIALIZED (
         |  SELECT a AS l, b AS r, count(*) AS cnt FROM p$i
         |  WHERE strpos(a, '¶') = 0 AND strpos(b, '¶') = 0
         |  GROUP BY 1, 2 ORDER BY cnt DESC, l, r LIMIT 1),
         |f$i AS MATERIALIZED (
         |  SELECT doc_id, i FROM (
         |    SELECT doc_id, i, cand,
         |      row_number() OVER (PARTITION BY doc_id, cand, island ORDER BY i) % 2 = 1 AS odd
         |    FROM (
         |      SELECT doc_id, i, cand,
         |        i - row_number() OVER (PARTITION BY doc_id, cand ORDER BY i) AS island
         |      FROM (SELECT p.doc_id, p.i, (p.a = c.l AND p.b = c.r) AS cand
         |            FROM p$i p, c$i c)))
         |  WHERE cand AND odd),
         |s$i AS MATERIALIZED (
         |  SELECT doc_id, list(tok ORDER BY pos) AS tk FROM (
         |    SELECT x.doc_id, x.pos,
         |      CASE WHEN fm.i IS NOT NULL THEN x.tk[x.pos] || x.tk[x.pos + 1]
         |           WHEN fp.i IS NOT NULL THEN NULL
         |           ELSE x.tk[x.pos] END AS tok
         |    FROM (SELECT doc_id, tk, unnest(range(1, len(tk) + 1)) AS pos FROM s${i - 1}) x
         |    LEFT JOIN f$i fm ON fm.doc_id = x.doc_id AND fm.i = x.pos
         |    LEFT JOIN f$i fp ON fp.doc_id = x.doc_id AND fp.i = x.pos - 1)
         |  WHERE tok IS NOT NULL GROUP BY doc_id)""".stripMargin
    }
    val out = finalSelect.getOrElse((1 to iters).map(i =>
      s"SELECT CAST($i AS INTEGER) AS it, l AS lhs, r AS rhs, l || r AS merged, cnt FROM c$i")
      .mkString("\nUNION ALL\n"))
    (head +: steps).mkString(",\n") + "\n" + out
  }

  private def sqlPoly(cps: String, seed: Long, mult: Long): String =
    s"list_reduce(list_prepend(CAST($seed AS HUGEINT), $cps), (a, x) -> (a * $mult + x) % $U64)"

  /** Unsigned (HUGEINT, mod-2^64) → signed BIGINT reinterpretation. */
  private def sqlU2S(u: String): String =
    s"CAST($u - CASE WHEN $u >= $S63 THEN CAST($U64 AS HUGEINT) ELSE CAST(0 AS HUGEINT) END AS BIGINT)"

  /** One xorshift round on an unsigned mod-2^64 value: `u XOR (u >>> s)`.
    * Unsigned shift = integer division by 2^s; xor runs on the signed
    * BIGINT reinterpretation (bitwise — range-independent), then back. */
  private def sqlXorShr(u: String, s: Int): String =
    sqlS2U(s"xor(${sqlU2S(u)}, ${sqlU2S(s"($u // ${1L << s})")})")

  /** Signed BIGINT → unsigned HUGEINT reinterpretation. */
  private def sqlS2U(s: String): String =
    s"(CAST($s AS HUGEINT) + CASE WHEN $s < 0 THEN CAST($U64 AS HUGEINT) ELSE CAST(0 AS HUGEINT) END)"

  /** MinHash+LSH clusters oracle: mirrors Dedup.minHashLSH(poly = true) with
    * numHashes=64, bands=16, rowsPerBand=4 — shingle → two Poly64 hashes →
    * 64 Carter–Wegman slots (min per slot, SIGNED comparison like Spark's
    * Long) → per-band base-31 Horner bucket seeded band+1 → bucket join →
    * signature-estimated Jaccard ≥ threshold → WCC by transitive closure. */
  private def minhashOracleSql(threshold: Double): String = {
    val cps = "list_transform(range(1, length(s) + 1), j -> CAST(unicode(s[j]) AS HUGEINT))"
    s"""WITH RECURSIVE
       |tk AS MATERIALIZED (
       |  SELECT doc_id, string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS tk
       |  FROM documents),
       |sh AS MATERIALIZED (
       |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(tk) - 1),
       |    i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2]))) AS s
       |  FROM tk WHERE len(tk) >= 3),
       |hs AS MATERIALIZED (
       |  SELECT doc_id,
       |    ${sqlPoly("cps", 1125899906842597L, 1099511628211L)} AS h1,
       |    ${sqlPoly("cps", 2065775093L, 6364136223846793005L)} AS h2r
       |  FROM (SELECT doc_id, $cps AS cps FROM sh)),
       |vals AS (
       |  SELECT doc_id, i.i,
       |    (h1 + CAST(i.i AS HUGEINT) * (h2r - h2r % 2 + 1)) % $U64 AS u
       |  FROM hs, range(0, 64) i(i)),
       |slots AS MATERIALIZED (
       |  SELECT doc_id, i, min(${sqlU2S("u")}) AS slot FROM vals GROUP BY 1, 2),
       |bnd AS MATERIALIZED (
       |  SELECT doc_id, i // 4 AS band,
       |    (sum(${sqlS2U("slot")} *
       |         CASE i % 4 WHEN 0 THEN 29791 WHEN 1 THEN 961 WHEN 2 THEN 31 ELSE 1 END)
       |     + (i // 4 + 1) * 923521) % $U64 AS bucket
       |  FROM slots GROUP BY 1, 2),
       |cand AS MATERIALIZED (
       |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
       |  FROM bnd l JOIN bnd r ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id),
       |ver AS MATERIALIZED (
       |  SELECT c.a, c.b
       |  FROM cand c JOIN slots sa ON sa.doc_id = c.a
       |              JOIN slots sb ON sb.doc_id = c.b AND sb.i = sa.i
       |  GROUP BY 1, 2
       |  HAVING CAST(count(*) FILTER (WHERE sa.slot = sb.slot) AS DOUBLE) / 64 >= $threshold),
       |sym AS (SELECT a, b FROM ver UNION SELECT b, a FROM ver),
       |reach(a, b) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a)
       |SELECT a AS doc_id, min(b) AS rep FROM reach GROUP BY a""".stripMargin
  }

  /** SimHash clusters oracle: mirrors Dedup.simHashDedup(poly = true) —
    * Poly64 per-token hashes (duplicates kept), 64 majority-vote sign bits
    * (sum of ±1 per bit, tie → bit set), 4×16-bit chunk buckets, Hamming ≤
    * maxHamming via bit_count(xor), WCC by transitive closure. NULL-text docs
    * have a NULL simhash in Spark (never join) → singletons both sides. */
  private def simhashOracleSql(maxHamming: Int): String = {
    val cps = "list_transform(range(1, length(t) + 1), j -> CAST(unicode(t[j]) AS HUGEINT))"
    s"""WITH RECURSIVE
       |pw(b, p) AS (SELECT 0, CAST(1 AS HUGEINT) UNION ALL SELECT b + 1, p * 2 FROM pw WHERE b < 63),
       |tok AS MATERIALIZED (
       |  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS t
       |  FROM documents WHERE text IS NOT NULL),
       |th AS MATERIALIZED (
       |  SELECT doc_id, ${sqlPoly("cps", 1125899906842597L, 1099511628211L)} AS u
       |  FROM (SELECT doc_id, $cps AS cps FROM tok)),
       |bits AS MATERIALIZED (
       |  SELECT doc_id, pw.b, pw.p,
       |    CASE WHEN sum(CASE WHEN (u // pw.p) % 2 = 1 THEN 1 ELSE -1 END) >= 0
       |         THEN 1 ELSE 0 END AS bit
       |  FROM th, pw GROUP BY doc_id, pw.b, pw.p),
       |shs AS MATERIALIZED (
       |  SELECT doc_id, ${sqlU2S("su")} AS sh
       |  FROM (SELECT doc_id, sum(CASE WHEN bit = 1 THEN p ELSE CAST(0 AS HUGEINT) END) AS su
       |        FROM bits GROUP BY 1)),
       |ck AS MATERIALIZED (
       |  SELECT s.doc_id, c.chunk, (${sqlS2U("s.sh")} // c.dv) % 65536 AS ckey, s.sh
       |  FROM shs s, (VALUES (0, CAST(1 AS HUGEINT)), (1, CAST(65536 AS HUGEINT)),
       |               (2, CAST(4294967296 AS HUGEINT)), (3, CAST(281474976710656 AS HUGEINT)))
       |       c(chunk, dv)),
       |cand AS MATERIALIZED (
       |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b, l.sh AS sha, r.sh AS shb
       |  FROM ck l JOIN ck r ON l.chunk = r.chunk AND l.ckey = r.ckey AND l.doc_id < r.doc_id),
       |ver AS (SELECT a, b FROM cand WHERE bit_count(xor(sha, shb)) <= $maxHamming),
       |sym AS (SELECT a, b FROM ver UNION SELECT b, a FROM ver),
       |reach(a, b) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a)
       |SELECT a AS doc_id, min(b) AS rep FROM reach GROUP BY a""".stripMargin
  }

  /** Embedding LSH-dedup oracle: mirrors Dedup.embeddingDedup(lshBits = n) —
    * L2-normalize, Rademacher ±1 hyperplane sign bits (component sign = bit
    * 16 of (b·1000003 + i)·2654435761; projection folded in index order like
    * Spark's aggregate() so float sums are bit-identical), bucket equi-join,
    * exact cosine ≥ threshold, WCC by transitive closure. */
  private def embLshOracleSql(bits: Int, threshold: Double): String =
    s"""WITH RECURSIVE
       |v AS MATERIALIZED (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |nv AS MATERIALIZED (SELECT id, CASE WHEN sqrt(list_dot_product(e, e)) > 0
       |                       THEN list_transform(e, x -> x / sqrt(list_dot_product(e, e)))
       |                       ELSE e END AS u FROM v),
       |pr AS MATERIALIZED (
       |  SELECT id, b.b,
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      list_transform(range(0, len(u)), i -> u[i + 1] *
       |        (CASE WHEN ((b.b * 1000003 + i) * 2654435761 >> 16) % 2 = 0
       |              THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END))),
       |      (a, x) -> a + x) AS proj
       |  FROM nv, range(0, $bits) b(b)),
       |bk AS MATERIALIZED (
       |  SELECT id, sum(CASE WHEN proj >= 0 THEN 1 << b ELSE 0 END) AS bucket
       |  FROM pr GROUP BY id),
       |nb AS MATERIALIZED (SELECT nv.id, nv.u, bk.bucket FROM nv JOIN bk USING (id)),
       |p AS MATERIALIZED (
       |  SELECT a.id AS a, b.id AS b FROM nb a JOIN nb b
       |    ON a.bucket = b.bucket AND a.id < b.id
       |  WHERE list_dot_product(a.u, b.u) >= $threshold),
       |sym AS (SELECT a, b FROM p UNION SELECT b, a FROM p),
       |reach(a, b) AS (
       |  SELECT vec_id, vec_id FROM embeddings
       |  UNION
       |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a)
       |SELECT a AS vec_id, min(b) AS rep FROM reach GROUP BY a""".stripMargin

  /** Shared oracle for d_curation_e2e / d_curation_fused (row-identical
    * by construction — same stages, joined vs fused plan). */
  private lazy val sqlCurationE2e: String = {
      val cps = "list_transform(range(1, length(k) + 1), j -> CAST(unicode(k[j]) AS HUGEINT))"
      s"""WITH lang AS (
         |  SELECT doc_id,
         |    CASE WHEN code < 8 THEN 'und'
         |         ELSE ['de','en','es','fr','it'][(code % 8) + 1] END AS lang_pred
         |  FROM (
         |    SELECT doc_id, greatest(
         |      8 * len(list_filter(toks, t -> list_contains(['der','die','das','und','ist','ich','nicht','ein','eine','mit','auf','für','von','zu','den','im'], t))) + 0,
         |      8 * len(list_filter(toks, t -> list_contains(['the','a','an','of','to','in','and','is','it','that','for','on','was','with','as','at','by','this'], t))) + 1,
         |      8 * len(list_filter(toks, t -> list_contains(['el','la','los','las','de','y','es','un','una','en','que','por','con','para','no','se'], t))) + 2,
         |      8 * len(list_filter(toks, t -> list_contains(['le','la','les','de','des','et','est','un','une','dans','que','pour','pas','sur','avec','au'], t))) + 3,
         |      8 * len(list_filter(toks, t -> list_contains(['il','lo','la','gli','di','e','è','un','una','in','che','per','non','con','su','del'], t))) + 4
         |    ) AS code
         |    FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks FROM documents))),
         |qual AS (
         |  SELECT doc_id, len(toks) AS n_tokens,
         |    round(CAST(len(list_filter(toks, t -> list_contains(
         |      ['the','a','an','of','to','in','and','is','it','that','for','on','was','with','as','at','by','this'],
         |      lower(t)))) AS DOUBLE) / len(toks), 6) AS stopword_ratio
         |  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents)),
         |g AS (SELECT doc_id, n_chars,
         |             regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS kk
         |      FROM documents),
         |r AS (SELECT kk, max(n_chars) AS kc FROM g GROUP BY 1),
         |reps AS (SELECT min(g.doc_id) AS doc_id
         |         FROM g JOIN r ON g.kk = r.kk AND g.n_chars = r.kc
         |         GROUP BY r.kk, r.kc),
         |gated AS (
         |  SELECT d.doc_id, lang.lang_pred, qual.n_tokens
         |  FROM documents d
         |  JOIN reps USING (doc_id) JOIN lang USING (doc_id) JOIN qual USING (doc_id)
         |  WHERE qual.n_tokens >= 10 AND qual.stopword_ratio >= 0.05)
         |SELECT doc_id, lang_pred, n_tokens FROM (
         |  SELECT doc_id, lang_pred, n_tokens,
         |    ${sqlPoly("cps", 1125899906842597L, Curation.saltMult("cur:"))} % 1048576 AS gate
         |  FROM (SELECT doc_id, lang_pred, n_tokens, $cps AS cps
         |        FROM (SELECT doc_id, lang_pred, n_tokens,
         |                     CAST(doc_id AS VARCHAR) || 'cur:' AS k
         |              FROM gated)))
         |WHERE gate < CASE lang_pred WHEN 'en' THEN 524288 WHEN 'de' THEN 524288
         |                            WHEN 'fr' THEN 262144 WHEN 'es' THEN 524288
         |                            WHEN 'it' THEN 262144 ELSE 131072 END""".stripMargin
    }

  def oracleSql: Map[String, String] = Map(

    "d_minhash_clusters" -> minhashOracleSql(threshold = 0.5),

    // incremental index + delta ≡ full recompute — same oracle by design
    "d_minhash_incr" -> minhashOracleSql(threshold = 0.5),

    "d_minhash_retain" -> retainOracleSql(minhashOracleSql(threshold = 0.5)),

    "d_simhash_retain" -> retainOracleSql(simhashOracleSql(maxHamming = 3)),

    "d_simhash_clusters" -> simhashOracleSql(maxHamming = 3),

    "e_embedding_dedup_lsh" -> embLshOracleSql(bits = 10, threshold = 0.9),

    // JL projection integer shadow: micro-quantize with floor(+0.5),
    // replay the hyperplane sign mix, fold LONGs in index order
    "e_rp_project" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |q AS (SELECT vec_id,
        |        list_transform(e, x -> CAST(floor(x * 1000000 + 0.5) AS BIGINT)) AS qv
        |      FROM v),
        |pr AS (SELECT vec_id, b.b,
        |         list_reduce(list_prepend(CAST(0 AS BIGINT),
        |           list_transform(range(0, len(qv)), i -> qv[i + 1] *
        |             (CASE WHEN ((b.b * 1000003 + i) * 2654435761 >> 16) % 2 = 0
        |                   THEN 1 ELSE -1 END))),
        |           (a, x) -> a + x) AS y_micro
        |       FROM q, range(0, 8) b(b))
        |SELECT vec_id, CAST(b AS INTEGER) AS b, CAST(y_micro AS BIGINT) AS y_micro
        |FROM pr""".stripMargin,

    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |  CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_base_cents,
        |  CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_disc_cents,
        |  count(*) AS count_order,
        |  round(CAST(sum(CAST(l_quantity AS BIGINT)) AS DOUBLE) / count(*), 6) AS avg_qty
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-01'
        |GROUP BY 1, 2""".stripMargin,

    "q2_revenue_by_nation" ->
      """SELECT n_name,
        |  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents,
        |  count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1""".stripMargin,

    "q3_top_customers" ->
      """SELECT o_custkey, count(*) AS n_orders FROM orders
        |GROUP BY 1 ORDER BY n_orders DESC, o_custkey LIMIT 10""".stripMargin,

    "q4_order_ranks" ->
      """SELECT o_custkey, o_orderkey, rk FROM (
        |  SELECT o_custkey, o_orderkey,
        |         row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rk
        |  FROM orders) WHERE rk <= 3""".stripMargin,

    "q5_low_activity" ->
      """SELECT c_custkey, CAST(coalesce(n, 0) AS BIGINT) AS n_orders
        |FROM customer LEFT JOIN
        |  (SELECT o_custkey, count(*) AS n FROM orders GROUP BY 1) o
        |  ON c_custkey = o_custkey
        |WHERE coalesce(n, 0) <= 4""".stripMargin,

    "g_out_degrees" ->
      s"""WITH e AS ($sqlSupplierPartEdges),
         |v AS (SELECT src AS id FROM e UNION SELECT dst FROM e)
         |SELECT v.id, CAST(coalesce(d.cnt, 0) AS BIGINT) AS value
         |FROM v LEFT JOIN (SELECT src, count(*) AS cnt FROM e GROUP BY 1) d ON v.id = d.src""".stripMargin,

    "g_in_degrees" ->
      s"""WITH e AS ($sqlSupplierPartEdges),
         |v AS (SELECT src AS id FROM e UNION SELECT dst FROM e)
         |SELECT v.id, CAST(coalesce(d.cnt, 0) AS BIGINT) AS value
         |FROM v LEFT JOIN (SELECT dst, count(*) AS cnt FROM e GROUP BY 1) d ON v.id = d.dst""".stripMargin,

    "g_subgraph" ->
      s"""WITH e AS ($sqlSupplierPartEdges)
         |SELECT src, dst, value FROM e
         |WHERE src % 2 = 0 AND dst % 2 = 0 AND value >= 25""".stripMargin,

    "g_undirected_degrees" ->
      s"""WITH e AS ($sqlSupplierPartEdges),
         |u AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
         |v AS (SELECT src AS id FROM e UNION SELECT dst FROM e)
         |SELECT v.id, CAST(coalesce(d.cnt, 0) AS BIGINT) AS value
         |FROM v LEFT JOIN (SELECT src, count(*) AS cnt FROM u GROUP BY 1) d ON v.id = d.src""".stripMargin,

    "g_reduce_min_edge" ->
      s"""WITH e AS ($sqlSupplierPartEdges)
         |SELECT dst AS id, CAST(min(value) AS BIGINT) AS value FROM e GROUP BY 1""".stripMargin,

    "g_wcc_clusters" ->
      """WITH m AS (SELECT c_custkey AS c FROM customer WHERE c_custkey % 100 <> 0),
        |v AS (SELECT c AS id FROM m UNION SELECT DISTINCT c - c % 100 FROM m)
        |SELECT id, id - id % 100 AS value FROM v""".stripMargin,

    "g_wcc_deep" ->
      """SELECT c_custkey AS id, 1 AS value FROM customer WHERE c_custkey >= 1""".stripMargin,

    "g_wcc_logrounds" ->
      """SELECT c_custkey AS id, 1 AS value FROM customer WHERE c_custkey >= 1""".stripMargin,

    "g_bfs_tree" ->
      s"""WITH RECURSIVE e AS ($sqlTreeEdges),
         |d(id, dist) AS (
         |  SELECT CAST(1 AS BIGINT), CAST(0 AS BIGINT)
         |  UNION ALL
         |  SELECT e.src, d.dist + 1 FROM e JOIN d ON e.dst = d.id)
         |SELECT id, dist AS value FROM d""".stripMargin,

    "g_sssp_tree" ->
      s"""WITH RECURSIVE e AS ($sqlTreeEdges),
         |d(id, dist) AS (
         |  SELECT CAST(1 AS BIGINT), CAST(0 AS DOUBLE)
         |  UNION ALL
         |  SELECT e.src, d.dist + e.value FROM e JOIN d ON e.dst = d.id)
         |SELECT id, dist AS value FROM d""".stripMargin,

    "g_mssp_tree" ->
      s"""WITH RECURSIVE e AS ($sqlTreeEdges),
         |d(id, landmark, dist) AS (
         |  SELECT CAST(lm AS BIGINT), CAST(lm AS BIGINT), CAST(0 AS DOUBLE)
         |  FROM (VALUES (100), (101), (77)) t(lm)
         |  UNION ALL
         |  SELECT e.dst, d.landmark, d.dist + e.value FROM e JOIN d ON e.src = d.id)
         |SELECT id, landmark, dist AS value FROM d""".stripMargin,

    // HyperBall on the tree: ball(v) along out-edges = ancestors-or-self
    // (recursive CTE), registers = the d_hll_orders Poly64+mix64 math at
    // p=6 (modulus 64, max rank 59) grouped per ball owner
    "g_hyperball" ->
      s"""WITH RECURSIVE e AS ($sqlTreeEdges),
         |v AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
         |a(id, u) AS (SELECT id, id FROM v
         |             UNION ALL
         |             SELECT a.id, e.dst FROM a JOIN e ON e.src = a.u),
         |ks AS (SELECT DISTINCT id, CAST(u AS VARCHAR) AS k FROM a),
         |cpl AS (SELECT id, list_transform(range(1, length(k) + 1),
         |               j -> CAST(unicode(k[j]) AS HUGEINT)) AS cps FROM ks),
         |hs AS (SELECT id, ${sqlPoly("cps", 1125899906842597L, 1099511628211L)} AS u FROM cpl),
         |m1 AS (SELECT id, (${sqlXorShr("u", 33)} * 6364136223846793005) % $U64 AS u FROM hs),
         |m2 AS (SELECT id, (${sqlXorShr("u", 29)} * 2685821657736338717) % $U64 AS u FROM m1),
         |m3 AS (SELECT id, ${sqlXorShr("u", 32)} AS u FROM m2),
         |rv AS (SELECT id, CAST(u % 64 AS BIGINT) AS bucket,
         |              CAST(u // 64 AS BIGINT) AS v2 FROM m3)
         |SELECT id, bucket,
         |       CAST(max(CASE WHEN v2 = 0 THEN 59 ELSE 59 - length(bin(v2)) END) AS INTEGER) AS r
         |FROM rv GROUP BY 1, 2""".stripMargin,

    // trajectory: registers of ball(v, t) per depth-capped ancestor set;
    // per-t global (count, Σr) with the flat suffix LAG-filtered away —
    // the strictly-increasing prefix is exactly what the Spark loop emits
    "g_hyperball_nf" ->
      s"""WITH RECURSIVE e AS ($sqlTreeEdges),
         |v AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
         |a(id, u, d) AS (SELECT id, id, 0 FROM v
         |                UNION ALL
         |                SELECT a.id, e.dst, a.d + 1 FROM a JOIN e ON e.src = a.u),
         |ks AS (SELECT id, d, CAST(u AS VARCHAR) AS k FROM a),
         |cpl AS (SELECT id, d, list_transform(range(1, length(k) + 1),
         |               j -> CAST(unicode(k[j]) AS HUGEINT)) AS cps FROM ks),
         |hs AS (SELECT id, d, ${sqlPoly("cps", 1125899906842597L, 1099511628211L)} AS u FROM cpl),
         |m1 AS (SELECT id, d, (${sqlXorShr("u", 33)} * 6364136223846793005) % $U64 AS u FROM hs),
         |m2 AS (SELECT id, d, (${sqlXorShr("u", 29)} * 2685821657736338717) % $U64 AS u FROM m1),
         |m3 AS (SELECT id, d, ${sqlXorShr("u", 32)} AS u FROM m2),
         |rv AS (SELECT id, d, CAST(u % 64 AS BIGINT) AS bucket,
         |              CASE WHEN u // 64 = 0 THEN 59
         |                   ELSE 59 - length(bin(u // 64)) END AS rnk FROM m3),
         |ts AS (SELECT DISTINCT d AS t FROM a),
         |regs AS (SELECT ts.t, rv.id, rv.bucket, max(rv.rnk) AS r
         |         FROM rv JOIN ts ON rv.d <= ts.t GROUP BY 1, 2, 3),
         |st AS (SELECT t, CAST(count(*) AS BIGINT) AS n_regs,
         |              CAST(sum(r) AS BIGINT) AS sum_r FROM regs GROUP BY 1),
         |fl AS (SELECT t, n_regs, sum_r, lag(n_regs) OVER (ORDER BY t) AS pn,
         |              lag(sum_r) OVER (ORDER BY t) AS ps FROM st)
         |SELECT CAST(t AS BIGINT) AS t, n_regs, sum_r FROM fl
         |WHERE pn IS NULL OR n_regs <> pn OR sum_r <> ps""".stripMargin,

    // star clusters: leaves converge to rank 0.15; each root r gets
    // 0.15 + 0.85 * 0.15 * |members(r)| (outdeg of every leaf is 1)
    "g_pagerank_stars" ->
      """WITH m AS (SELECT c_custkey AS c, c_custkey - c_custkey % 100 AS root
        |           FROM customer WHERE c_custkey % 100 <> 0),
        |sz AS (SELECT root, count(*) AS n FROM m GROUP BY 1)
        |SELECT c AS id, round(CAST(0.15 AS DOUBLE), 6) AS value FROM m
        |UNION ALL
        |SELECT root AS id, round(CAST(0.15 + 0.85 * 0.15 * n AS DOUBLE), 6) AS value FROM sz""".stripMargin,

    // HITS integer shadow on the stars: roots are pure authorities,
    // members pure hubs, both n³ after 3 rounds
    "g_hits_stars" ->
      """WITH m AS (SELECT c_custkey AS c, c_custkey - c_custkey % 100 AS root
        |           FROM customer WHERE c_custkey % 100 <> 0),
        |sz AS (SELECT root, count(*) AS n FROM m GROUP BY 1)
        |SELECT c AS id, CAST(n * n * n AS BIGINT) AS hub,
        |       CAST(0 AS BIGINT) AS authority
        |FROM m JOIN sz USING (root)
        |UNION ALL
        |SELECT root AS id, CAST(0 AS BIGINT) AS hub,
        |       CAST(n * n * n AS BIGINT) AS authority FROM sz""".stripMargin,

    // leaves keep their id (no in-edges); root adopts max member label
    // (all member labels tie at frequency 1 → larger label wins)
    "g_lp_stars" ->
      """WITH m AS (SELECT c_custkey AS c, c_custkey - c_custkey % 100 AS root
        |           FROM customer WHERE c_custkey % 100 <> 0)
        |SELECT c AS id, c AS value FROM m
        |UNION ALL
        |SELECT root AS id, max(c) AS value FROM m GROUP BY root""".stripMargin,

    "g_triangles_total" ->
      s"""WITH e AS ($sqlCoPurchaseEdges)
         |SELECT count(*) AS n_triangles
         |FROM e e1 JOIN e e2 ON e1.b = e2.a
         |JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b""".stripMargin,

    // ---- 10⁵-hub skew drill oracles: closed forms of the star+path graph
    // (hub 1 ↔ 2..100001, path (c, c+1)). Derivation: N(1) = {2..100001};
    // N(2) = {1,3}; N(100001) = {1,100000}; N(c) = {1, c−1, c+1} otherwise.
    // Same arithmetic shape as the engine (2·tri/(deg·(deg−1)),
    // common/(degΣ−common), Σ ln(1/deg(w))) so IEEE rounding agrees.
    "g_skew_lcc" ->
      """WITH v AS (SELECT i AS id,
        |  CASE WHEN i = 1 THEN 100000 WHEN i = 2 OR i = 100001 THEN 2 ELSE 3 END AS deg,
        |  CASE WHEN i = 1 THEN 99999 WHEN i = 2 OR i = 100001 THEN 1 ELSE 2 END AS tri
        |  FROM range(1, 100002) t(i))
        |SELECT id, round(2.0 * tri / (CAST(deg AS BIGINT) * (deg - 1)), 6) AS value
        |FROM v""".stripMargin,

    "g_skew_jaccard" ->
      """WITH e AS (
        |  SELECT CAST(1 AS BIGINT) AS src, i AS dst,
        |    CASE WHEN i = 2 OR i = 100001 THEN 1 ELSE 2 END AS common,
        |    100000 + CASE WHEN i = 2 OR i = 100001 THEN 2 ELSE 3 END AS degsum
        |  FROM range(2, 100002) t(i)
        |  UNION ALL
        |  SELECT i, i + 1, 1,
        |    (CASE WHEN i = 2 THEN 2 ELSE 3 END) +
        |    (CASE WHEN i = 100000 THEN 2 ELSE 3 END)
        |  FROM range(2, 100001) t(i))
        |SELECT src, dst,
        |       round(CAST(common AS DOUBLE) / (degsum - common), 6) AS value
        |FROM e""".stripMargin,

    "g_skew_adamic" ->
      """WITH e AS (
        |  SELECT CAST(1 AS BIGINT) AS src, i AS dst,
        |    CASE WHEN i = 2 OR i = 100001 THEN ln(1.0/3)
        |         WHEN i = 3 OR i = 100000 THEN ln(1.0/2) + ln(1.0/3)
        |         ELSE ln(1.0/3) + ln(1.0/3) END AS value
        |  FROM range(2, 100002) t(i)
        |  UNION ALL
        |  SELECT i, i + 1, ln(1.0/100000) FROM range(2, 100001) t(i))
        |SELECT src, dst, round(value, 6) AS value FROM e""".stripMargin,

    // honest recompute (not the n−2 closed form): canonical-chain triangle
    // enumeration over the same synthetic edge set
    "g_skew_triangles" ->
      """WITH e AS (
        |  SELECT CAST(1 AS BIGINT) AS a, i AS b FROM range(2, 100002) t(i)
        |  UNION ALL
        |  SELECT i, i + 1 FROM range(2, 100001) t(i))
        |SELECT count(*) AS n_triangles
        |FROM e e1 JOIN e e2 ON e1.b = e2.a
        |JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b""".stripMargin,

    "g_adamic_adar" ->
      s"""WITH e AS ($sqlCoPurchaseEdges),
         |adj AS (SELECT a AS w, b AS n FROM e UNION ALL SELECT b, a FROM e),
         |deg AS (SELECT w, count(*) AS d FROM adj GROUP BY 1)
         |SELECT n1.n AS src, n2.n AS dst,
         |       round(sum(ln(1.0 / deg.d)), 6) AS value
         |FROM adj n1 JOIN adj n2 ON n1.w = n2.w AND n1.n < n2.n
         |JOIN e ON e.a = n1.n AND e.b = n2.n
         |JOIN deg ON deg.w = n1.w
         |GROUP BY 1, 2""".stripMargin,

    "g_jaccard" ->
      s"""WITH e AS ($sqlCoPurchaseEdges),
         |adj AS (SELECT a AS w, b AS n FROM e UNION ALL SELECT b, a FROM e),
         |deg AS (SELECT n, count(*) AS d FROM (SELECT a AS n FROM e UNION ALL SELECT b FROM e) GROUP BY 1),
         |common AS (
         |  SELECT n1.n AS u, n2.n AS v, count(*) AS c
         |  FROM adj n1 JOIN adj n2 ON n1.w = n2.w AND n1.n < n2.n
         |  JOIN e ON e.a = n1.n AND e.b = n2.n
         |  GROUP BY 1, 2)
         |SELECT e.a AS src, e.b AS dst,
         |       round(CAST(coalesce(common.c, 0) AS DOUBLE) /
         |             (du.d + dv.d - coalesce(common.c, 0)), 6) AS value
         |FROM e
         |LEFT JOIN common ON common.u = e.a AND common.v = e.b
         |JOIN deg du ON du.n = e.a
         |JOIN deg dv ON dv.n = e.b""".stripMargin,

    "g_jaccard_dist" ->
      s"""WITH e AS ($sqlCoPurchaseEdges),
         |adj AS (SELECT a AS w, b AS n FROM e UNION ALL SELECT b, a FROM e),
         |deg AS (SELECT n, count(*) AS d FROM (SELECT a AS n FROM e UNION ALL SELECT b FROM e) GROUP BY 1),
         |common AS (
         |  SELECT n1.n AS u, n2.n AS v, count(*) AS c
         |  FROM adj n1 JOIN adj n2 ON n1.w = n2.w AND n1.n < n2.n
         |  JOIN e ON e.a = n1.n AND e.b = n2.n
         |  GROUP BY 1, 2)
         |SELECT e.a AS src, e.b AS dst,
         |       round(least(CASE WHEN coalesce(common.c, 0) > 0
         |         THEN 1.0 / (CAST(common.c AS DOUBLE) /
         |                     (du.d + dv.d - common.c)) - 1.0
         |         ELSE 1000000.0 END, 1000000.0), 6) AS value
         |FROM e
         |LEFT JOIN common ON common.u = e.a AND common.v = e.b
         |JOIN deg du ON du.n = e.a
         |JOIN deg dv ON dv.n = e.b""".stripMargin,

    "g_kcore" -> {
      // fixpoint reached in ~6 at sf0.01/sf0.1; generous margin against a
      // driver testdata regeneration shifting the peel depth — converged
      // rounds are no-ops
      val rounds = 16
      val sb = new StringBuilder
      sb ++= s"WITH e0 AS MATERIALIZED ($sqlCoPurchaseEdges)"
      for (r <- 1 to rounds) sb ++= s""",
        |v$r AS MATERIALIZED (SELECT id FROM (
        |  SELECT a AS id FROM e${r - 1} UNION ALL SELECT b FROM e${r - 1})
        |  GROUP BY id HAVING count(*) >= 80),
        |e$r AS MATERIALIZED (SELECT e.a, e.b FROM e${r - 1} e
        |  JOIN v$r x ON e.a = x.id JOIN v$r y ON e.b = y.id)""".stripMargin
      sb ++= s"""
        |SELECT id, count(*) AS degree FROM (
        |  SELECT a AS id FROM e$rounds UNION ALL SELECT b FROM e$rounds)
        |GROUP BY id""".stripMargin
      sb.toString
    },

    "g_two_hop" ->
      s"""WITH e AS (SELECT src, dst FROM ($sqlTreeEdges)),
        |adj AS (SELECT src AS v, dst AS m FROM e UNION ALL SELECT dst, src FROM e),
        |two AS (SELECT DISTINCT a.v, b.m AS u
        |        FROM adj a JOIN adj b ON a.m = b.v WHERE a.v <> b.m),
        |res AS (SELECT t.v, t.u FROM two t
        |        WHERE NOT EXISTS (SELECT 1 FROM adj d WHERE d.v = t.v AND d.m = t.u))
        |SELECT v AS id, count(*) AS n2 FROM res GROUP BY 1""".stripMargin,

    // honest recompute over the same synthetic star+path edge set (1.7·10⁷
    // wedges — fine in DuckDB at this drill size)
    "g_skew_two_hop" ->
      """WITH e AS (
        |  SELECT CAST(1 AS BIGINT) AS src, i AS dst FROM range(2, 4098) t(i)
        |  UNION ALL
        |  SELECT i, i + 1 FROM range(2, 4097) t(i)),
        |adj AS (SELECT src AS v, dst AS m FROM e UNION ALL SELECT dst, src FROM e),
        |two AS (SELECT DISTINCT a.v, b.m AS u
        |        FROM adj a JOIN adj b ON a.m = b.v WHERE a.v <> b.m),
        |res AS (SELECT t.v, t.u FROM two t
        |        WHERE NOT EXISTS (SELECT 1 FROM adj d WHERE d.v = t.v AND d.m = t.u))
        |SELECT v AS id, count(*) AS n2 FROM res GROUP BY 1""".stripMargin,

    // closed form (an honest DuckDB recompute would enumerate 10¹⁰ wedges
    // through the 10⁵-degree hub — the same reason g_skew_lcc/jaccard/adamic
    // gate on closed forms). Derivation: round 1 supports are
    //   clique edge (u,v ⊂ 2..12): ≥ {hub} ∪ 9 clique commons = 10 ≥ 9 keep
    //   star spoke (1,c), c ∉ clique: |N(c)\{1}| ≤ 4 < 9 drop
    //   path (c,c+1): commons ⊆ {1, c−1, c+2} ≤ 3 < 9 drop (path edges
    //     inside 2..12 are clique duplicates, merged by canonicalization)
    //   skip (c,c+2): commons {1, c+1} = 2 < 9 drop
    // leaving hub ∪ clique = a 12-clique, where every edge's support is
    // exactly 10 ≥ k−2 = 9: the fixpoint.
    "g_skew_ktruss" ->
      """SELECT a.i AS src, b.i AS dst, CAST(10 AS BIGINT) AS support
        |FROM range(1, 13) a(i) JOIN range(1, 13) b(i) ON a.i < b.i""".stripMargin,

    "g_ktruss" -> {
      // fixpoint at round 11 (sf0.01) / 4 (sf0.1) for k=9; 20 rounds of
      // margin against testdata regeneration — converged rounds are no-ops
      val rounds = 20
      val sb = new StringBuilder
      sb ++= s"WITH e0 AS MATERIALIZED ($sqlCoPurchaseEdges)"
      for (r <- 1 to rounds) sb ++= s""",
        |adj$r AS MATERIALIZED (SELECT a AS u, b AS v FROM e${r - 1}
        |  UNION ALL SELECT b, a FROM e${r - 1}),
        |e$r AS MATERIALIZED (
        |  SELECT e.a, e.b FROM e${r - 1} e JOIN (
        |    SELECT e.a, e.b, count(*) AS s FROM e${r - 1} e
        |    JOIN adj$r x ON x.u = e.a
        |    JOIN adj$r y ON y.u = e.b AND y.v = x.v
        |    GROUP BY 1, 2) t USING (a, b)
        |  WHERE t.s >= 7)""".stripMargin
      sb ++= s"""
        |SELECT e.a AS src, e.b AS dst, CAST(t.s AS BIGINT) AS support
        |FROM e$rounds e JOIN (
        |  SELECT e.a, e.b, count(*) AS s FROM e$rounds e
        |  JOIN (SELECT a AS u, b AS v FROM e$rounds
        |        UNION ALL SELECT b, a FROM e$rounds) x ON x.u = e.a
        |  JOIN (SELECT a AS u, b AS v FROM e$rounds
        |        UNION ALL SELECT b, a FROM e$rounds) y ON y.u = e.b AND y.v = x.v
        |  GROUP BY 1, 2) t USING (a, b)""".stripMargin
      sb.toString
    },

    "g_lcc" ->
      s"""WITH e AS ($sqlCoPurchaseEdges),
         |adj AS (SELECT a AS w, b AS n FROM e UNION ALL SELECT b, a FROM e),
         |deg AS (SELECT w AS id, count(*) AS d FROM adj GROUP BY 1),
         |t AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |      FROM e e1 JOIN e e2 ON e1.b = e2.a
         |      JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
         |tri AS (SELECT vv, count(*) AS c FROM (
         |  SELECT x AS vv FROM t UNION ALL SELECT y FROM t UNION ALL SELECT z FROM t)
         |  GROUP BY 1)
         |SELECT deg.id,
         |       round(CASE WHEN deg.d >= 2
         |                  THEN 2.0 * coalesce(tri.c, 0) / (deg.d * (deg.d - 1))
         |                  ELSE 0.0 END, 6) AS value
         |FROM deg LEFT JOIN tri ON tri.vv = deg.id""".stripMargin,

    "g_lcc_skewhub" ->
      s"""WITH e AS (
         |  SELECT 1 AS a, c_custkey AS b FROM customer WHERE c_custkey >= 2
         |  UNION ALL
         |  SELECT c.c_custkey AS a, c.c_custkey + 1 AS b
         |  FROM customer c JOIN customer d ON d.c_custkey = c.c_custkey + 1
         |  WHERE c.c_custkey >= 2),
         |adj AS (SELECT a AS w, b AS n FROM e UNION ALL SELECT b, a FROM e),
         |deg AS (SELECT w AS id, count(*) AS d FROM adj GROUP BY 1),
         |t AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |      FROM e e1 JOIN e e2 ON e1.b = e2.a
         |      JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
         |tri AS (SELECT vv, count(*) AS c FROM (
         |  SELECT x AS vv FROM t UNION ALL SELECT y FROM t UNION ALL SELECT z FROM t)
         |  GROUP BY 1)
         |SELECT deg.id,
         |       round(CASE WHEN deg.d >= 2
         |                  THEN 2.0 * coalesce(tri.c, 0) / (deg.d * (deg.d - 1))
         |                  ELSE 0.0 END, 6) AS value
         |FROM deg LEFT JOIN tri ON tri.vv = deg.id""".stripMargin,

    // rank-1 probe fixture: per-user rated items carry distinct ratings
    // item+1, so the trained model's argmax-predicted item is max(item)
    "cf_sgd_top" -> sqlCfTop("max"),
    "cf_als_top" -> sqlCfTop("max"),
    // SVD++ ports the reference's bias update VERBATIM: baseline +=
    // γ((predicted − observed) − λ·baseline) (Svdpp.java:186-190) — the sign
    // RAISES over-predicted items, so after the first alternation the top
    // predicted item is the user's MINIMUM-rated one. Deterministic,
    // training-derived, and exactly what the reference computes.
    "cf_svdpp_top" -> sqlCfTop("min"),

    // closed-form SemiClustering fixpoint on uniform k-leaf stars
    // (iterations=6, maxClusters=2, capacity=4, f=0.5; SemiClustering.java:
    // 51-221 semantics): singleton clusters (score 0) win every topK
    // broadcast, so the stable send sets are {a},{b} (the two leaves with
    // the largest DECIMAL-STRING ids — the comparator's tie-break) toward
    // the root and {r},{r,a,b} toward the leaves. Final (superstep-5)
    // values: root holds {a,r}/{b,r} → score (1−f(k−1))/1; leaves a,b keep
    // {r,a,b} → (2−f(k−2))/3; every other leaf extends it → (3−f(k−3))/6.
    "g_semicluster" ->
      """WITH m AS (SELECT c_custkey AS c, c_custkey - c_custkey % 100 AS r
        |           FROM customer WHERE c_custkey % 100 <> 0),
        |k AS (SELECT r, count(*) AS k FROM m GROUP BY r),
        |ranked AS (SELECT c, r, row_number() OVER (
        |  PARTITION BY r ORDER BY CAST(c AS VARCHAR) DESC) AS rn FROM m)
        |SELECT id, 2 AS n_clusters, round(score, 6) AS best_score FROM (
        |  SELECT k.r AS id, (1 - 0.5 * (k.k - 1)) AS score FROM k
        |  UNION ALL
        |  SELECT x.c, CASE WHEN x.rn <= 2 THEN (2 - 0.5 * (kk.k - 2)) / 3
        |                   ELSE (3 - 0.5 * (kk.k - 3)) / 6 END
        |  FROM ranked x JOIN k kk ON kk.r = x.r) v""".stripMargin,

    "g_join_vertices" ->
      s"""WITH e AS ($sqlSupplierPartEdges),
         |v AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
         |cnt AS (SELECT l_suppkey AS id, count(*) AS c FROM lineitem GROUP BY 1)
         |SELECT v.id, CAST(CASE WHEN cnt.c IS NOT NULL THEN v.id + cnt.c ELSE v.id END AS BIGINT) AS value
         |FROM v LEFT JOIN cnt ON v.id = cnt.id""".stripMargin,

    "g_nbr_sum" ->
      s"""WITH e AS ($sqlSupplierPartEdges)
         |SELECT dst AS id, CAST(sum(src) AS BIGINT) AS value FROM e GROUP BY 1""".stripMargin,

    // ALL vertices (reference leftJoin parity: edge-less vertices fold an
    // empty list → max defaults to the 0 init); vertex value = id, so
    // result = max out-edge value (0 if none) - id
    "g_group_reduce_edges" ->
      s"""WITH e AS ($sqlSupplierPartEdges),
         |v AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
         |m AS (SELECT src AS id, max(value) AS mx FROM e GROUP BY 1)
         |SELECT v.id, CAST(COALESCE(m.mx, 0) - v.id AS BIGINT) AS value
         |FROM v LEFT JOIN m ON v.id = m.id""".stripMargin,

    "g_edge_join_src" ->
      s"""WITH e AS ($sqlSupplierPartEdges),
         |cnt AS (SELECT l_suppkey AS src, count(*) AS c FROM lineitem GROUP BY 1)
         |SELECT e.src, e.dst,
         |       CAST(CASE WHEN cnt.c IS NOT NULL THEN e.value + cnt.c ELSE e.value END AS BIGINT) AS value
         |FROM e LEFT JOIN cnt ON e.src = cnt.src""".stripMargin,

    "g_generators" ->
      """SELECT 'k' AS tag, a.i AS src, b.j AS dst, CAST(1.0 AS DOUBLE) AS value
        |FROM range(0, 20) a(i), range(0, 20) b(j) WHERE a.i <> b.j
        |UNION ALL
        |SELECT 'g', id, id + 1, 1.0 FROM range(0, 35) t(id) WHERE id % 7 < 6
        |UNION ALL
        |SELECT 'g', id, id + 7, 1.0 FROM range(0, 35) t(id) WHERE id // 7 < 4
        |UNION ALL
        |SELECT 's', i, CAST(0 AS BIGINT), 1.0 FROM range(1, 50) t(i)
        |UNION ALL
        |SELECT 'c', i, i + 1, 1.0 FROM range(0, 29) t(i)""".stripMargin,

    "g_text_edges_roundtrip" ->
      s"""SELECT src, dst, value FROM ($sqlTreeEdges)""",

    "g_text_vertices_roundtrip" ->
      """SELECT c_custkey AS id, c_custkey % 100 AS value FROM customer""",

    // vertex value = id in this graph (fromEdges identity initializer)
    "g_map_vertices" ->
      s"""WITH e AS ($sqlSupplierPartEdges),
         |v AS (SELECT src AS id FROM e UNION SELECT dst FROM e)
         |SELECT id, CAST(id * 2 + id % 7 AS BIGINT) AS value FROM v""".stripMargin,

    "g_map_edges" ->
      s"""WITH e AS ($sqlSupplierPartEdges)
         |SELECT src, dst, CAST(value * 2 + (src + dst) % 7 AS BIGINT) AS value
         |FROM e""".stripMargin,

    "g_join_edges" ->
      s"""WITH e AS ($sqlSupplierPartEdges),
         |cnt AS (SELECT l_suppkey AS src, l_partkey + 1000000 AS dst, count(*) AS c
         |        FROM lineitem GROUP BY 1, 2 HAVING count(*) > 1)
         |SELECT e.src, e.dst,
         |       CAST(CASE WHEN cnt.c IS NOT NULL THEN e.value + cnt.c ELSE e.value END AS BIGINT) AS value
         |FROM e LEFT JOIN cnt ON e.src = cnt.src AND e.dst = cnt.dst""".stripMargin,

    "g_edge_join_tgt" ->
      s"""WITH e AS ($sqlSupplierPartEdges),
         |cnt AS (SELECT l_partkey + 1000000 AS dst, count(*) AS c
         |        FROM lineitem GROUP BY 1 HAVING count(*) > 30)
         |SELECT e.src, e.dst,
         |       CAST(CASE WHEN cnt.c IS NOT NULL THEN e.value + cnt.c ELSE e.value END AS BIGINT) AS value
         |FROM e LEFT JOIN cnt ON e.dst = cnt.dst""".stripMargin,

    "g_filter_vertices" ->
      s"""WITH e AS ($sqlSupplierPartEdges)
         |SELECT src, dst, value FROM e WHERE src % 3 = 0 AND dst % 3 = 0""".stripMargin,

    "g_filter_edges" ->
      s"""WITH e AS ($sqlSupplierPartEdges)
         |SELECT src, dst, value FROM e WHERE value >= 30""".stripMargin,

    // ALL vertices (reference leftJoin parity: edge-less vertices fold an
    // empty neighbor list → both aggregates are 0);
    // neighbor value = dst id (fromEdges identity initializer)
    "g_group_reduce_nbrs" ->
      s"""WITH e AS ($sqlSupplierPartEdges),
         |v AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
         |g AS (SELECT src AS id,
         |             sum(CASE WHEN dst % 2 = 0 THEN 1 ELSE 0 END) AS n_even,
         |             sum(value) AS sum_ev
         |      FROM e GROUP BY 1)
         |SELECT v.id, CAST(COALESCE(g.n_even, 0) AS BIGINT) AS n_even,
         |       CAST(COALESCE(g.sum_ev, 0) AS BIGINT) AS sum_ev
         |FROM v LEFT JOIN g ON v.id = g.id""".stripMargin,

    // closed form on star clusters: rank oscillates root↔leaves each power
    // iteration; 2 + ceil(log10(N)) supersteps → the side holding the rank at
    // the final superstep depends on ceil(log10(N)) parity. Magnitude per
    // cluster = totalTrust/numTrusted/clusterSize (float drift ≪ round-6).
    "g_sybilrank" ->
      """WITH m AS (SELECT c_custkey AS c, c_custkey - c_custkey % 100 AS root
        |           FROM customer WHERE c_custkey % 100 <> 0),
        |sz AS (SELECT root, count(*) AS mm FROM m GROUP BY 1),
        |st AS (SELECT (SELECT count(*) FROM m) + (SELECT count(*) FROM sz) AS n,
        |              (SELECT count(*) FROM sz) AS k),
        |par AS (SELECT CAST(ceil(log10(CAST(n AS DOUBLE))) AS BIGINT) % 2 AS codd, n, k FROM st)
        |SELECT m.c AS id,
        |       CASE WHEN p.codd = 1 THEN round(CAST(p.n AS DOUBLE) / p.k / sz.mm, 6)
        |            ELSE 0.0 END AS rank
        |FROM m JOIN sz ON m.root = sz.root, par p
        |UNION ALL
        |SELECT sz.root AS id,
        |       CASE WHEN p.codd = 0 THEN round(CAST(p.n AS DOUBLE) / p.k / sz.mm, 6)
        |            ELSE 0.0 END AS rank
        |FROM sz, par p""".stripMargin,

    // closed form on star clusters: every leaf proposes its only edge; each
    // root accepts its top-2 by (weight desc, leaf id asc); saturated roots
    // remove the rest. Included edges surface from both endpoint adjacencies.
    "g_maxbmatching" ->
      """WITH m AS (SELECT c_custkey AS c, c_custkey - c_custkey % 100 AS root,
        |                  CAST(c_custkey % 7 + 1 AS DOUBLE) AS w
        |           FROM customer WHERE c_custkey % 100 <> 0),
        |top2 AS (SELECT root, c, w FROM (
        |  SELECT root, c, w, row_number() OVER (PARTITION BY root ORDER BY w DESC, c) AS rn
        |  FROM m) WHERE rn <= 2)
        |SELECT root AS src, c AS dst, w AS weight FROM top2
        |UNION ALL
        |SELECT c AS src, root AS dst, w AS weight FROM top2""".stripMargin,

    "g_counts" ->
      s"""WITH e AS ($sqlSupplierPartEdges)
         |SELECT (SELECT count(*) FROM (SELECT src FROM e UNION SELECT dst FROM e)) AS n_vertices,
         |       (SELECT count(*) FROM e) AS n_edges""".stripMargin,

    // tree edges all point child -> parent (src > dst), so every reverse
    // edge is missing and gets added with the mutation default value 1.0
    "g_reverse_edges" ->
      s"""WITH e AS ($sqlTreeEdges)
         |SELECT src, dst, value FROM e
         |UNION ALL
         |SELECT e.dst AS src, e.src AS dst, CAST(1.0 AS DOUBLE) AS value
         |FROM e
         |WHERE NOT EXISTS (SELECT 1 FROM e e2 WHERE e2.src = e.dst AND e2.dst = e.src)""".stripMargin,

    "d_exact_dedup" ->
      """SELECT min(doc_id) AS doc_id, count(*) AS n_dups
        |FROM documents
        |GROUP BY regexp_replace(lower(trim(text)), '\s+', ' ', 'g')""".stripMargin,

    "d_streaming_dedup" ->
      """SELECT doc_id, source, n_chars FROM (
        |  SELECT doc_id, source, n_chars,
        |    min(doc_id) OVER (PARTITION BY
        |      regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS m
        |  FROM documents) WHERE doc_id = m""".stripMargin,

    "d_token_count" ->
      """SELECT doc_id,
        |  CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 0
        |       ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens
        |FROM documents""".stripMargin,

    "d_tfidf_top" ->
      """WITH tk AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tk GROUP BY 1, 2),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT doc_id, term, tf, df,
        |         round(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf
        |  FROM tf JOIN dfq USING (term) CROSS JOIN n)
        |SELECT doc_id, term, tf, df, tfidf FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rk
        |  FROM scored) WHERE rk = 1""".stripMargin,

    "d_repetition" ->
      """SELECT doc_id, len(toks) AS n_tokens,
        |  CASE WHEN len(toks) > 0 THEN
        |    round(1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 6)
        |  ELSE 0.0 END AS dup_token_ratio,
        |  CASE WHEN len(toks) >= 2 THEN
        |    round(1.0 - CAST(len(list_distinct(list_transform(range(1, len(toks)),
        |      i -> toks[i] || ' ' || toks[i+1]))) AS DOUBLE) / (len(toks) - 1), 6)
        |  ELSE 0.0 END AS dup_2gram_ratio,
        |  CASE WHEN len(toks) >= 3 THEN
        |    round(1.0 - CAST(len(list_distinct(list_transform(range(1, len(toks) - 1),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS DOUBLE)
        |      / (len(toks) - 2), 6)
        |  ELSE 0.0 END AS dup_3gram_ratio
        |FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
        |      FROM documents)""".stripMargin,

    "d_dedup_retain" ->
      """WITH g AS (
        |  SELECT doc_id, n_chars,
        |         regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS k
        |  FROM documents),
        |r AS (SELECT k, max(n_chars) AS kept_chars, count(*) AS n_dups
        |      FROM g GROUP BY 1)
        |SELECT min(g.doc_id) AS doc_id, CAST(r.kept_chars AS BIGINT) AS kept_chars,
        |       r.n_dups
        |FROM g JOIN r ON g.k = r.k AND g.n_chars = r.kept_chars
        |GROUP BY r.k, r.kept_chars, r.n_dups""".stripMargin,

    // RE2 (DuckDB) has no lookarounds, so the BPE-ish token count is
    // reconstructed by counting token-START positions: a non-ws char at
    // string start / after whitespace, plus every punctuation char not
    // already counted there, plus letter↔digit transition targets.
    "d_subword_count" ->
      """SELECT doc_id, CAST(
        |  CASE WHEN text IS NULL THEN 0 ELSE
        |    len(regexp_extract_all(text, '(^|[\s])[^\s]')) +
        |    (len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) -
        |     len(regexp_extract_all(text, '(^|[\s])[^a-zA-Z0-9\s]'))) +
        |    len(regexp_extract_all(text, '[a-zA-Z][0-9]')) +
        |    len(regexp_extract_all(text, '[0-9][a-zA-Z]'))
        |  END AS INTEGER) AS n_subwords
        |FROM documents""".stripMargin,

    "d_fingerprints" -> {
      // winnowing fingerprints: per window position i (1-based over the
      // normalized string, min 1 position), Poly64-fold the ≤8-codepoint
      // window, then keep the 16 smallest distinct signed values. Mirrors
      // Poly64.rollingFingerprints exactly (the rolling update there is
      // algebraically the same fold per window).
      val gramCps =
        "list_transform(range(i, i + least(8, length(s) - i + 1)), " +
          "j -> CAST(unicode(s[j]) AS HUGEINT))"
      s"""SELECT doc_id, unnest(list_slice(list_sort(list_distinct(
         |    list_transform(range(1, greatest(length(s) - 7, 1) + 1),
         |      i -> ${sqlU2S(sqlPoly(gramCps, 1125899906842597L, 1099511628211L))}))),
         |  1, 16)) AS fp
         |FROM (SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS s
         |      FROM documents)""".stripMargin
    },

    "d_quality" ->
      """SELECT doc_id,
        |  len(toks) AS n_tokens,
        |  round(CAST(len(list_filter(toks, t -> list_contains(
        |    ['the','a','an','of','to','in','and','is','it','that','for','on','was','with','as','at','by','this'],
        |    lower(t)))) AS DOUBLE) / len(toks), 6) AS stopword_ratio,
        |  round((length(text) - length(regexp_replace(text, '[!-/:-@\[-`{-~]', '', 'g')))
        |        / CAST(length(text) AS DOUBLE), 6) AS punct_ratio,
        |  round((length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))
        |        / CAST(length(text) AS DOUBLE), 6) AS digit_ratio
        |FROM (SELECT doc_id, text, string_split_regex(trim(text), '\s+') AS toks FROM documents)""".stripMargin,

    // argmax with (score, lang-index) encoded arithmetic — identical
    // tie-breaking in both engines (larger index = alphabetically later lang)
    "d_lang_id" ->
      """SELECT doc_id,
        |  CASE WHEN code < 8 THEN 'und'
        |       ELSE ['de','en','es','fr','it'][(code % 8) + 1] END AS lang_pred
        |FROM (
        |  SELECT doc_id, greatest(
        |    8 * len(list_filter(toks, t -> list_contains(['der','die','das','und','ist','ich','nicht','ein','eine','mit','auf','für','von','zu','den','im'], t))) + 0,
        |    8 * len(list_filter(toks, t -> list_contains(['the','a','an','of','to','in','and','is','it','that','for','on','was','with','as','at','by','this'], t))) + 1,
        |    8 * len(list_filter(toks, t -> list_contains(['el','la','los','las','de','y','es','un','una','en','que','por','con','para','no','se'], t))) + 2,
        |    8 * len(list_filter(toks, t -> list_contains(['le','la','les','de','des','et','est','un','une','dans','que','pour','pas','sur','avec','au'], t))) + 3,
        |    8 * len(list_filter(toks, t -> list_contains(['il','lo','la','gli','di','e','è','un','una','in','che','per','non','con','su','del'], t))) + 4
        |  ) AS code
        |  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents))""".stripMargin,

    "d_contamination" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, CASE WHEN len(toks) >= 3 THEN list_distinct(list_transform(
        |      range(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
        |    ELSE CAST([] AS VARCHAR[]) END AS s
        |  FROM tk),
        |probe AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id % 41 = 0),
        |corp AS (SELECT doc_id, s FROM sh WHERE doc_id % 41 <> 0),
        |shared AS (
        |  SELECT i.doc_id, count(*) AS n_shared
        |  FROM (SELECT doc_id, unnest(s) AS g FROM corp) i JOIN probe USING (g)
        |  GROUP BY 1)
        |SELECT c.doc_id, coalesce(sh2.n_shared, 0) AS n_shared,
        |       len(c.s) AS n_shingles,
        |       round(CASE WHEN len(c.s) > 0
        |                  THEN CAST(coalesce(sh2.n_shared, 0) AS DOUBLE) / len(c.s)
        |                  ELSE 0.0 END, 6) AS contamination
        |FROM corp c LEFT JOIN shared sh2 USING (doc_id)""".stripMargin,

    // Bloom prefilter + exact recheck is row-identical to the plain check
    // at any fpp — same oracle by construction
    "d_contamination_bloom" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, CASE WHEN len(toks) >= 3 THEN list_distinct(list_transform(
        |      range(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
        |    ELSE CAST([] AS VARCHAR[]) END AS s
        |  FROM tk),
        |probe AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id % 41 = 0),
        |corp AS (SELECT doc_id, s FROM sh WHERE doc_id % 41 <> 0),
        |shared AS (
        |  SELECT i.doc_id, count(*) AS n_shared
        |  FROM (SELECT doc_id, unnest(s) AS g FROM corp) i JOIN probe USING (g)
        |  GROUP BY 1)
        |SELECT c.doc_id, coalesce(sh2.n_shared, 0) AS n_shared,
        |       len(c.s) AS n_shingles,
        |       round(CASE WHEN len(c.s) > 0
        |                  THEN CAST(coalesce(sh2.n_shared, 0) AS DOUBLE) / len(c.s)
        |                  ELSE 0.0 END, 6) AS contamination
        |FROM corp c LEFT JOIN shared sh2 USING (doc_id)""".stripMargin,

    // the pipeline composition: each CTE is the corresponding gated query's
    // oracle verbatim (lang = d_lang_id, qual = d_quality's first three
    // columns, reps = d_dedup_retain's representative ids, gate =
    // d_sample_mix's hash family with salt 'cur:' over lang_pred)
    "d_curation_e2e" -> sqlCurationE2e,

    // fused one-scan variant is row-identical by construction
    "d_curation_fused" -> sqlCurationE2e,


    "d_sample_mix" -> {
      val cps = "list_transform(range(1, length(k) + 1), j -> CAST(unicode(k[j]) AS HUGEINT))"
      // gate multiplier is salt-derived (Curation.saltMult("mix:")) — a plain
      // positive constant, so the oracle rebuilds the exact hash family
      s"""SELECT doc_id, lang FROM (
         |  SELECT doc_id, lang,
         |    ${sqlPoly("cps", 1125899906842597L, Curation.saltMult("mix:"))} % 1048576 AS gate
         |  FROM (SELECT doc_id, lang, $cps AS cps
         |        FROM (SELECT doc_id, lang, CAST(doc_id AS VARCHAR) || 'mix:' AS k
         |              FROM documents)))
         |WHERE gate < CASE lang WHEN 'en' THEN 524288 WHEN 'de' THEN 262144
         |                       WHEN 'fr' THEN 131072 WHEN 'es' THEN 786432
         |                       WHEN 'zh' THEN 1048576 ELSE 65536 END""".stripMargin
    },

    "d_pii_redact" ->
      """SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(
        |    'user' || CAST(doc_id AS VARCHAR) || '@example.org ip 10.0.' ||
        |      CAST(doc_id % 256 AS VARCHAR) || '.17 call +1 555 ' ||
        |      CAST(1000 + doc_id % 9000 AS VARCHAR) || ' ' || text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |    '\+?\d[\d .()-]{6,}\d', '<PHONE>', 'g') AS redacted
        |FROM documents""".stripMargin,

    "d_quality_topk" -> (qualityCteSql +
      """SELECT source, doc_id, quality FROM (
        |  SELECT source, doc_id, quality,
        |         row_number() OVER (PARTITION BY source ORDER BY quality DESC, doc_id) AS rn
        |  FROM q) WHERE rn <= 3""".stripMargin),

    "d_quality_quantile" -> (qualityCteSql +
      """SELECT source, doc_id, quality FROM (
        |  SELECT source, doc_id, quality,
        |         row_number() OVER (PARTITION BY source ORDER BY quality DESC, doc_id) AS rn,
        |         count(*) OVER (PARTITION BY source) AS n
        |  FROM q) WHERE rn <= ceil(0.2 * n)""".stripMargin),

    "d_token_budget" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |    CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens,
        |    (doc_id * 2654435761) % 4294967296 AS h
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, source, n_tokens,
        |    coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS running_before
        |  FROM d)
        |SELECT doc_id, source, n_tokens FROM r
        |WHERE running_before < CASE WHEN source IN ('src0','src1','src2')
        |                            THEN 900 ELSE 600 END""".stripMargin,

    "d_cdc_chunks" -> {
      // boundary AFTER 1-based char position i+7 whenever the Poly64 fold
      // of the window starting at i (8 chars) is 0 mod 64 (64 divides 2^64
      // so HUGEINT-mod equals Java's signed `h & 63`); chunk lengths are
      // diffs of consecutive boundaries, with the string end closing the
      // last chunk. len < 8 → no windows → one whole-string chunk.
      val winCps = "list_transform(range(i, i + 8), j -> CAST(unicode(s[j]) AS HUGEINT))"
      s"""WITH d AS (SELECT doc_id, text AS s, length(text) AS len FROM documents),
         |b AS (SELECT doc_id, len,
         |        list_filter(list_transform(range(1, greatest(len - 7, 0) + 1),
         |          i -> CASE WHEN ${sqlPoly(winCps, 1125899906842597L, 1099511628211L)} % 64 = 0
         |               THEN i + 7 ELSE 0 END), x -> x > 0) AS bs
         |      FROM d WHERE len > 0),
         |cl AS (SELECT doc_id,
         |         CASE WHEN len(bs) > 0 AND bs[len(bs)] = len THEN bs
         |              ELSE list_append(bs, len) END AS bs2 FROM b),
         |ch AS (SELECT doc_id, unnest(list_transform(range(1, len(bs2) + 1),
         |         j -> struct_pack(idx := j - 1,
         |                l := bs2[j] - CASE WHEN j = 1 THEN 0 ELSE bs2[j - 1] END))) AS c
         |       FROM cl)
         |SELECT doc_id, CAST(c.idx AS INT) AS chunk_idx,
         |       CAST(c.l AS BIGINT) AS chunk_len FROM ch""".stripMargin
    },

    "d_cdc_dedup" -> {
      // chunk fingerprints = Poly64 fold of each chunk's code points; chunk
      // spans from the same positional boundary list as d_cdc_chunks
      val winCps = "list_transform(range(i, i + 8), j -> CAST(unicode(s[j]) AS HUGEINT))"
      val chunkCps = "list_transform(range(c.lo + 1, c.hi + 1), j -> CAST(unicode(s[j]) AS HUGEINT))"
      s"""WITH d AS (SELECT doc_id, text AS s, length(text) AS len FROM documents),
         |b AS (SELECT doc_id, s, len,
         |        list_filter(list_transform(range(1, greatest(len - 7, 0) + 1),
         |          i -> CASE WHEN ${sqlPoly(winCps, 1125899906842597L, 1099511628211L)} % 64 = 0
         |               THEN i + 7 ELSE 0 END), x -> x > 0) AS bs
         |      FROM d WHERE len > 0),
         |cl AS (SELECT doc_id, s,
         |         CASE WHEN len(bs) > 0 AND bs[len(bs)] = len THEN bs
         |              ELSE list_append(bs, len) END AS bs2 FROM b),
         |ch AS (SELECT doc_id, s, unnest(list_transform(range(1, len(bs2) + 1),
         |         j -> struct_pack(lo := CASE WHEN j = 1 THEN 0 ELSE bs2[j - 1] END,
         |                          hi := bs2[j]))) AS c FROM cl),
         |keep AS (SELECT DISTINCT doc_id,
         |           ${sqlU2S(sqlPoly(chunkCps, 1125899906842597L, 1099511628211L))} AS fp
         |         FROM ch WHERE c.hi - c.lo >= 16),
         |kept AS (SELECT k.doc_id, k.fp FROM keep k
         |         JOIN (SELECT fp FROM keep GROUP BY fp HAVING count(*) <= $HotDfCap) ok
         |           USING (fp))
         |SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS shared
         |FROM kept x JOIN kept y ON x.fp = y.fp AND x.doc_id < y.doc_id
         |GROUP BY 1, 2""".stripMargin
    },

    "d_quality_winsor" -> (qualityCteSql +
      """SELECT doc_id, least(greatest(quality,
        |    (SELECT quality FROM (SELECT quality,
        |        row_number() OVER (ORDER BY quality) AS rn, count(*) OVER () AS n FROM q)
        |     WHERE rn = greatest(1, CAST(ceil(0.05 * n) AS BIGINT)))),
        |    (SELECT quality FROM (SELECT quality,
        |        row_number() OVER (ORDER BY quality) AS rn, count(*) OVER () AS n FROM q)
        |     WHERE rn = greatest(1, CAST(ceil(0.95 * n) AS BIGINT)))) AS quality_winsor
        |FROM q""".stripMargin),

    "d_weighted_sample" -> {
      val cps = "list_transform(range(1, length(s) + 1), j -> CAST(unicode(s[j]) AS HUGEINT))"
      // u = (Poly64(id || 'ws:'; mult = saltMult) mod 2^52 + 1) / 2^52 —
      // 2^52 divides 2^64 so HUGEINT-mod equals Spark's signed pmod, and
      // the division is exact (power-of-two denominator)
      s"""SELECT doc_id, sample_key FROM (
         |  SELECT doc_id, sample_key,
         |         row_number() OVER (ORDER BY sample_key DESC, doc_id) AS rn
         |  FROM (SELECT doc_id,
         |          CAST(round(ln(((${sqlPoly("cps", 1125899906842597L, Curation.saltMult("ws:"))} % 4503599627370496) + 1)
         |               / 4503599627370496.0) / CAST(n_chars AS DOUBLE) * 1000000) AS BIGINT) AS sample_key
         |        FROM (SELECT doc_id, n_chars, $cps AS cps
         |              FROM (SELECT doc_id, n_chars, CAST(doc_id AS VARCHAR) || 'ws:' AS s
         |                    FROM documents WHERE n_chars > 0))))
         |WHERE rn <= 100""".stripMargin
    },

    "ev_value_quantiles" ->
      """WITH v AS (SELECT event_type AS g, CAST(value AS DOUBLE) AS val,
        |                  row_number() OVER (PARTITION BY event_type ORDER BY value) AS rnk
        |           FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
        |n AS (SELECT g, count(*) AS n FROM v GROUP BY 1),
        |t AS (SELECT g, p, greatest(1, CAST(ceil(p * n) AS BIGINT)) AS rnk
        |      FROM n, unnest([0.25, 0.5, 0.9]) AS u(p))
        |SELECT t.g AS event_type, t.p, v.val AS value
        |FROM t JOIN v USING (g, rnk)""".stripMargin,

    "q6_price_quantiles" ->
      // value at ascending rank max(1, ceil(p*n)) — exact, interpolation-free
      """WITH v AS (SELECT CAST(l_extendedprice AS DOUBLE) AS val,
        |                  row_number() OVER (ORDER BY l_extendedprice) AS rnk
        |           FROM lineitem WHERE l_extendedprice IS NOT NULL),
        |n AS (SELECT count(*) AS n FROM v),
        |t AS (SELECT p, greatest(1, CAST(ceil(p * n.n) AS BIGINT)) AS rnk
        |      FROM n, unnest([0.01, 0.25, 0.5, 0.75, 0.9, 0.99]) AS u(p))
        |SELECT t.p, v.val AS value FROM t JOIN v USING (rnk)""".stripMargin,

    "d_heavy_tokens" ->
      """WITH tk AS (SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
        |            FROM documents)
        |SELECT tok, count(*) AS cnt FROM tk
        |GROUP BY tok HAVING count(*) * 30 > (SELECT count(*) FROM tk)""".stripMargin,

    "d_heavy_by_source" ->
      s"""WITH tk AS (SELECT source,
         |              unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
         |            FROM documents),
         |n AS (SELECT source, count(*) AS n FROM tk GROUP BY source),
         |c AS (SELECT source, tok, count(*) AS cnt FROM tk GROUP BY source, tok)
         |SELECT c.source, c.tok, c.cnt
         |FROM c JOIN n USING (source)
         |WHERE c.cnt * $HeavyBySourcePhiDenom > n.n""".stripMargin,

    // HLL registers: bucket = low 12 bits of mix64(Poly64), rank = leading
    // zeros of the high 52-bit window + 1 (bit length via bin(), no FP log);
    // the xorshift/multiply finalizer CTEs mirror Poly64.mix exactly
    // log-bucket quantile sketch: exact region v < 2^8 keeps v itself;
    // beyond it bucket = (bitlen-8)*128 + top-8-bits — pure integer bit
    // arithmetic (length(bin()) + >>), bit-identical across engines
    "ev_value_sketch" ->
      s"""WITH v AS (SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
         |           FROM events WHERE value IS NOT NULL),
         |b AS (SELECT CASE WHEN v < 0 THEN -1
         |             WHEN v < ${1L << (ValueSketchBits + 1)} THEN v
         |             ELSE (length(bin(v)) - ${ValueSketchBits + 1}) * ${1L << ValueSketchBits}
         |                  + (v >> (length(bin(v)) - ${ValueSketchBits + 1}))
         |             END AS bucket FROM v)
         |SELECT bucket, count(*) AS cnt FROM b GROUP BY bucket""".stripMargin,

    // estimate pipeline in integer SQL: cumulative bucket walk to rank
    // max(1, ceil(p*n)), then the same shift/sub-bucket midpoint decode
    // the Spark side computes (all literals derive from ValueSketchBits).
    // Bucket −1 contract: the Spark decode THROWS on negative inputs (a
    // half-bucketed sketch must not estimate); the oracle walks only
    // buckets ≥ 0 and emits a (p=−1, value=neg-count) sentinel row when
    // negatives exist — either side diverges LOUDLY, never silently.
    "ev_value_sketch_q" -> {
      val s1 = ValueSketchBits; val exact = 1L << (s1 + 1); val sub = 1L << s1
      s"""WITH v AS (SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
         |           FROM events WHERE value IS NOT NULL),
         |b AS (SELECT CASE WHEN v < 0 THEN -1
         |             WHEN v < $exact THEN v
         |             ELSE (length(bin(v)) - ${s1 + 1}) * $sub
         |                  + (v >> (length(bin(v)) - ${s1 + 1}))
         |             END AS bucket FROM v),
         |h AS (SELECT bucket, count(*) AS cnt FROM b WHERE bucket >= 0 GROUP BY bucket),
         |n AS (SELECT sum(cnt) AS n FROM h),
         |c AS (SELECT bucket, sum(cnt) OVER (ORDER BY bucket) AS cum FROM h),
         |t AS (SELECT p, greatest(1, CAST(ceil(p * n.n) AS BIGINT)) AS rk
         |      FROM n, unnest([0.01, 0.25, 0.5, 0.75, 0.9, 0.99]) AS u(p)),
         |pick AS (SELECT t.p, min(c.bucket) AS bucket
         |         FROM t JOIN c ON c.cum >= t.rk GROUP BY t.p),
         |dec AS (SELECT p, bucket, (bucket // $sub) - 1 AS sh,
         |               bucket - ((bucket // $sub) - 1) * $sub AS m FROM pick)
         |SELECT p, CAST(CASE WHEN bucket < $exact THEN bucket
         |          ELSE (m << sh) + ((((m + 1) << sh) - 1 - (m << sh)) >> 1)
         |          END AS BIGINT) AS value
         |FROM dec
         |UNION ALL
         |SELECT -1.0 AS p, count(*) AS value FROM b WHERE bucket = -1
         |HAVING count(*) > 0""".stripMargin
    },

    // per-group twin of ev_value_sketch_q: PARTITION BY event_type on the
    // cumulative walk, per-group n; same literals, same −1 sentinel
    "ev_value_sketch_q_by_type" -> {
      val s1 = ValueSketchBits; val exact = 1L << (s1 + 1); val sub = 1L << s1
      s"""WITH v AS (SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
         |           FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
         |b AS (SELECT event_type, CASE WHEN v < 0 THEN -1
         |             WHEN v < $exact THEN v
         |             ELSE (length(bin(v)) - ${s1 + 1}) * $sub
         |                  + (v >> (length(bin(v)) - ${s1 + 1}))
         |             END AS bucket FROM v),
         |h AS (SELECT event_type, bucket, count(*) AS cnt FROM b
         |      WHERE bucket >= 0 GROUP BY event_type, bucket),
         |n AS (SELECT event_type, sum(cnt) AS n FROM h GROUP BY event_type),
         |c AS (SELECT event_type, bucket,
         |             sum(cnt) OVER (PARTITION BY event_type ORDER BY bucket) AS cum
         |      FROM h),
         |t AS (SELECT n.event_type, p,
         |             greatest(1, CAST(ceil(p * n.n) AS BIGINT)) AS rk
         |      FROM n, unnest([0.01, 0.25, 0.5, 0.75, 0.9, 0.99]) AS u(p)),
         |pick AS (SELECT t.event_type, t.p, min(c.bucket) AS bucket
         |         FROM t JOIN c ON c.event_type = t.event_type AND c.cum >= t.rk
         |         GROUP BY t.event_type, t.p),
         |dec AS (SELECT event_type, p, bucket, (bucket // $sub) - 1 AS sh,
         |               bucket - ((bucket // $sub) - 1) * $sub AS m FROM pick)
         |SELECT event_type, p, CAST(CASE WHEN bucket < $exact THEN bucket
         |          ELSE (m << sh) + ((((m + 1) << sh) - 1 - (m << sh)) >> 1)
         |          END AS BIGINT) AS value
         |FROM dec
         |UNION ALL
         |SELECT '(negative)' AS event_type, -1.0 AS p, count(*) AS value
         |FROM b WHERE bucket = -1 HAVING count(*) > 0""".stripMargin
    },

    "ev_value_sketch_by_type" ->
      s"""WITH v AS (SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
         |           FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
         |b AS (SELECT event_type, CASE WHEN v < 0 THEN -1
         |             WHEN v < ${1L << (ValueSketchBits + 1)} THEN v
         |             ELSE (length(bin(v)) - ${ValueSketchBits + 1}) * ${1L << ValueSketchBits}
         |                  + (v >> (length(bin(v)) - ${ValueSketchBits + 1}))
         |             END AS bucket FROM v)
         |SELECT event_type, bucket, count(*) AS cnt FROM b
         |GROUP BY event_type, bucket""".stripMargin,

    "d_hll_orders" ->
      s"""WITH ks AS (SELECT DISTINCT CAST(l_orderkey AS VARCHAR) AS k
         |            FROM lineitem WHERE l_orderkey IS NOT NULL),
         |hs AS (SELECT ${sqlPoly("cps", 1125899906842597L, 1099511628211L)} AS u
         |       FROM (SELECT list_transform(range(1, length(k) + 1),
         |                      j -> CAST(unicode(k[j]) AS HUGEINT)) AS cps FROM ks)),
         |m1 AS (SELECT (${sqlXorShr("u", 33)} * 6364136223846793005) % $U64 AS u FROM hs),
         |m2 AS (SELECT (${sqlXorShr("u", 29)} * 2685821657736338717) % $U64 AS u FROM m1),
         |m3 AS (SELECT ${sqlXorShr("u", 32)} AS u FROM m2),
         |rv AS (SELECT CAST(u % 4096 AS BIGINT) AS bucket,
         |              CAST(u // 4096 AS BIGINT) AS v FROM m3)
         |SELECT bucket,
         |       CAST(max(CASE WHEN v = 0 THEN 53 ELSE 53 - length(bin(v)) END) AS INTEGER) AS r
         |FROM rv GROUP BY bucket""".stripMargin,

    // PII scrub: same injected fixture, RE2 'g' replaces mirror the JVM
    // regex pass; counts from regexp_extract_all on the SAME intermediate
    "d_pii_scrub" -> {
      val Seq(emailRe, ipRe, phoneRe) = Curation.PiiPatterns.map(_._2)
      val cps = "list_transform(range(1, length(t3) + 1), j -> CAST(unicode(t3[j]) AS HUGEINT))"
      s"""WITH inj AS (SELECT doc_id, text || ' contact user' ||
         |    CAST(doc_id AS VARCHAR) || '@' || source || '.example.com from 10.' ||
         |    CAST(doc_id % 256 AS VARCHAR) || '.0.' || CAST(doc_id % 100 AS VARCHAR) ||
         |    CASE WHEN doc_id % 3 = 0 THEN ' call +1-555-01' ||
         |      lpad(CAST(doc_id % 90 AS VARCHAR), 2, '0') ELSE '' END AS t0
         |  FROM documents),
         |s1 AS (SELECT doc_id, t0,
         |         len(regexp_extract_all(t0, '$emailRe')) AS n_email,
         |         regexp_replace(t0, '$emailRe', '<EMAIL>', 'g') AS t1 FROM inj),
         |s2 AS (SELECT doc_id, n_email,
         |         len(regexp_extract_all(t1, '$ipRe')) AS n_ip,
         |         regexp_replace(t1, '$ipRe', '<IP>', 'g') AS t2 FROM s1),
         |s3 AS (SELECT doc_id, n_email, n_ip,
         |         len(regexp_extract_all(t2, '$phoneRe')) AS n_phone,
         |         regexp_replace(t2, '$phoneRe', '<PHONE>', 'g') AS t3 FROM s2)
         |SELECT doc_id, CAST(n_email AS BIGINT) AS n_email,
         |       CAST(n_ip AS BIGINT) AS n_ip, CAST(n_phone AS BIGINT) AS n_phone,
         |       ${sqlU2S(sqlPoly("cps", 1125899906842597L, 1099511628211L))} AS scrub_fp
         |FROM (SELECT doc_id, n_email, n_ip, n_phone, $cps AS cps FROM s3)""".stripMargin
    },

    // temperature mixing: isqrt via floor(sqrt)+integer correction, floor
    // quotas + largest-remainder top-up — all integer, Σalloc = 10^6
    "d_domain_mix" ->
      """WITH c AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
        |k AS (SELECT source, n_docs,
        |        CAST(floor(sqrt(CAST(n_docs AS DOUBLE))) AS BIGINT) AS k0 FROM c),
        |w AS (SELECT source, n_docs,
        |        CASE WHEN (k0+1)*(k0+1) <= n_docs THEN k0+1
        |             WHEN k0*k0 > n_docs THEN k0-1 ELSE k0 END AS w FROM k),
        |t AS (SELECT source, n_docs, w, sum(w) OVER () AS ws FROM w),
        |a AS (SELECT source, n_docs, w,
        |        (1000000 * w) // ws AS a0, (1000000 * w) % ws AS rem FROM t),
        |r AS (SELECT *, row_number() OVER (ORDER BY rem DESC, source ASC) AS rk,
        |        1000000 - sum(a0) OVER () AS deficit FROM a)
        |SELECT source, n_docs, CAST(w AS BIGINT) AS w,
        |       CAST(a0 + CASE WHEN rk <= deficit THEN 1 ELSE 0 END AS BIGINT) AS alloc
        |FROM r""".stripMargin,

    // hash split: mix64(poly64(id)) >>> 1 mod 1000 thousandth-buckets,
    // membership per (split, source) as count + BIGINT XOR of id-hashes
    "d_split" ->
      s"""WITH ks AS (SELECT source, CAST(doc_id AS VARCHAR) AS k FROM documents),
         |hs AS (SELECT source, ${sqlPoly("cps", 1125899906842597L, 1099511628211L)} AS u
         |       FROM (SELECT source, list_transform(range(1, length(k) + 1),
         |                      j -> CAST(unicode(k[j]) AS HUGEINT)) AS cps FROM ks)),
         |m1 AS (SELECT source, (${sqlXorShr("u", 33)} * 6364136223846793005) % $U64 AS u FROM hs),
         |m2 AS (SELECT source, (${sqlXorShr("u", 29)} * 2685821657736338717) % $U64 AS u FROM m1),
         |m3 AS (SELECT source, ${sqlXorShr("u", 32)} AS u FROM m2),
         |b AS (SELECT source, ${sqlU2S("u")} AS h,
         |             CAST((u // 2) % 1000 AS BIGINT) AS bucket FROM m3),
         |s AS (SELECT source, h, CASE WHEN bucket < 900 THEN 'train'
         |        WHEN bucket < 950 THEN 'valid' ELSE 'test' END AS split FROM b)
         |SELECT split, source, count(*) AS n, bit_xor(h) AS member_fp
         |FROM s GROUP BY split, source""".stripMargin,

    // repeated spans: positional n-gram stream (gram STRINGS — the Spark
    // side's xxhash64 is an internal shuffle-width choice, equality is the
    // semantics), hot = df >= minDocs distinct docs, per-doc islands merge
    // with the same gap-<=-n rule
    "d_repeated_spans" -> {
      val n = RepeatedSpanN
      val terms = (0 until n).map(j => s"toks[i+$j]").mkString(" || ' ' || ")
      s"""WITH t1 AS (SELECT doc_id,
         |  string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
         |  FROM documents),
         |g AS (SELECT doc_id, CAST(u.i AS BIGINT) - 1 AS pos, $terms AS gm
         |      FROM t1, unnest(range(1, len(toks) - $n + 2)) AS u(i)
         |      WHERE len(toks) >= $n),
         |hot AS (SELECT gm FROM g GROUP BY gm
         |        HAVING count(DISTINCT doc_id) >= $RepeatedSpanMinDocs),
         |m AS (SELECT doc_id, pos FROM g JOIN hot USING (gm)),
         |s AS (SELECT doc_id, pos,
         |        CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= $n
         |             THEN 0 ELSE 1 END AS brk FROM m),
         |gr AS (SELECT doc_id, pos,
         |         sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM s)
         |SELECT doc_id, CAST(min(pos) AS BIGINT) AS start_tok,
         |       CAST(max(pos) + $n - 1 AS BIGINT) AS end_tok,
         |       count(*) AS n_grams
         |FROM gr GROUP BY doc_id, grp""".stripMargin
    },

    // incremental spans = full-corpus spans restricted to the delta docs
    // (hot grams computed over EVERYTHING, marks taken only on delta)
    "d_repeated_spans_incr" -> {
      val n = RepeatedSpanN
      val terms = (0 until n).map(j => s"toks[i+$j]").mkString(" || ' ' || ")
      s"""WITH t1 AS (SELECT doc_id,
         |  string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
         |  FROM documents),
         |g AS (SELECT doc_id, CAST(u.i AS BIGINT) - 1 AS pos, $terms AS gm
         |      FROM t1, unnest(range(1, len(toks) - $n + 2)) AS u(i)
         |      WHERE len(toks) >= $n),
         |hot AS (SELECT gm FROM g GROUP BY gm
         |        HAVING count(DISTINCT doc_id) >= $RepeatedSpanMinDocs),
         |m AS (SELECT doc_id, pos FROM g JOIN hot USING (gm)
         |      WHERE doc_id % 4 = 0),
         |s AS (SELECT doc_id, pos,
         |        CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= $n
         |             THEN 0 ELSE 1 END AS brk FROM m),
         |gr AS (SELECT doc_id, pos,
         |         sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM s)
         |SELECT doc_id, CAST(min(pos) AS BIGINT) AS start_tok,
         |       CAST(max(pos) + $n - 1 AS BIGINT) AS end_tok,
         |       count(*) AS n_grams
         |FROM gr GROUP BY doc_id, grp""".stripMargin
    },

    // any-repeat spans: same gram stream over the injected corpus, hot =
    // count(*) >= 2 OCCURRENCES anywhere (within-doc included — Lee et
    // al.'s literal criterion), same islands merge
    "d_repeated_spans_any" -> {
      val n = RepeatedSpanN
      val terms = (0 until n).map(j => s"toks[i+$j]").mkString(" || ' ' || ")
      s"""WITH src AS ($anyRepeatSrc),
         |t1 AS (SELECT doc_id,
         |  string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
         |  FROM src),
         |g AS (SELECT doc_id, CAST(u.i AS BIGINT) - 1 AS pos, $terms AS gm
         |      FROM t1, unnest(range(1, len(toks) - $n + 2)) AS u(i)
         |      WHERE len(toks) >= $n),
         |hot AS (SELECT gm FROM g GROUP BY gm
         |        HAVING count(*) >= $RepeatedSpanMinDocs),
         |m AS (SELECT doc_id, pos FROM g JOIN hot USING (gm)),
         |s AS (SELECT doc_id, pos,
         |        CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= $n
         |             THEN 0 ELSE 1 END AS brk FROM m),
         |gr AS (SELECT doc_id, pos,
         |         sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM s)
         |SELECT doc_id, CAST(min(pos) AS BIGINT) AS start_tok,
         |       CAST(max(pos) + $n - 1 AS BIGINT) AS end_tok,
         |       count(*) AS n_grams
         |FROM gr GROUP BY doc_id, grp""".stripMargin
    },

    // applied any-repeat mask over the same injected corpus
    "d_repeated_spans_any_removed" ->
      spanMaskOracle(anyRepeatHotMk, srcCte = anyRepeatSrc),

    // applied span mask: covered positions = every [start, start+n-1] of a
    // marked gram start; anti-join the token stream, rebuild in pos order,
    // Poly64+mix fingerprint (empty string for fully-covered/NULL docs)
    "d_repeated_spans_removed" -> spanMaskOracle(removeEverywhereHotMk),

    // keep-one-copy mask: per hot gram, the first corpus occurrence
    // (min doc_id*2^20+pos, the lineDedup ord pack) is the keeper and is
    // NOT masked; only non-keeper occurrences mark positions
    "d_repeated_spans_keep" -> spanMaskOracle(keepOneHotMk),

    // keep-one cost-visible corpus aggregate (same anti-prune shape as
    // d_repeated_spans_mask; SAME hot/mk block as the per-doc gate)
    "d_repeated_spans_keep_agg" ->
      s"""SELECT count(*) AS n_docs, CAST(sum(n_kept) AS BIGINT) AS tot_kept,
         |       bit_xor(text_fp) AS mask_fp
         |FROM (${spanMaskOracle(keepOneHotMk)})""".stripMargin,

    // span decontamination: probe grams (eval slice + injected windows)
    // replayed as strings, masked corpus = the non-eval docs
    "d_decontam_spans" -> spanMaskOracle(decontamHotMk, srcCte = decontamSrc),

    // decontamination cost-visible corpus aggregate (same anti-prune
    // shape as d_repeated_spans_mask; SAME hot/mk + source as the gate)
    "d_decontam_spans_agg" ->
      s"""SELECT count(*) AS n_docs, CAST(sum(n_kept) AS BIGINT) AS tot_kept,
         |       bit_xor(text_fp) AS mask_fp
         |FROM (${spanMaskOracle(decontamHotMk, srcCte = decontamSrc)})""".stripMargin,

    // corpus-level mask aggregate over the remove-everywhere result (the
    // SAME hot/mk block by construction — the two gates must test one
    // semantics)
    "d_repeated_spans_mask" ->
      s"""SELECT count(*) AS n_docs, CAST(sum(n_kept) AS BIGINT) AS tot_kept,
         |       bit_xor(text_fp) AS mask_fp
         |FROM (${spanMaskOracle(removeEverywhereHotMk)})""".stripMargin,

    // Line dedup: re-wrap the corpus into 2-token lines, keep each distinct
    // line's first (doc_id, pos) occurrence, fingerprint the rebuilt text
    "d_line_dedup" -> {
      val lineCps = "list_transform(range(1, length(line) + 1), j -> CAST(unicode(line[j]) AS HUGEINT))"
      val txtCps = "list_transform(range(1, length(txt) + 1), j -> CAST(unicode(txt[j]) AS HUGEINT))"
      s"""WITH d AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tk
         |           FROM documents),
         |l AS (SELECT doc_id, list_transform(range(0, (len(tk) + 1) // 2),
         |        i -> array_to_string(list_slice(tk, i * 2 + 1, i * 2 + 2), ' ')) AS lines
         |      FROM d),
         |ln AS (SELECT doc_id, i, lines[i] AS line
         |       FROM (SELECT doc_id, lines, unnest(range(1, len(lines) + 1)) AS i FROM l)),
         |h AS (SELECT doc_id, i, line,
         |             ${sqlPoly("cps", 1125899906842597L, 1099511628211L)} AS lh,
         |             doc_id * 1048576 + (i - 1) AS ord
         |      FROM (SELECT doc_id, i, line, $lineCps AS cps FROM ln)),
         |w AS (SELECT lh, min(ord) AS wo FROM h GROUP BY lh),
         |k AS (SELECT doc_id, i, line FROM h JOIN w USING (lh) WHERE ord = wo),
         |r AS (SELECT doc_id, count(*) AS n_kept,
         |             string_agg(line, chr(10) ORDER BY i) AS txt
         |      FROM k GROUP BY doc_id),
         |f AS (SELECT l.doc_id AS doc_id, len(l.lines) AS n_lines,
         |             coalesce(r.n_kept, 0) AS n_kept, coalesce(r.txt, '') AS txt
         |      FROM l LEFT JOIN r USING (doc_id))
         |SELECT doc_id, CAST(n_kept AS BIGINT) AS n_kept,
         |       CAST(n_lines - n_kept AS BIGINT) AS n_dropped,
         |       ${sqlU2S(sqlPoly("txtCps", 1125899906842597L, 1099511628211L))} AS text_fp
         |FROM (SELECT doc_id, n_lines, n_kept, $txtCps AS txtCps FROM f)""".stripMargin
    },

    // CMS counters: g_i = h1 + i·h2 (Carter–Wegman over the two Poly64
    // members), mix64-finalized, low 11 bits = bucket; counts per (row,
    // bucket). The CTE chain carries the row index i through the finalizer.
    "d_cms_tokens" ->
      s"""WITH tk AS (SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
         |            FROM documents),
         |hs AS (SELECT ${sqlPoly("cps", 1125899906842597L, 1099511628211L)} AS h1,
         |              ${sqlPoly("cps", 2065775093L, 6364136223846793005L)} AS h2
         |       FROM (SELECT list_transform(range(1, length(tok) + 1),
         |                      j -> CAST(unicode(tok[j]) AS HUGEINT)) AS cps FROM tk)),
         |ex AS (SELECT i, (h1 + CAST(i AS HUGEINT) * h2) % $U64 AS u
         |       FROM hs, range(0, 4) t(i)),
         |m1 AS (SELECT i, (${sqlXorShr("u", 33)} * 6364136223846793005) % $U64 AS u FROM ex),
         |m2 AS (SELECT i, (${sqlXorShr("u", 29)} * 2685821657736338717) % $U64 AS u FROM m1),
         |m3 AS (SELECT i, ${sqlXorShr("u", 32)} AS u FROM m2)
         |SELECT CAST(i AS INTEGER) AS "row", CAST(u % 2048 AS BIGINT) AS bucket,
         |       count(*) AS cnt
         |FROM m3 GROUP BY i, u % 2048""".stripMargin,

    // per-source HLL registers: p=10 ⇒ bucket = low 10 bits, rank over the
    // high 54-bit window, max rank 55; source carried through the CTE chain
    "d_hll_by_source" ->
      s"""WITH tk AS (SELECT source,
         |              unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
         |            FROM documents),
         |hs AS (SELECT source, ${sqlPoly("cps", 1125899906842597L, 1099511628211L)} AS u
         |       FROM (SELECT source, list_transform(range(1, length(tok) + 1),
         |                      j -> CAST(unicode(tok[j]) AS HUGEINT)) AS cps FROM tk)),
         |m1 AS (SELECT source, (${sqlXorShr("u", 33)} * 6364136223846793005) % $U64 AS u FROM hs),
         |m2 AS (SELECT source, (${sqlXorShr("u", 29)} * 2685821657736338717) % $U64 AS u FROM m1),
         |m3 AS (SELECT source, ${sqlXorShr("u", 32)} AS u FROM m2),
         |rv AS (SELECT source, CAST(u % 1024 AS BIGINT) AS bucket,
         |              CAST(u // 1024 AS BIGINT) AS v FROM m3)
         |SELECT source, bucket,
         |       CAST(max(CASE WHEN v = 0 THEN 55 ELSE 55 - length(bin(v)) END) AS INTEGER) AS r
         |FROM rv GROUP BY source, bucket""".stripMargin,

    "d_hll_union" ->
      s"""WITH tk AS (SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
         |            FROM documents),
         |hs AS (SELECT ${sqlPoly("cps", 1125899906842597L, 1099511628211L)} AS u
         |       FROM (SELECT list_transform(range(1, length(tok) + 1),
         |                      j -> CAST(unicode(tok[j]) AS HUGEINT)) AS cps FROM tk)),
         |m1 AS (SELECT (${sqlXorShr("u", 33)} * 6364136223846793005) % $U64 AS u FROM hs),
         |m2 AS (SELECT (${sqlXorShr("u", 29)} * 2685821657736338717) % $U64 AS u FROM m1),
         |m3 AS (SELECT ${sqlXorShr("u", 32)} AS u FROM m2),
         |rv AS (SELECT CAST(u % 1024 AS BIGINT) AS bucket,
         |              CAST(u // 1024 AS BIGINT) AS v FROM m3)
         |SELECT bucket,
         |       CAST(max(CASE WHEN v = 0 THEN 55 ELSE 55 - length(bin(v)) END) AS INTEGER) AS r
         |FROM rv GROUP BY bucket""".stripMargin,

    "ev_conversion_time" ->
      """WITH ev AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |s1 AS (SELECT user_id, min(ts) AS t1 FROM ev WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(s1.t1) AS t1, min(e.ts) AS t2
        |       FROM ev e JOIN s1 USING (user_id)
        |       WHERE e.event_type = 'purchase' AND e.ts > s1.t1 GROUP BY 1),
        |d AS (SELECT CAST(epoch_us(t2) - epoch_us(t1) AS DOUBLE) AS val,
        |             row_number() OVER (ORDER BY epoch_us(t2) - epoch_us(t1)) AS rnk
        |      FROM s2),
        |n AS (SELECT count(*) AS n FROM d),
        |t AS (SELECT p, greatest(1, CAST(ceil(p * n.n) AS BIGINT)) AS rnk
        |      FROM n, unnest([0.25, 0.5, 0.9]) AS u(p))
        |SELECT t.p, d.val AS value FROM t JOIN d USING (rnk)""".stripMargin,

    "ev_histogram" ->
      """SELECT event_type,
        |       CAST(least(greatest(floor(value * 32 / 500), 0), 31) AS BIGINT) AS bucket,
        |       count(*) AS n
        |FROM events GROUP BY 1, 2""".stripMargin,

    // shared-shingle coverage: distinct 3-gram shingles per doc (same CTE
    // family as the contamination oracles), doc-frequency > 1 ⇒ shared
    "d_shared_coverage" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
        |  FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(toks) - 1),
        |         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS g
        |       FROM tk WHERE len(toks) >= 3),
        |nd AS (SELECT g, count(*) AS ndocs FROM sh GROUP BY g),
        |per AS (SELECT doc_id, count(*) AS n_shingles,
        |               sum(CASE WHEN ndocs > 1 THEN 1 ELSE 0 END) AS n_shared
        |        FROM sh JOIN nd USING (g) GROUP BY doc_id)
        |SELECT d.doc_id,
        |       CAST(coalesce(n_shingles, 0) AS BIGINT) AS n_shingles,
        |       CAST(coalesce(n_shared, 0) AS BIGINT) AS n_shared,
        |       CAST(CASE WHEN coalesce(n_shingles, 0) > 0
        |            THEN (coalesce(n_shared, 0) * 1000000) // n_shingles
        |            ELSE 0 END AS BIGINT) AS shared_ppm
        |FROM documents d LEFT JOIN per USING (doc_id)""".stripMargin,

    // dup matrix: group key replayed as the normalized string itself
    // (Spark groups on its Poly64 fingerprint — identical partition absent
    // collision, the family-wide convention); the injection prologue
    // mirrors the Spark side exactly (every 50th doc → '<source>_mirror',
    // every 100th → same-source twin)
    "d_dup_matrix" ->
      """WITH docs AS (
        |  SELECT source, text FROM documents
        |  UNION ALL
        |  SELECT source || '_mirror' AS source, text
        |  FROM documents WHERE doc_id % 50 = 0
        |  UNION ALL
        |  SELECT source, text FROM documents WHERE doc_id % 100 = 0),
        |g AS (
        |  SELECT regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS k,
        |         source, count(*) AS c
        |  FROM docs GROUP BY 1, 2),
        |x AS (
        |  SELECT a.source AS src_a, b.source AS src_b, a.c * b.c AS p
        |  FROM g a JOIN g b ON a.k = b.k AND a.source < b.source
        |  UNION ALL
        |  SELECT source, source, c * (c - 1) // 2 FROM g)
        |SELECT src_a, src_b, CAST(sum(p) AS BIGINT) AS n_pairs
        |FROM x GROUP BY 1, 2 HAVING sum(p) > 0""".stripMargin,

    "d_global_grams" ->
      """WITH tk AS (
        |  SELECT string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents),
        |g AS (SELECT unnest(list_transform(range(1, len(toks) - 1),
        |        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS gram
        |      FROM tk WHERE len(toks) >= 3),
        |c AS (SELECT gram, count(*) AS cnt FROM g GROUP BY 1)
        |SELECT gram, CAST(cnt AS BIGINT) AS cnt FROM (
        |  SELECT gram, cnt, row_number() OVER (ORDER BY cnt DESC, gram) AS rn FROM c)
        |WHERE rn <= 20""".stripMargin,

    "d_jsonl_roundtrip" -> docRoundtripOracle,

    "d_csv_roundtrip" -> docRoundtripOracle,

    "d_orc_roundtrip" -> docRoundtripOracle,

    "d_partitioned_roundtrip" -> docRoundtripOracle,

    "d_dedup_report" -> dedupReportOracleSql,

    // duplicated-span coverage: window strings replayed literally (Spark
    // counts their xxhash64 — identical counts absent collision, the
    // family-wide convention); same interval-union window arithmetic
    "d_span_coverage" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
        |  FROM documents),
        |base AS (SELECT doc_id, toks,
        |           CASE WHEN toks IS NULL THEN 0 ELSE len(toks) END AS n_tokens FROM tk),
        |w AS (SELECT doc_id, unnest(list_transform(range(1, n_tokens - 14),
        |        i -> {'pos': i, 'win': array_to_string(toks[i:i+15], ' ')})) AS s
        |      FROM base WHERE n_tokens >= 16),
        |w2 AS (SELECT doc_id, s.pos AS pos, s.win AS win FROM w),
        |c AS (SELECT win FROM w2 GROUP BY win HAVING count(*) >= 2),
        |d AS (SELECT doc_id, pos FROM w2 JOIN c USING (win)),
        |u AS (SELECT doc_id, pos,
        |        max(pos + 15) OVER (PARTITION BY doc_id ORDER BY pos
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
        |      FROM d),
        |per AS (SELECT doc_id, sum(CASE WHEN prev_end IS NULL THEN 16
        |          ELSE greatest(0, least(16, pos + 15 - prev_end)) END) AS dup_tokens
        |        FROM u GROUP BY doc_id)
        |SELECT b.doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |       CAST(coalesce(dup_tokens, 0) AS BIGINT) AS dup_tokens,
        |       CAST(coalesce(dup_tokens, 0) * 1000000 // greatest(n_tokens, 1) AS BIGINT) AS dup_ppm
        |FROM base b LEFT JOIN per USING (doc_id)""".stripMargin,

    // containment: same 3-gram shingle CTE family as d_ngram_pairs; both
    // directions of each intersecting pair with per-side denominators.
    // Candidate pairs are restricted to those sharing >=1 RARE shingle
    // (df <= $HotDfCap, interpolated from the SAME constant the Spark query
    // passes to Dedup.containmentPairs — the cut cannot silently diverge);
    // containment values themselves are exact over the full shingle sets.
    "d_containment" ->
      s"""WITH sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    range(1, greatest(len(toks) - 2, 1) + 1),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS s
        |  FROM (SELECT doc_id,
        |          string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
        |        FROM documents)
        |  WHERE len(toks) >= 3),
        |ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
        |rare AS (SELECT doc_id, g FROM ex
        |         WHERE g IN (SELECT g FROM ex GROUP BY g HAVING count(*) <= $HotDfCap)),
        |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        |         FROM rare x JOIN rare y USING (g) WHERE x.doc_id < y.doc_id),
        |c AS (
        |  SELECT a, b,
        |         len(list_intersect(x.s, y.s)) AS common,
        |         len(x.s) AS sza, len(y.s) AS szb
        |  FROM cand JOIN sh x ON x.doc_id = cand.a JOIN sh y ON y.doc_id = cand.b)
        |SELECT src, dst, round(containment, 6) AS containment FROM (
        |  SELECT a AS src, b AS dst, CAST(common AS DOUBLE) / sza AS containment FROM c
        |  UNION ALL
        |  SELECT b AS src, a AS dst, CAST(common AS DOUBLE) / szb AS containment FROM c)
        |WHERE containment >= 0.4""".stripMargin,

    // Gopher rules: rowwise metric + flag replay (symbol hits = '#' chars
    // + non-overlapping '...' runs + unicode ellipses)
    "d_gopher_rules" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END AS n_words,
        |    length(trim(text)) AS chars,
        |    string_split_regex(lower(trim(text)), '\s+') AS toks,
        |    length(trim(text)) - length(replace(trim(text), '#', '')) AS hashes,
        |    (length(trim(text)) - length(replace(trim(text), '...', ''))) / 3 AS dotell,
        |    length(trim(text)) - length(replace(trim(text), '…', '')) AS uniell
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
        |    round(CASE WHEN n_words > 0
        |      THEN (chars - (n_words - 1)) * 1.0 / n_words ELSE 0 END, 6) AS mean_word_len,
        |    round(CASE WHEN n_words > 0
        |      THEN len(list_filter(toks, w -> regexp_matches(w, '[a-z]'))) * 1.0 / n_words
        |      ELSE 0 END, 6) AS frac_alpha,
        |    round(CASE WHEN n_words > 0
        |      THEN (hashes + dotell + uniell) * 1.0 / n_words ELSE 0 END, 6) AS symbol_ratio,
        |    CAST(CASE WHEN n_words > 0 THEN len(list_intersect(list_distinct(toks),
        |      ['the','be','to','of','and','that','have','with'])) ELSE 0 END AS BIGINT) AS stop_hits
        |  FROM m)
        |SELECT *,
        |  CAST(ok_words + ok_mwl + ok_symbol + ok_alpha + ok_stop = 5 AS INTEGER) AS keep
        |FROM (SELECT *,
        |  CAST(n_words BETWEEN 50 AND 100000 AS INTEGER) AS ok_words,
        |  CAST(mean_word_len BETWEEN 3.0 AND 10.0 AS INTEGER) AS ok_mwl,
        |  CAST(symbol_ratio < 0.1 AS INTEGER) AS ok_symbol,
        |  CAST(frac_alpha > 0.8 AS INTEGER) AS ok_alpha,
        |  CAST(stop_hits >= 2 AS INTEGER) AS ok_stop
        |  FROM r)""".stripMargin,

    // C4 page flags: the sentence wrap + tail injections replayed, then
    // the word-overlap / substring / sentence-count rules in plain SQL
    "d_c4_filter" ->
      s"""WITH ${c4WrapSql("' '")},
         |inj AS (SELECT doc_id, t0
         |    || CASE WHEN doc_id % 31 = 0 THEN ' badger.' ELSE '' END
         |    || CASE WHEN doc_id % 37 = 0 THEN ' lorem ipsum.' ELSE '' END
         |    || CASE WHEN doc_id % 43 = 0 THEN ' { x }' ELSE '' END AS text FROM w),
         |f AS (SELECT doc_id,
         |    len(list_intersect(string_split(regexp_replace(lower(text), '[^a-z0-9'']+', ' ', 'g'), ' '),
         |                       ['badger', 'mushroom'])) > 0 AS bad,
         |    contains(lower(text), 'lorem ipsum') AS lor,
         |    contains(lower(text), '{') AS brc,
         |    length(text) - length(regexp_replace(text, '[.!?]', '', 'g')) AS ns
         |  FROM inj)
         |SELECT doc_id, CAST(bad AS INTEGER) AS has_bad_word,
         |       CAST(lor AS INTEGER) AS has_lorem,
         |       CAST(brc AS INTEGER) AS has_brace,
         |       CAST(ns AS BIGINT) AS n_sentences,
         |       CAST(NOT bad AND NOT lor AND NOT brc AND ns >= 3 AS INTEGER) AS keep
         |FROM f""".stripMargin,

    // C4 line rules: newline wrap + injected failure lines, list_filter
    // replays the rowwise keep predicate, Poly64 of the rebuilt text
    "d_c4_lines" ->
      s"""WITH ${c4WrapSql("chr(10)")},
         |inj AS (SELECT doc_id, t0
         |    || CASE WHEN doc_id % 31 = 0 THEN chr(10) || 'click here now no punct' ELSE '' END
         |    || CASE WHEN doc_id % 37 = 0 THEN chr(10) || 'enable javascript support on your browser.' ELSE '' END
         |    || CASE WHEN doc_id % 43 = 0 THEN chr(10) || 'tiny line.' ELSE '' END AS text FROM w),
         |lf AS (SELECT doc_id, len(string_split(text, chr(10))) AS n_lines,
         |    list_filter(string_split(text, chr(10)), l ->
         |      regexp_matches(trim(l), '[.!?"]$$')
         |      AND len(string_split_regex(trim(l), '\\s+')) >= 5
         |      AND NOT len(list_intersect(
         |            string_split(regexp_replace(lower(trim(l)), '[^a-z0-9'']+', ' ', 'g'), ' '),
         |            ['javascript'])) > 0) AS kept
         |  FROM inj),
         |r AS (SELECT doc_id, len(kept) AS n_kept,
         |             n_lines - len(kept) AS n_dropped,
         |             array_to_string(kept, chr(10)) AS txt FROM lf),
         |hs AS (SELECT doc_id, n_kept, n_dropped,
         |         ${sqlPoly("cps", 1125899906842597L, 1099511628211L)} AS u
         |       FROM (SELECT doc_id, n_kept, n_dropped,
         |               list_transform(range(1, length(txt) + 1),
         |                 j -> CAST(unicode(txt[j]) AS HUGEINT)) AS cps FROM r))
         |SELECT doc_id, CAST(n_kept AS BIGINT) AS n_kept,
         |       CAST(n_dropped AS BIGINT) AS n_dropped, ${sqlU2S("u")} AS text_fp
         |FROM hs""".stripMargin,

    // C4 3-sentence-span keep-one dedup: window strings joined by newline
    // replay the GramHash window equality; keeper = min packed ordinal
    // (the lineDedup 2^20 pack); non-keeper windows cover [pos, pos+2];
    // anti-join the sentence stream, rebuild, Poly64+mix64 fingerprint
    "d_c4_span_dedup" -> c4SpanDedupOracle,
    "d_c4_span_sent" -> c4SpanSentOracle,

    // cost-visible aggregate over the SAME oracle body (string-concat, not
    // stripMargin: the inner oracle's `||` continuation lines would lose a
    // pipe to a post-interpolation margin strip)
    "d_c4_span_agg" ->
      ("SELECT count(*) AS n_docs, CAST(sum(n_kept) AS BIGINT) AS tot_kept,\n" +
        "       bit_xor(text_fp) AS mask_fp\n" +
        s"FROM ($c4SpanDedupOracle)"),

    // any-repeat mask cost aggregate (same hot/mk + injected source as
    // the per-doc gate)
    "d_repeated_spans_any_agg" ->
      s"""SELECT count(*) AS n_docs, CAST(sum(n_kept) AS BIGINT) AS tot_kept,
         |       bit_xor(text_fp) AS mask_fp
         |FROM (${spanMaskOracle(anyRepeatHotMk, srcCte = anyRepeatSrc)})""".stripMargin,

    // BM25: DuckDB replays the same rounded-score-then-doc_id ranking
    "d_bm25_top" ->
      """WITH dl AS (
        |  SELECT doc_id,
        |         CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 0
        |              ELSE len(string_split_regex(trim(text), '\s+')) END AS dl
        |  FROM documents),
        |stats AS (SELECT count(*) AS n, avg(CAST(dl AS DOUBLE)) AS avgdl FROM dl),
        |tk AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tk
        |       WHERE term IN ('spark', 'join', 'window') GROUP BY 1, 2),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |scored AS (
        |  SELECT term, doc_id,
        |         round(ln(1 + (n - df + 0.5) / (df + 0.5)) *
        |               (tf * 2.2) /
        |               (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)), 6) AS bm25
        |  FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats)
        |SELECT term, doc_id, bm25, rank FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY term ORDER BY bm25 DESC, doc_id) AS rank
        |  FROM scored) WHERE rank <= 5""".stripMargin,

    "d_hybrid_rrf" ->
      """WITH dl AS (
        |  SELECT doc_id,
        |         CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 0
        |              ELSE len(string_split_regex(trim(text), '\s+')) END AS dl
        |  FROM documents),
        |stats AS (SELECT count(*) AS n, avg(CAST(dl AS DOUBLE)) AS avgdl FROM dl),
        |tk AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tk
        |       WHERE term IN ('spark', 'join', 'window') GROUP BY 1, 2),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |scored AS (
        |  SELECT term, doc_id,
        |         round(ln(1 + (n - df + 0.5) / (df + 0.5)) *
        |               (tf * 2.2) /
        |               (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)), 6) AS bm25
        |  FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats),
        |lexs AS (SELECT doc_id, sum(CAST(round(bm25 * 1000000) AS BIGINT)) AS score
        |         FROM scored GROUP BY 1),
        |lex AS (SELECT doc_id AS id, rank_a FROM (
        |  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rank_a
        |  FROM lexs) WHERE rank_a <= 50),
        |v AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |qv AS (SELECT e AS q FROM v WHERE id = 0),
        |dn AS (SELECT v.id,
        |         list_dot_product(v.e, qv.q) /
        |         (sqrt(list_dot_product(v.e, v.e)) * sqrt(list_dot_product(qv.q, qv.q))) AS cos
        |       FROM v, qv),
        |den AS (SELECT id, rank_b FROM (
        |  SELECT id, row_number() OVER (ORDER BY cos DESC, id) AS rank_b FROM dn)
        |  WHERE rank_b <= 50)
        |SELECT coalesce(l.id, d.id) AS doc_id,
        |       coalesce(l.rank_a, 0) AS lex_rank,
        |       coalesce(d.rank_b, 0) AS dense_rank,
        |       coalesce(1000000 // (60 + l.rank_a), 0)
        |         + coalesce(1000000 // (60 + d.rank_b), 0) AS rrf_micro
        |FROM lex l FULL OUTER JOIN den d ON l.id = d.id""".stripMargin,

    "d_bpe_merges" -> bpeOracleSql(6),

    "d_bpe_tokens" -> bpeOracleSql(6, Some {
      val cps = "list_transform(range(1, length(s) + 1), j -> CAST(unicode(s[j]) AS HUGEINT))"
      s"""SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_symbols,
         |  ${sqlU2S(sqlPoly("cps", 1125899906842597L, 1099511628211L))} AS sym_fp
         |FROM (SELECT doc_id, tk, $cps AS cps
         |      FROM (SELECT doc_id, tk, array_to_string(tk, ' ') AS s FROM s6))""".stripMargin
    }),

    "d_embed_gram" ->
      """SELECT CAST(i AS INTEGER) AS i, CAST(j AS INTEGER) AS j,
        |  CAST(sum(CAST(floor(CAST(e[i] AS DOUBLE) * CAST(e[j] AS DOUBLE)
        |                      * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS s_micro
        |FROM (SELECT embedding AS e FROM embeddings WHERE embedding IS NOT NULL),
        |     range(1, 65) t1(i), range(1, 65) t2(j)
        |WHERE j >= i GROUP BY i, j""".stripMargin,

    "d_url_canon" ->
      """WITH u AS (SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN
        |    'HTTPS://WWW.' || source || '.Example.COM:443/Path/' ||
        |    CAST(doc_id % 3 AS VARCHAR) || '?utm_source=feed&b=2&a=1&gclid=x&z=9#frag'
        |  ELSE 'http://' || source || '.example.com:80?ref=abc&q=term#x' END AS url
        |  FROM documents),
        |c AS (SELECT doc_id,
        |  lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |  lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS hostport,
        |  regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS rawpath,
        |  regexp_extract(url, '\?([^#]*)', 1) AS q0
        |  FROM u),
        |h AS (SELECT doc_id, scheme,
        |  regexp_replace(CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
        |       WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
        |       ELSE hostport END, '^www\.', '') AS host,
        |  CASE WHEN rawpath = '' THEN '/' ELSE rawpath END AS path,
        |  array_to_string(list_sort(list_filter(string_split(q0, '&'),
        |    p -> length(p) > 0 AND NOT regexp_matches(p,
        |           '^(utm_[^=]*|gclid|fbclid|msclkid|ref)(=|$)'))), '&') AS q
        |  FROM c)
        |SELECT doc_id,
        |  CASE WHEN scheme = '' OR host = '' THEN NULL ELSE
        |    scheme || '://' || host || path ||
        |    CASE WHEN length(q) > 0 THEN '?' || q ELSE '' END END AS canon_url,
        |  CASE WHEN len(string_split(host, '.')) >= 2 THEN
        |    string_split(host, '.')[-2] || '.' || string_split(host, '.')[-1]
        |  ELSE host END AS domain
        |FROM h""".stripMargin,

    "d_nfc" -> {
      val cps = "list_transform(range(1, length(t) + 1), j -> CAST(unicode(t[j]) AS HUGEINT))"
      s"""WITH x AS (SELECT doc_id,
         |  nfc_normalize(text || ' cafe' || chr(769) || ' caf' || chr(233) ||
         |                ' stra' || chr(223) || 'e') AS t
         |  FROM documents)
         |SELECT doc_id, ${sqlU2S(sqlPoly("cps", 1125899906842597L, 1099511628211L))} AS norm_fp,
         |       CAST(length(t) AS BIGINT) AS n_cp
         |FROM (SELECT doc_id, t, $cps AS cps FROM x)""".stripMargin
    },

    "d_mojibake" -> {
      // literals built from codepoints so the Scala→JSON→DuckDB path never
      // depends on source-file encoding: â=226 €=8364 œ=339 Ã=195 ©=169
      // ï=239 ¿=191 ½=189 é=233 Â=194
      val damaged = "' ' || chr(226)||chr(8364)||chr(339) || 'smart' || " +
        "chr(226)||chr(8364) || ' quotes ' || chr(195)||chr(169) || 't' || " +
        "chr(195)||chr(169) || ' ' || chr(239)||chr(191)||chr(189)"
      val clean = "' clean caf' || chr(233) || ' text'"
      val pat = "chr(195)||'|'||chr(194)||'|'||chr(226)||chr(8364)||'|'||" +
        "chr(239)||chr(191)||chr(189)"
      s"""WITH r AS (SELECT doc_id,
         |  substr(text, 1, 16) || CASE CAST(doc_id % 3 AS INTEGER)
         |    WHEN 0 THEN $damaged
         |    WHEN 1 THEN $clean
         |    ELSE '' END AS raw
         |  FROM documents)
         |SELECT doc_id,
         |       CAST(len(regexp_extract_all(raw, $pat)) AS BIGINT) AS moji,
         |       len(regexp_extract_all(raw, $pat)) > 0 AS damaged
         |FROM r""".stripMargin
    },

    "d_top_grams" ->
      """WITH tk AS MATERIALIZED (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS tk FROM documents),
        |c2 AS MATERIALIZED (
        |  SELECT doc_id, g, count(*) AS c FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(tk)),
        |                     i -> tk[i] || ' ' || tk[i+1])) AS g
        |    FROM tk WHERE len(tk) >= 2) GROUP BY 1, 2),
        |t2 AS (SELECT doc_id, g AS top2, CAST(c * 1000000 // tot AS BIGINT) AS top2_ppm FROM (
        |  SELECT doc_id, g, c, sum(c) OVER (PARTITION BY doc_id) AS tot,
        |         row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, g) AS rn
        |  FROM c2) WHERE rn = 1),
        |c3 AS MATERIALIZED (
        |  SELECT doc_id, g, count(*) AS c FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(tk) - 1),
        |                     i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS g
        |    FROM tk WHERE len(tk) >= 3) GROUP BY 1, 2),
        |d3 AS (SELECT doc_id,
        |         CAST(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) * 1000000 // sum(c) AS BIGINT) AS dup3_ppm
        |       FROM c3 GROUP BY 1)
        |SELECT d.doc_id, t2.top2, t2.top2_ppm, d3.dup3_ppm
        |FROM documents d LEFT JOIN t2 USING (doc_id) LEFT JOIN d3 USING (doc_id)""".stripMargin,

    "d_dsir_weights" ->
      s"""$dsirWeightsCte
         |SELECT doc_id, weight_micro FROM w""".stripMargin,

    "d_dsir_weights_bi" ->
      s"""$dsirWeightsBiCte
         |SELECT doc_id, weight_micro FROM w""".stripMargin,

    "d_dsir_sample" ->
      s"""$dsirWeightsCte
         |SELECT doc_id, weight_micro FROM (
         |  SELECT doc_id, weight_micro,
         |         row_number() OVER (ORDER BY weight_micro DESC, doc_id) AS rn
         |  FROM w)
         |WHERE rn <= ceil(0.2 * (SELECT count(*) FROM documents))""".stripMargin,

    "d_dsir_sample_bi" ->
      s"""$dsirWeightsBiCte
         |SELECT doc_id, weight_micro FROM (
         |  SELECT doc_id, weight_micro,
         |         row_number() OVER (ORDER BY weight_micro DESC, doc_id) AS rn
         |  FROM w)
         |WHERE rn <= ceil(0.2 * (SELECT count(*) FROM documents))""".stripMargin,

    "d_ngram_pairs" -> ngramPairsOracle,

    // the prefix-filtered join is output-identical by construction — the
    // SAME all-pairs oracle gates it (plan differs, result must not)
    "d_ngram_pairs_prefix" -> ngramPairsOracle,

    "e_knn_top1" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |sims AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS nbr_id,
        |         list_dot_product(q.e, c.e) /
        |         (sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(c.e, c.e))) AS sim
        |  FROM v q JOIN v c ON q.vec_id <> c.vec_id)
        |SELECT query_id, nbr_id FROM (
        |  SELECT query_id, nbr_id,
        |         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, nbr_id) AS rn
        |  FROM sims) WHERE rn = 1""".stripMargin,

    "e_knn_sq8" ->
      """WITH v AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |pts AS (SELECT vec_id, r.i AS i, e[r.i] AS x FROM v, range(1, 65) r(i)),
        |s AS (SELECT i, min(x) AS lo, (max(x) - min(x)) / 255.0 AS step
        |      FROM pts GROUP BY i),
        |sa AS (SELECT list(lo ORDER BY i) AS los, list(step ORDER BY i) AS steps FROM s),
        |rec AS MATERIALIZED (
        |  SELECT vec_id, list_transform(range(1, 65), i ->
        |    CASE WHEN steps[i] > 0
        |         THEN round((e[i] - los[i]) / steps[i]) * steps[i] + los[i]
        |         ELSE los[i] END) AS e2
        |  FROM v CROSS JOIN sa),
        |sims AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS nbr_id,
        |         list_dot_product(q.e, c.e2) /
        |         (sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(c.e2, c.e2))) AS sim
        |  FROM v q JOIN rec c ON q.vec_id <> c.vec_id)
        |SELECT query_id, nbr_id, rank FROM (
        |  SELECT query_id, nbr_id,
        |         CAST(row_number() OVER (
        |           PARTITION BY query_id ORDER BY sim DESC, nbr_id) AS INTEGER) AS rank
        |  FROM sims) WHERE rank <= 3""".stripMargin,

    "e_knn_graph" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |sims AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS nbr_id,
        |         list_dot_product(q.e, c.e) /
        |         (sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(c.e, c.e))) AS sim
        |  FROM v q JOIN v c ON q.vec_id <> c.vec_id)
        |SELECT query_id, nbr_id, rank FROM (
        |  SELECT query_id, nbr_id,
        |         CAST(row_number() OVER (
        |           PARTITION BY query_id ORDER BY sim DESC, nbr_id) AS INTEGER) AS rank
        |  FROM sims) WHERE rank <= 3""".stripMargin,

    "e_knn_mutual_cc" ->
      """WITH RECURSIVE
        |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |sims AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS nbr_id,
        |         list_dot_product(q.e, c.e) /
        |         (sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(c.e, c.e))) AS sim
        |  FROM v q JOIN v c ON q.vec_id <> c.vec_id),
        |knn AS (
        |  SELECT query_id, nbr_id FROM (
        |    SELECT query_id, nbr_id, row_number() OVER (
        |      PARTITION BY query_id ORDER BY sim DESC, nbr_id) AS rn
        |    FROM sims) WHERE rn <= 3),
        |e AS (
        |  SELECT a.query_id AS src, a.nbr_id AS dst
        |  FROM knn a JOIN knn b
        |    ON a.query_id = b.nbr_id AND a.nbr_id = b.query_id),
        |r(id, lab) AS (
        |  SELECT vec_id, vec_id FROM embeddings
        |  UNION
        |  SELECT e.dst, r.lab FROM r JOIN e ON e.src = r.id)
        |SELECT id, min(lab) AS value FROM r GROUP BY id""".stripMargin,

    "g_kmeans_clusters" -> kmeansOracleSql(k = 4, steps = 8),

    "e_knn_ivf" -> ivfOracleSql(nlist = 16, nprobe = 4, iters = 2, k = 3),

    "e_semdedup" -> semdedupOracleSql(nlist = 16, iters = 2, threshold = 0.35),

    "e_semdedup_incr" -> semdedupOracleSql(nlist = 16, iters = 2,
      threshold = 0.35, trainWhere = "id % 5 <> 0"),

    "e_knn_ivf_incr" -> ivfOracleSql(nlist = 16, nprobe = 4, iters = 2, k = 3,
      trainWhere = "id % 5 <> 0"),

    "e_knn_ivfpq_incr" -> ivfPqOracleSql(nlist = 16, nprobe = 4, iters = 2,
      m = 2, ncodes = 8, k = 2, trainWhere = "id % 5 <> 0"),

    // hyperplane buckets exactly as embLshOracleSql (sign of the Rademacher
    // projection is scale-invariant, so bucketing the normalized vector
    // equals bucketing the raw one); multi-probe = bucket ∪ 1-bit flips
    "e_knn_lsh" ->
      """WITH v AS MATERIALIZED (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |nv AS MATERIALIZED (SELECT id, CASE WHEN sqrt(list_dot_product(e, e)) > 0
        |                       THEN list_transform(e, x -> x / sqrt(list_dot_product(e, e)))
        |                       ELSE e END AS u FROM v),
        |pr AS MATERIALIZED (
        |  SELECT id, b.b,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(range(0, len(u)), i -> u[i + 1] *
        |        (CASE WHEN ((b.b * 1000003 + i) * 2654435761 >> 16) % 2 = 0
        |              THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END))),
        |      (a, x) -> a + x) AS proj
        |  FROM nv, range(0, 10) b(b)),
        |bk AS MATERIALIZED (
        |  SELECT id, CAST(sum(CASE WHEN proj >= 0 THEN 1 << b ELSE 0 END) AS BIGINT) AS bucket
        |  FROM pr GROUP BY id),
        |probes AS (
        |  SELECT id AS query_id, bucket FROM bk
        |  UNION
        |  SELECT id, xor(bucket, CAST(1 << f AS BIGINT)) FROM bk, range(0, 10) t(f)),
        |cand AS (
        |  SELECT DISTINCT p.query_id, c.id AS nbr_id
        |  FROM probes p JOIN bk c ON p.bucket = c.bucket AND p.query_id <> c.id),
        |sims AS (
        |  SELECT cand.query_id, cand.nbr_id,
        |         list_dot_product(qv.e, cv.e) /
        |         (sqrt(list_dot_product(qv.e, qv.e)) * sqrt(list_dot_product(cv.e, cv.e))) AS sim
        |  FROM cand JOIN v qv ON qv.id = cand.query_id JOIN v cv ON cv.id = cand.nbr_id)
        |SELECT query_id, nbr_id, CAST(rn AS INTEGER) AS rank FROM (
        |  SELECT query_id, nbr_id,
        |         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, nbr_id) AS rn
        |  FROM sims) WHERE rn <= 3""".stripMargin,

    "e_knn_pq" -> pqOracleSql(m = 2, ncodes = 8, iters = 2, k = 2),

    "e_knn_ivfpq" -> ivfPqOracleSql(nlist = 16, nprobe = 4, iters = 2,
      m = 2, ncodes = 8, k = 2),

    // exact cosine≥0.9 pair graph + transitive closure (small components, so
    // the recursive closure is cheap); rep = min reachable id, singletons self
    "e_embedding_dedup" ->
      """WITH RECURSIVE v AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |nv AS (SELECT id, CASE WHEN sqrt(list_dot_product(e, e)) > 0
        |                       THEN list_transform(e, x -> x / sqrt(list_dot_product(e, e)))
        |                       ELSE e END AS u FROM v),
        |p AS (SELECT a.id AS a, b.id AS b FROM nv a JOIN nv b ON a.id < b.id
        |      WHERE list_dot_product(a.u, b.u) >= 0.9),
        |sym AS (SELECT a, b FROM p UNION SELECT b, a FROM p),
        |reach(a, b) AS (
        |  SELECT id, id FROM v
        |  UNION
        |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a)
        |SELECT a AS vec_id, min(b) AS rep FROM reach GROUP BY a""".stripMargin,

    // stars: every vertex labels to its cluster minimum = the root
    "s_streaming_cc" ->
      """WITH m AS (SELECT c_custkey AS c FROM customer WHERE c_custkey % 100 <> 0),
        |v AS (SELECT c AS id FROM m UNION SELECT DISTINCT c - c % 100 FROM m)
        |SELECT id, id - id % 100 AS value FROM v""".stripMargin,

    // star clusters are bipartite (leaves vs roots)
    "s_bipartiteness" -> "SELECT true AS is_bipartite",

    // leaves have degree 1, so no pair of endpoints is pre-spanned: the
    // 2-spanner keeps every (root, leaf) edge, canonicalized root < leaf
    "s_spanner" ->
      """SELECT c_custkey - c_custkey % 100 AS src, c_custkey AS dst
        |FROM customer WHERE c_custkey % 100 <> 0""".stripMargin,

    // epoch-aligned 1-hour tumbling windows == date_trunc('hour', ts)
    "s_windowed_reduce" ->
      """SELECT CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS window_start,
        |       user_id AS id,
        |       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS value
        |FROM events GROUP BY 1, 2""".stripMargin,

    "mm_frame_plan" ->
      """WITH m AS (SELECT doc_id AS id, 500 + doc_id % 7919 AS dur FROM documents),
        |f AS (SELECT id, unnest(range(0, greatest((dur - 1) // 1000, 0) + 1)) AS k FROM m)
        |SELECT id, CAST(k AS INTEGER) AS frame_idx, CAST(k * 1000 AS BIGINT) AS start_ms
        |FROM f""".stripMargin,

    "mm_resize_plan" ->
      """WITH m AS (SELECT doc_id AS id,
        |                  CAST(400 + doc_id % 1200 AS INTEGER) AS w,
        |                  CAST(300 + doc_id % 900 AS INTEGER) AS h
        |           FROM documents),
        |s AS (SELECT id, w, h,
        |             CASE WHEN greatest(w, h) <= 512 THEN 1.0
        |                  ELSE 512 / CAST(greatest(w, h) AS DOUBLE) END AS scale
        |      FROM m)
        |SELECT id, CAST(ceil(w * scale) AS INTEGER) AS target_width,
        |       CAST(ceil(h * scale) AS INTEGER) AS target_height,
        |       round(scale, 6) AS scale
        |FROM s""".stripMargin,

    // synthetic pHash replay: mix64 (the m1/m2/m3 xorshift chain) of
    // doc_id//4 in the HUGEINT mod-2^64 domain, signed reinterpretation,
    // per-residue XOR masks, then 7 ten-bit bands (DuckDB's >>/&/xor/
    // bit_count match Java two's-complement semantics bit for bit —
    // verified on negative values), Hamming verify, recursive WCC
    "mm_phash_dups" -> {
      s"""WITH RECURSIVE
         |p0 AS (SELECT doc_id, CAST(doc_id // 4 AS HUGEINT) AS u,
         |              doc_id % 4 AS v FROM documents),
         |q1 AS (SELECT doc_id, v, (${sqlXorShr("u", 33)} * 6364136223846793005) % $U64 AS u FROM p0),
         |q2 AS (SELECT doc_id, v, (${sqlXorShr("u", 29)} * 2685821657736338717) % $U64 AS u FROM q1),
         |q3 AS (SELECT doc_id, v, ${sqlXorShr("u", 32)} AS u FROM q2),
         |ph AS (SELECT doc_id AS id,
         |         xor(${sqlU2S("u")}, CASE v WHEN 1 THEN 66561
         |           WHEN 2 THEN 2201172838402 WHEN 3 THEN 1431655765
         |           ELSE 0 END) AS h
         |       FROM q3),
         |bd AS (SELECT id, h, u.i AS band, (h >> CAST(u.i * 10 AS INTEGER)) & 1023 AS bits
         |       FROM ph, unnest(range(0, 7)) AS u(i)),
         |cand AS (SELECT DISTINCT l.id AS a, r.id AS b, l.h AS ha, r.h AS hb
         |         FROM bd l JOIN bd r ON l.band = r.band AND l.bits = r.bits
         |           AND l.id < r.id),
         |ver AS (SELECT a, b FROM cand WHERE bit_count(xor(ha, hb)) <= 6),
         |sym AS (SELECT a, b FROM ver UNION SELECT b, a FROM ver),
         |reach(a, b) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a)
         |SELECT a AS id, min(b) AS rep FROM reach GROUP BY a""".stripMargin
    },

    "ev_hourly" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start, event_type,
        |  count(*) AS n,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events GROUP BY 1, 2""".stripMargin,

    "ev_props_agg" ->
      """SELECT event_type, count(k) AS n, CAST(sum(k) AS BIGINT) AS sum_k,
        |       min(k) AS min_k, max(k) AS max_k
        |FROM (SELECT event_type,
        |             CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |      FROM events)
        |GROUP BY 1""".stripMargin,

    "d_chunk" -> {
      val cps = "list_transform(range(1, length(s) + 1), j -> CAST(unicode(s[j]) AS HUGEINT))"
      s"""WITH tk AS (
         |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
         |  FROM documents),
         |n AS (SELECT doc_id, toks,
         |        1 + CAST(ceil(greatest(len(toks) - 64, 0) / 56.0) AS INT) AS nc
         |      FROM tk),
         |c0 AS (SELECT doc_id, toks, unnest(range(nc)) AS chunk_idx FROM n),
         |c AS (SELECT doc_id, chunk_idx,
         |        array_to_string(list_slice(toks, chunk_idx * 56 + 1, chunk_idx * 56 + 64), ' ') AS s
         |      FROM c0)
         |SELECT doc_id, CAST(chunk_idx AS INTEGER) AS chunk_idx,
         |       len(string_split(s, ' ')) AS chunk_tokens,
         |       ${sqlU2S(sqlPoly(cps, 1125899906842597L, 1099511628211L))} AS chunk_fp
         |FROM c""".stripMargin
    },

    "d_pack" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END AS n
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, n,
        |    CAST(floor(coalesce(sum(n) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 2048)
        |      AS BIGINT) AS pack_id
        |  FROM t)
        |SELECT pack_id, count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS pack_tokens
        |FROM b GROUP BY 1""".stripMargin,

    "d_pack_sharded" ->
      """WITH t AS (
        |  SELECT source, doc_id,
        |    CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END AS n
        |  FROM documents),
        |b AS (
        |  SELECT source, doc_id, n,
        |    CAST(floor(coalesce(sum(n) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 2048)
        |      AS BIGINT) AS pack_id
        |  FROM t)
        |SELECT source, pack_id, count(*) AS n_docs,
        |       CAST(sum(n) AS BIGINT) AS pack_tokens
        |FROM b GROUP BY 1, 2""".stripMargin,

    "d_lm_score" ->
      """WITH tk AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tk GROUP BY 1, 2),
        |model AS (SELECT term, CAST(sum(tf) AS BIGINT) AS cnt FROM tf GROUP BY 1),
        |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total,
        |               count(*) AS n_vocab FROM model),
        |lp AS (
        |  SELECT tf.doc_id, tf.tf,
        |    CAST(round(tf.tf * ln(CAST(cnt + 1 AS DOUBLE) / (n_total + n_vocab))
        |      * 1000000) AS BIGINT) AS lpm
        |  FROM tf JOIN model USING (term) CROSS JOIN tot)
        |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
        |       CAST(sum(lpm) AS BIGINT) AS lm_micro_total
        |FROM lp GROUP BY 1""".stripMargin,

    // reference-domain LM scoring: model over the en slice, LEFT join for
    // the OOV smoothing floor (cnt=0 → 1/(N+V)); injection prologue mirrors
    // the Spark side token-for-token
    "d_lm_domain" ->
      """WITH sc AS (
        |  SELECT doc_id, CASE WHEN doc_id % 10 = 0
        |    THEN text || ' qqxzoov' || CAST(doc_id % 7 AS VARCHAR)
        |    ELSE text END AS text
        |  FROM documents),
        |tk AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
        |  FROM sc),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tk GROUP BY 1, 2),
        |model AS (
        |  SELECT term, count(*) AS cnt FROM (
        |    SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
        |    FROM documents WHERE lang = 'en') GROUP BY 1),
        |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total,
        |               count(*) AS n_vocab FROM model),
        |lp AS (
        |  SELECT tf.doc_id, tf.tf, coalesce(model.cnt, 0) AS cnt,
        |    CAST(round(tf.tf * ln(CAST(coalesce(model.cnt, 0) + 1 AS DOUBLE)
        |      / (n_total + n_vocab)) * 1000000) AS BIGINT) AS lpm
        |  FROM tf LEFT JOIN model USING (term) CROSS JOIN tot)
        |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
        |       CAST(sum(CASE WHEN cnt = 0 THEN tf ELSE 0 END) AS BIGINT) AS n_oov,
        |       CAST(sum(lpm) AS BIGINT) AS lm_micro_total
        |FROM lp GROUP BY 1""".stripMargin,

    // CCNet tercile split: LM scoring (the d_lm_domain shape, no
    // injection), NLL = floor-div of non-negative integers, then the
    // ev_value_sketch_q bucket/walk/decode at s=7 for the two thresholds
    "d_lm_buckets" -> {
      val s1 = 10; val exact = 1L << (s1 + 1); val sub = 1L << s1
      s"""WITH tk AS (
         |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
         |  FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM tk GROUP BY 1, 2),
         |model AS (
         |  SELECT term, count(*) AS cnt FROM (
         |    SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
         |    FROM documents WHERE lang = 'en') GROUP BY 1),
         |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total,
         |               count(*) AS n_vocab FROM model),
         |lp AS (
         |  SELECT tf.doc_id, tf.tf, coalesce(model.cnt, 0) AS cnt,
         |    CAST(round(tf.tf * ln(CAST(coalesce(model.cnt, 0) + 1 AS DOUBLE)
         |      / (n_total + n_vocab)) * 1000000) AS BIGINT) AS lpm
         |  FROM tf LEFT JOIN model USING (term) CROSS JOIN tot),
         |sc AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
         |         CAST(sum(CASE WHEN cnt = 0 THEN tf ELSE 0 END) AS BIGINT) AS n_oov,
         |         CAST(sum(lpm) AS BIGINT) AS lm_micro
         |       FROM lp GROUP BY 1),
         |sc2 AS (SELECT doc_id, n_tokens, n_oov,
         |               CAST((-lm_micro) // n_tokens AS BIGINT) AS nll_micro FROM sc),
         |b AS (SELECT CASE WHEN nll_micro < 0 THEN -1
         |             WHEN nll_micro < $exact THEN nll_micro
         |             ELSE (length(bin(nll_micro)) - ${s1 + 1}) * $sub
         |                  + (nll_micro >> (length(bin(nll_micro)) - ${s1 + 1}))
         |             END AS bucket FROM sc2),
         |h AS (SELECT bucket, count(*) AS cnt FROM b WHERE bucket >= 0 GROUP BY bucket),
         |n AS (SELECT sum(cnt) AS n FROM h),
         |c AS (SELECT bucket, sum(cnt) OVER (ORDER BY bucket) AS cum FROM h),
         |tq AS (SELECT p, greatest(1, CAST(ceil(p * n.n) AS BIGINT)) AS rk
         |      FROM n, unnest([${1.0 / 3}, ${2.0 / 3}]) AS u(p)),
         |pick AS (SELECT tq.p, min(c.bucket) AS bucket
         |         FROM tq JOIN c ON c.cum >= tq.rk GROUP BY tq.p),
         |dec AS (SELECT p, bucket, (bucket // $sub) - 1 AS sh,
         |               bucket - ((bucket // $sub) - 1) * $sub AS m FROM pick),
         |thv AS (SELECT p, CAST(CASE WHEN bucket < $exact THEN bucket
         |               ELSE ((m + 1) << sh) - 1
         |               END AS BIGINT) AS value FROM dec),
         |th AS (SELECT max(CASE WHEN p < 0.5 THEN value END) AS t1,
         |              max(CASE WHEN p > 0.5 THEN value END) AS t2 FROM thv)
         |SELECT doc_id, n_tokens, n_oov, nll_micro,
         |       CASE WHEN nll_micro <= t1 THEN 'head'
         |            WHEN nll_micro <= t2 THEN 'middle'
         |            ELSE 'tail' END AS bucket
         |FROM sc2 CROSS JOIN th""".stripMargin
    },

    // order-3 Stupid Backoff: model = 1/2/3-gram counts over the en slice;
    // per position the longest available level with a model hit wins, α=0.4
    // per backoff step built by DOUBLE literal multiplication (the Spark
    // side folds the identical IEEE product — pow() is not ULP-pinned);
    // denominators recovered as the (k−1)-level numerator one position
    // left (lag window), exactly the Spark plan
    "d_lm_ngram" ->
      """WITH sc AS (
        |  SELECT doc_id, CASE WHEN doc_id % 10 = 0
        |    THEN text || ' qqxzoov' || CAST(doc_id % 7 AS VARCHAR)
        |    ELSE text END AS text
        |  FROM documents),
        |tr AS (SELECT string_split_regex(lower(trim(text)), '\s+') AS toks
        |       FROM documents WHERE lang = 'en'),
        |mg AS (SELECT u.k AS n,
        |              array_to_string(list_slice(toks, i - u.k + 1, i), ' ') AS gram
        |       FROM (SELECT toks, unnest(range(1, len(toks) + 1)) AS i FROM tr) t,
        |            unnest([1, 2, 3]) AS u(k)
        |       WHERE u.k <= i),
        |model AS MATERIALIZED (SELECT n, gram, count(*) AS cnt FROM mg GROUP BY 1, 2),
        |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total, count(*) AS n_vocab
        |        FROM model WHERE n = 1),
        |dt AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
        |       FROM sc),
        |pp AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, u.k AS k,
        |              array_to_string(list_slice(toks, i - u.k + 1, i), ' ') AS gram
        |       FROM (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS i FROM dt) t,
        |            unnest([1, 2, 3]) AS u(k)
        |       WHERE u.k <= i),
        |pv AS (SELECT doc_id, pos,
        |              max(CASE WHEN k = 1 THEN cnt END) AS c1,
        |              max(CASE WHEN k = 2 THEN cnt END) AS c2,
        |              max(CASE WHEN k = 3 THEN cnt END) AS c3
        |       FROM pp LEFT JOIN model ON model.n = pp.k AND model.gram = pp.gram
        |       GROUP BY 1, 2),
        |dn AS (SELECT doc_id, pos, c1, c2, c3,
        |              lag(c1) OVER w AS d2, lag(c2) OVER w AS d3
        |       FROM pv WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        |st AS (SELECT doc_id, pos, c1,
        |         least(pos + 1, 3) AS k0,
        |         CASE WHEN least(pos + 1, 3) >= 3 AND c3 IS NOT NULL THEN 3
        |              WHEN least(pos + 1, 3) >= 2 AND c2 IS NOT NULL THEN 2
        |              ELSE 1 END AS lvl,
        |         CASE WHEN least(pos + 1, 3) >= 3 AND c3 IS NOT NULL
        |                THEN CAST(c3 AS DOUBLE) / d3
        |              WHEN least(pos + 1, 3) >= 2 AND c2 IS NOT NULL
        |                THEN CAST(c2 AS DOUBLE) / d2
        |              ELSE CAST(coalesce(c1, 0) + 1 AS DOUBLE) / (n_total + n_vocab)
        |         END AS ratio
        |       FROM dn CROSS JOIN tot),
        |lp AS (SELECT doc_id, c1, k0 - lvl AS b,
        |         CAST(round(ln(CASE k0 - lvl
        |           WHEN 0 THEN CAST(1.0 AS DOUBLE) * ratio
        |           WHEN 1 THEN CAST(1.0 AS DOUBLE) * CAST(0.4 AS DOUBLE) * ratio
        |           ELSE CAST(1.0 AS DOUBLE) * CAST(0.4 AS DOUBLE) * CAST(0.4 AS DOUBLE) * ratio
        |           END) * 1000000) AS BIGINT) AS lpm
        |       FROM st)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |       CAST(sum(CASE WHEN c1 IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        |       CAST(sum(CASE WHEN b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_full,
        |       CAST(sum(b) AS BIGINT) AS n_backoff_steps,
        |       CAST(sum(lpm) AS BIGINT) AS lm_micro_total
        |FROM lp GROUP BY 1""".stripMargin,

    // order-5 Stupid Backoff composed with the d_lm_buckets tercile
    // machinery (same s=10 log-histogram decode). The scoring CTEs are
    // GENERATED for the order — c1..c5 pivot, lag denominators, chained
    // backoff CASE with literal-0.4 alpha products — so the SQL stays in
    // lockstep with the Spark side's order parameter instead of a second
    // hand-maintained copy. NOTE s-interpolated string: regexes need the
    // doubled backslash (OracleSqlSpec pins the assembled map against
    // mis-escapes).
    "d_lm_ngram_buckets" -> {
      val order = 5
      val s1 = 10; val exact = 1L << (s1 + 1); val sub = 1L << s1
      val ks = (1 to order).mkString(", ")
      // joined WITHOUT margin bars: stripMargin runs after interpolation
      // and leaves bar-less continuation lines untouched (plain whitespace,
      // harmless in SQL)
      val cCols = (1 to order).map(k =>
        s"max(CASE WHEN k = $k THEN cnt END) AS c$k").mkString(",\n              ")
      val lags = (2 to order).map(k =>
        s"lag(c${k - 1}) OVER w AS d$k").mkString(", ")
      val lvlCase = (order to 2 by -1).map(k =>
        s"WHEN least(pos + 1, $order) >= $k AND c$k IS NOT NULL THEN $k")
        .mkString("CASE ", " ", " ELSE 1 END")
      val ratioCase = (order to 2 by -1).map(k =>
        s"WHEN least(pos + 1, $order) >= $k AND c$k IS NOT NULL" +
          s" THEN CAST(c$k AS DOUBLE) / d$k")
        .mkString("CASE ", " ",
          " ELSE CAST(coalesce(c1, 0) + 1 AS DOUBLE) / (n_total + n_vocab) END")
      def alpha(b: Int) =
        (Seq("CAST(1.0 AS DOUBLE)") ++ Seq.fill(b)("CAST(0.4 AS DOUBLE)"))
          .mkString(" * ")
      val lpmCase = ((0 until order - 1).map(b =>
        s"WHEN $b THEN ${alpha(b)} * ratio") :+
        s"ELSE ${alpha(order - 1)} * ratio")
        .mkString("CASE k0 - lvl ", " ", " END")
      s"""WITH sc AS (
         |  SELECT doc_id, CASE WHEN doc_id % 10 = 0
         |    THEN text || ' qqxzoov' || CAST(doc_id % 7 AS VARCHAR)
         |    ELSE text END AS text
         |  FROM documents),
         |tr AS (SELECT string_split_regex(lower(trim(text)), '\\s+') AS toks
         |       FROM documents WHERE lang = 'en'),
         |mg AS (SELECT u.k AS n,
         |              array_to_string(list_slice(toks, i - u.k + 1, i), ' ') AS gram
         |       FROM (SELECT toks, unnest(range(1, len(toks) + 1)) AS i FROM tr) t,
         |            unnest([$ks]) AS u(k)
         |       WHERE u.k <= i),
         |model AS MATERIALIZED (SELECT n, gram, count(*) AS cnt FROM mg GROUP BY 1, 2),
         |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total, count(*) AS n_vocab
         |        FROM model WHERE n = 1),
         |dt AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
         |       FROM sc),
         |pp AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, u.k AS k,
         |              array_to_string(list_slice(toks, i - u.k + 1, i), ' ') AS gram
         |       FROM (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS i FROM dt) t,
         |            unnest([$ks]) AS u(k)
         |       WHERE u.k <= i),
         |pv AS (SELECT doc_id, pos,
         |              $cCols
         |       FROM pp LEFT JOIN model ON model.n = pp.k AND model.gram = pp.gram
         |       GROUP BY 1, 2),
         |dn AS (SELECT doc_id, pos, ${(1 to order).map("c" + _).mkString(", ")},
         |              $lags
         |       FROM pv WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
         |st AS (SELECT doc_id, c1,
         |         least(pos + 1, $order) AS k0,
         |         $lvlCase AS lvl,
         |         $ratioCase AS ratio
         |       FROM dn CROSS JOIN tot),
         |lp AS (SELECT doc_id, c1,
         |         CAST(round(ln($lpmCase) * 1000000) AS BIGINT) AS lpm
         |       FROM st),
         |sc0 AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |          CAST(sum(CASE WHEN c1 IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
         |          CAST(sum(lpm) AS BIGINT) AS lm_micro
         |        FROM lp GROUP BY 1),
         |sc2 AS (SELECT doc_id, n_tokens, n_oov,
         |               CAST((-lm_micro) // n_tokens AS BIGINT) AS nll_micro FROM sc0),
         |b AS (SELECT CASE WHEN nll_micro < 0 THEN -1
         |             WHEN nll_micro < $exact THEN nll_micro
         |             ELSE (length(bin(nll_micro)) - ${s1 + 1}) * $sub
         |                  + (nll_micro >> (length(bin(nll_micro)) - ${s1 + 1}))
         |             END AS bucket FROM sc2),
         |h AS (SELECT bucket, count(*) AS cnt FROM b WHERE bucket >= 0 GROUP BY bucket),
         |n AS (SELECT sum(cnt) AS n FROM h),
         |c AS (SELECT bucket, sum(cnt) OVER (ORDER BY bucket) AS cum FROM h),
         |tq AS (SELECT p, greatest(1, CAST(ceil(p * n.n) AS BIGINT)) AS rk
         |      FROM n, unnest([${1.0 / 3}, ${2.0 / 3}]) AS u(p)),
         |pick AS (SELECT tq.p, min(c.bucket) AS bucket
         |         FROM tq JOIN c ON c.cum >= tq.rk GROUP BY tq.p),
         |dec AS (SELECT p, bucket, (bucket // $sub) - 1 AS sh,
         |               bucket - ((bucket // $sub) - 1) * $sub AS m FROM pick),
         |thv AS (SELECT p, CAST(CASE WHEN bucket < $exact THEN bucket
         |               ELSE ((m + 1) << sh) - 1
         |               END AS BIGINT) AS value FROM dec),
         |th AS (SELECT max(CASE WHEN p < 0.5 THEN value END) AS t1,
         |              max(CASE WHEN p > 0.5 THEN value END) AS t2 FROM thv)
         |SELECT doc_id, n_tokens, n_oov, nll_micro,
         |       CASE WHEN nll_micro <= t1 THEN 'head'
         |            WHEN nll_micro <= t2 THEN 'middle'
         |            ELSE 'tail' END AS bucket
         |FROM sc2 CROSS JOIN th""".stripMargin
    },

    "d_domain_classify" ->
      """WITH tr AS (
        |  SELECT 'dom_a' AS label,
        |         'aleph quartz zephyr aleph data table w' || CAST(i % 5 AS VARCHAR) AS text
        |  FROM range(0, 40) t(i)
        |  UNION ALL
        |  SELECT 'dom_b',
        |         'borax lattice osmium borax scan merge w' || CAST(i % 5 AS VARCHAR)
        |  FROM range(0, 40) t(i)),
        |trtk AS (SELECT label, unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
        |         FROM tr),
        |model AS (SELECT label, term, count(*) AS cnt FROM trtk
        |          WHERE term <> '' GROUP BY 1, 2),
        |pri AS (SELECT label, count(*) AS n_docs FROM tr GROUP BY 1),
        |cls AS (SELECT label, CAST(sum(cnt) AS BIGINT) AS n_class FROM model GROUP BY 1),
        |tot AS (SELECT (SELECT count(*) FROM tr) AS n_docs_total,
        |               (SELECT count(DISTINCT term) FROM model) AS n_vocab),
        |sc AS (SELECT doc_id, text FROM documents
        |       UNION ALL
        |       SELECT CAST(9000000 + i AS BIGINT),
        |              'aleph zephyr data w' || CAST(i % 5 AS VARCHAR)
        |       FROM range(0, 10) t(i)
        |       UNION ALL
        |       SELECT CAST(9100000 + i AS BIGINT),
        |              'borax osmium scan w' || CAST(i % 5 AS VARCHAR)
        |       FROM range(0, 10) t(i)),
        |sctk AS (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
        |         FROM sc),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM sctk
        |       WHERE term <> '' GROUP BY 1, 2),
        |lp AS (SELECT tf.doc_id, c.label,
        |         CAST(round(tf.tf * ln(CAST(coalesce(m.cnt, 0) + 1 AS DOUBLE)
        |           / (c.n_class + t.n_vocab)) * 1000000) AS BIGINT) AS lpm
        |       FROM tf CROSS JOIN cls c CROSS JOIN tot t
        |       LEFT JOIN model m ON m.label = c.label AND m.term = tf.term),
        |lk AS (SELECT doc_id, label, CAST(sum(lpm) AS BIGINT) AS lk FROM lp GROUP BY 1, 2),
        |pm AS (SELECT p.label,
        |         CAST(round(ln(CAST(p.n_docs AS DOUBLE) / t.n_docs_total) * 1000000) AS BIGINT)
        |           AS prior_micro
        |       FROM pri p CROSS JOIN tot t),
        |allp AS (SELECT s.doc_id, pm.label, pm.prior_micro + coalesce(l.lk, 0) AS nb_micro
        |         FROM (SELECT DISTINCT doc_id FROM sc) s CROSS JOIN pm
        |         LEFT JOIN lk l ON l.doc_id = s.doc_id AND l.label = pm.label)
        |SELECT doc_id, label, CAST(nb_micro AS BIGINT) AS nb_micro FROM allp
        |QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY nb_micro DESC, label DESC) = 1""".stripMargin,

    "d_entropy" ->
      """WITH tk AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tk GROUP BY 1, 2),
        |tot AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n FROM tf GROUP BY 1)
        |SELECT tf.doc_id, CAST(max(n) AS BIGINT) AS n_tokens,
        |  CAST(sum(CAST(round(tf * ln(CAST(n AS DOUBLE) / tf) * 1000000) AS BIGINT)) AS BIGINT)
        |    AS ent_micro_total
        |FROM tf JOIN tot USING (doc_id) GROUP BY 1""".stripMargin,

    "d_edit_pairs" ->
      """SELECT a.doc_id AS src, b.doc_id AS dst,
        |       CAST(levenshtein(a.text, b.text) AS BIGINT) AS lev
        |FROM documents a JOIN documents b
        |  ON a.doc_id < b.doc_id
        | AND abs(length(a.text) - length(b.text)) <= 8
        |WHERE levenshtein(a.text, b.text) <= 8""".stripMargin,

    "d_profile_rollup" ->
      """SELECT coalesce(source, 'ALL') AS source, coalesce(lang, 'ALL') AS lang,
        |       CAST(GROUPING(source) * 2 + GROUPING(lang) AS BIGINT) AS gid,
        |       count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY ROLLUP(source, lang)""".stripMargin,

    "ev_decay" ->
      """WITH ev AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value
        |            FROM events),
        |r AS (SELECT user_id, value,
        |        row_number() OVER (PARTITION BY user_id
        |                           ORDER BY ts DESC, event_id DESC) AS rnk
        |      FROM ev),
        |w AS (SELECT user_id,
        |        CAST(floor(value * 1000000) AS BIGINT)
        |          * (CAST(1 AS BIGINT) << (16 - rnk)) AS term
        |      FROM r WHERE rnk <= 16)
        |SELECT user_id, count(*) AS n_window,
        |       CAST(sum(term) AS BIGINT) AS decay_num,
        |       (CAST(1 AS BIGINT) << 16)
        |         - (CAST(1 AS BIGINT) << (16 - CAST(count(*) AS INT))) AS decay_den
        |FROM w GROUP BY 1""".stripMargin,

    "d_split_leakage" -> splitLeakageOracleSql,

    "d_edit_clusters" ->
      """WITH RECURSIVE
        |p AS (SELECT a.doc_id AS a, b.doc_id AS b
        |      FROM documents a JOIN documents b
        |        ON a.doc_id < b.doc_id
        |       AND abs(length(a.text) - length(b.text)) <= 8
        |      WHERE levenshtein(a.text, b.text) <= 8),
        |sym AS (SELECT a, b FROM p UNION SELECT b, a FROM p),
        |reach(a, b) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a)
        |SELECT a AS doc_id, min(b) AS rep FROM reach GROUP BY a""".stripMargin,

    "d_snapshot_diff" -> {
      def fpSql(textExpr: String): String = {
        val norm = s"regexp_replace(lower(trim($textExpr)), '\\s+', ' ', 'g')"
        s"""(SELECT doc_id, ${sqlU2S(sqlPoly("cps", 1125899906842597L, 1099511628211L))} AS fp
           | FROM (SELECT doc_id, list_transform(range(1, length(nt) + 1),
           |         j -> CAST(unicode(nt[j]) AS HUGEINT)) AS cps
           |       FROM (SELECT doc_id, $norm AS nt FROM vv)))""".stripMargin
      }
      s"""WITH ks AS (SELECT doc_id, CAST(doc_id AS VARCHAR) AS k FROM documents),
         |hs AS (SELECT doc_id, ${sqlPoly("cps", 1125899906842597L, 1099511628211L)} AS u
         |       FROM (SELECT doc_id, list_transform(range(1, length(k) + 1),
         |                    j -> CAST(unicode(k[j]) AS HUGEINT)) AS cps FROM ks)),
         |m1 AS (SELECT doc_id, (${sqlXorShr("u", 33)} * 6364136223846793005) % $U64 AS u FROM hs),
         |m2 AS (SELECT doc_id, (${sqlXorShr("u", 29)} * 2685821657736338717) % $U64 AS u FROM m1),
         |m3 AS (SELECT doc_id, ${sqlXorShr("u", 32)} AS u FROM m2),
         |spl AS (SELECT doc_id, CASE WHEN (u // 2) % 1000 < 900 THEN 'train'
         |          WHEN (u // 2) % 1000 < 950 THEN 'valid' ELSE 'test' END AS split FROM m3),
         |f1 AS (SELECT * FROM (WITH vv AS (
         |         SELECT d.doc_id, d.text FROM documents d JOIN spl USING (doc_id)
         |         WHERE spl.split <> 'test')
         |       SELECT * FROM ${fpSql("text")} x)),
         |f2 AS (SELECT * FROM (WITH vv AS (
         |         SELECT d.doc_id,
         |                CASE WHEN d.lang = 'de' THEN d.text || ' v2' ELSE d.text END AS text
         |         FROM documents d JOIN spl USING (doc_id)
         |         WHERE spl.split <> 'valid')
         |       SELECT * FROM ${fpSql("text")} x))
         |SELECT coalesce(f1.doc_id, f2.doc_id) AS doc_id,
         |       CASE WHEN f1.doc_id IS NULL THEN 'added'
         |            WHEN f2.doc_id IS NULL THEN 'removed'
         |            WHEN f1.fp <> f2.fp THEN 'changed'
         |            ELSE 'unchanged' END AS status
         |FROM f1 FULL OUTER JOIN f2 ON f1.doc_id = f2.doc_id
         |WHERE NOT (f1.doc_id IS NOT NULL AND f2.doc_id IS NOT NULL AND f1.fp = f2.fp)""".stripMargin
    },

    "ev_robust_outliers" ->
      """WITH ev AS (SELECT event_id, user_id,
        |              CAST(floor(value * 1000000) AS BIGINT) AS vmu FROM events),
        |r1 AS (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY vmu) AS rn,
        |              count(*) OVER (PARTITION BY user_id) AS n FROM ev),
        |med AS (SELECT user_id, vmu AS med_mu FROM r1
        |        WHERE rn = greatest(1, CAST(ceil(0.5 * n) AS BIGINT))),
        |d AS (SELECT e.event_id, e.user_id, e.vmu, m.med_mu,
        |             abs(e.vmu - m.med_mu) AS dev
        |      FROM ev e JOIN med m USING (user_id)),
        |r2 AS (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY dev) AS rn,
        |              count(*) OVER (PARTITION BY user_id) AS n FROM d),
        |mad AS (SELECT user_id, dev AS mad_mu FROM r2
        |        WHERE rn = greatest(1, CAST(ceil(0.5 * n) AS BIGINT)))
        |SELECT d.event_id, d.user_id, d.vmu, d.med_mu, m.mad_mu
        |FROM d JOIN mad m USING (user_id)
        |WHERE d.dev > 3 * m.mad_mu""".stripMargin,

    "e_knn_recall" -> knnRecallOracleSql(nlist = 16, nprobe = 4, iters = 2, k = 3),

    "d_cooccur" ->
      """WITH tk AS (
        |  SELECT doc_id, unnest(list_sort(list_distinct(
        |    string_split_regex(lower(trim(text)), '\s+')))[1:1000]) AS t
        |  FROM documents),
        |tot AS (SELECT count(*) AS n_docs FROM documents),
        |dfq AS (SELECT t, count(*) AS df FROM tk GROUP BY 1),
        |pr AS (SELECT a.t AS t1, b.t AS t2, count(*) AS n_pair
        |       FROM tk a JOIN tk b ON a.doc_id = b.doc_id AND a.t < b.t
        |       GROUP BY 1, 2 HAVING count(*) >= 5)
        |SELECT t1, t2, CAST(n_pair AS BIGINT) AS n_pair,
        |  CAST(round(ln(CAST(n_pair * n_docs AS DOUBLE) /
        |    CAST(d1.df * d2.df AS DOUBLE)) * 1000000) AS BIGINT) AS pmi_micro
        |FROM pr JOIN dfq d1 ON pr.t1 = d1.t JOIN dfq d2 ON pr.t2 = d2.t
        |CROSS JOIN tot""".stripMargin,

    "ev_zone_maps" -> {
      val interleave = (0 until 8).map(i =>
        s"(((xb >> $i) & 1) << ${2 * i}) | (((yb >> $i) & 1) << ${2 * i + 1})")
        .mkString(" | ")
      s"""WITH b AS (
         |  SELECT o_orderkey,
         |    CAST(least(greatest(floor(o_totalprice * 256 / 600000), 0), 255) AS BIGINT) AS xb,
         |    CAST(least(greatest(floor(CAST(date_diff('day', DATE '1992-01-01',
         |      CAST(o_orderdate AS DATE)) AS DOUBLE) * 256 / 2560), 0), 255) AS BIGINT) AS yb
         |  FROM orders),
         |m AS (SELECT o_orderkey, xb, yb, CAST($interleave AS BIGINT) AS morton FROM b)
         |SELECT morton >> 12 AS file_id, count(*) AS n,
         |       min(xb) AS xb_min, max(xb) AS xb_max,
         |       min(yb) AS yb_min, max(yb) AS yb_max,
         |       min(morton) AS morton_min, max(morton) AS morton_max
         |FROM m GROUP BY 1""".stripMargin
    },

    "ev_outliers" ->
      """WITH ev AS (SELECT event_id, user_id,
        |              CAST(floor(value * 1000000) AS BIGINT) AS vmu FROM events),
        |st AS (SELECT user_id, count(*) AS n,
        |         sum(CAST(vmu AS HUGEINT)) AS s,
        |         sum(CAST(vmu AS HUGEINT) * CAST(vmu AS HUGEINT)) AS ss
        |       FROM ev GROUP BY 1)
        |SELECT e.event_id, e.user_id, e.vmu
        |FROM ev e JOIN st USING (user_id)
        |WHERE n >= 2
        |  AND (CAST(n AS HUGEINT) * e.vmu - s) * (CAST(n AS HUGEINT) * e.vmu - s)
        |      > 4 * (CAST(n AS HUGEINT) * ss - s * s)""".stripMargin,

    "e_label_profile" ->
      """WITH x AS (
        |  SELECT label, unnest(range(0, len(embedding))) AS dim, embedding
        |  FROM embeddings)
        |SELECT label, CAST(dim AS BIGINT) AS dim, count(*) AS n,
        |  CAST(sum(CAST(floor(CAST(embedding[CAST(dim AS INT) + 1] AS DOUBLE)
        |    * 1000000) AS BIGINT)) AS BIGINT) AS sum_micro
        |FROM x GROUP BY 1, 2""".stripMargin,

    "ev_zorder" -> {
      val interleave = (0 until 8).map(i =>
        s"(((xb >> $i) & 1) << ${2 * i}) | (((yb >> $i) & 1) << ${2 * i + 1})")
        .mkString(" | ")
      s"""WITH b AS (
         |  SELECT o_orderkey,
         |    CAST(least(greatest(floor(o_totalprice * 256 / 600000), 0), 255) AS BIGINT) AS xb,
         |    CAST(least(greatest(floor(CAST(date_diff('day', DATE '1992-01-01',
         |      CAST(o_orderdate AS DATE)) AS DOUBLE) * 256 / 2560), 0), 255) AS BIGINT) AS yb
         |  FROM orders),
         |m AS (SELECT o_orderkey, xb, yb, CAST($interleave AS BIGINT) AS morton FROM b)
         |SELECT o_orderkey, xb, yb, morton, morton >> 12 AS file_id FROM m""".stripMargin
    },

    "d_vocab" ->
      """SELECT lang, count(DISTINCT tok) AS vocab, count(*) AS n_tokens
        |FROM (SELECT lang, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
        |      FROM documents)
        |GROUP BY 1""".stripMargin,

    "ev_funnel" ->
      """WITH ev AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |s1 AS (SELECT user_id, min(ts) AS t FROM ev WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t FROM ev e JOIN s1 ON e.user_id = s1.user_id
        |       WHERE e.event_type = 'click' AND e.ts > s1.t GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t FROM ev e JOIN s2 ON e.user_id = s2.user_id
        |       WHERE e.event_type = 'purchase' AND e.ts > s2.t GROUP BY 1)
        |SELECT 'view' AS stage, 1 AS stage_idx, count(*) AS n_users FROM s1
        |UNION ALL SELECT 'click', 2, count(*) FROM s2
        |UNION ALL SELECT 'purchase', 3, count(*) FROM s3""".stripMargin,

    "ev_range" ->
      """WITH ev AS (SELECT event_id, user_id, event_type,
        |              epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |p AS (SELECT event_id AS purchase_id, user_id, us FROM ev
        |      WHERE event_type = 'purchase'),
        |e AS (SELECT event_id, user_id, us FROM ev WHERE event_type = 'error')
        |SELECT p.purchase_id, p.user_id, count(e.event_id) AS n_errors
        |FROM p LEFT JOIN e ON p.user_id = e.user_id
        |  AND e.us >= p.us AND e.us <= p.us + 1800000000
        |GROUP BY 1, 2""".stripMargin,

    "ev_overlap" ->
      """WITH ev AS (SELECT event_id, user_id, event_type,
        |              epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |p AS (SELECT event_id AS purchase_id, user_id, us AS ps,
        |             us + 1800000000 AS pe FROM ev WHERE event_type = 'purchase'),
        |v AS (SELECT event_id AS view_id, user_id, us AS vs,
        |             us + 600000000 AS ve FROM ev WHERE event_type = 'view')
        |SELECT p.purchase_id, p.user_id, count(v.view_id) AS n_views
        |FROM p LEFT JOIN v ON p.user_id = v.user_id
        |  AND p.ps <= v.ve AND v.vs <= p.pe
        |GROUP BY 1, 2""".stripMargin,

    "ev_asof" ->
      """WITH ev AS (SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
        |p AS (SELECT event_id, user_id, ts FROM ev WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, ts,
        |             max(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS click_cents
        |      FROM ev WHERE event_type = 'click' GROUP BY 1, 2)
        |SELECT p.event_id, p.user_id, c.click_cents
        |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts""".stripMargin,

    "ev_asof_fwd" ->
      """WITH ev AS (SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
        |p AS (SELECT event_id, user_id, ts FROM ev WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, ts,
        |             max(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS click_cents
        |      FROM ev WHERE event_type = 'click' GROUP BY 1, 2)
        |SELECT p.event_id, p.user_id, c.click_cents
        |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts <= c.ts""".stripMargin,

    "ev_asof_chunked" ->
      """WITH ev AS (SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
        |p AS (SELECT event_id, user_id, ts FROM ev WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, ts,
        |             max(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS click_cents
        |      FROM ev WHERE event_type = 'click' GROUP BY 1, 2)
        |SELECT p.event_id, p.user_id, c.click_cents
        |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts""".stripMargin,

    "ev_retention" ->
      """WITH ev AS (SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d FROM events),
        |c AS (SELECT user_id, min(d) AS cohort_day FROM ev GROUP BY 1),
        |x AS (SELECT DISTINCT ev.user_id, c.cohort_day,
        |             date_diff('day', c.cohort_day, ev.d) AS day_offset
        |      FROM ev JOIN c ON ev.user_id = c.user_id)
        |SELECT cohort_day, CAST(day_offset AS INTEGER) AS day_offset,
        |       count(*) AS n_users
        |FROM x GROUP BY 1, 2""".stripMargin,

    "ev_sessions" ->
      """WITH ev AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id FROM events),
        |x AS (
        |  SELECT user_id, ts, event_id,
        |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM ev),
        |y AS (
        |  SELECT user_id, ts, event_id,
        |         CASE WHEN prev_ts IS NULL OR ts - prev_ts > INTERVAL 30 MINUTE
        |              THEN 1 ELSE 0 END AS new_session
        |  FROM x),
        |z AS (
        |  SELECT user_id, ts,
        |         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
        |  FROM y)
        |SELECT user_id, min(ts) AS session_start, count(*) AS n_events
        |FROM z GROUP BY user_id, session_seq""".stripMargin,

    // chunked plan is row-identical by construction — same oracle
    "ev_sessions_chunked" ->
      """WITH ev AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id FROM events),
        |x AS (
        |  SELECT user_id, ts, event_id,
        |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM ev),
        |y AS (
        |  SELECT user_id, ts, event_id,
        |         CASE WHEN prev_ts IS NULL OR ts - prev_ts > INTERVAL 30 MINUTE
        |              THEN 1 ELSE 0 END AS new_session
        |  FROM x),
        |z AS (
        |  SELECT user_id, ts,
        |         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
        |  FROM y)
        |SELECT user_id, min(ts) AS session_start, count(*) AS n_events
        |FROM z GROUP BY user_id, session_seq""".stripMargin,

    // closed form: hot session k starts at its block's first event
    // (i = 1000k → base + k·60000 s + k·3600 s) with exactly 1000 events;
    // normal users' every event is its own session (2 h > 30 min gap)
    "ev_skew_sessions" ->
      """WITH hot AS (
        |  SELECT CAST(1 AS BIGINT) AS user_id,
        |         TIMESTAMP '2024-01-01 00:00:00'
        |           + (k * 60000 + k * 3600) * INTERVAL 1 SECOND AS session_start,
        |         CAST(1000 AS BIGINT) AS n_events
        |  FROM range(0, 100) t(k)),
        |norm AS (
        |  SELECT CAST(u AS BIGINT) AS user_id,
        |         TIMESTAMP '2024-01-01 00:00:00'
        |           + (j * 7200) * INTERVAL 1 SECOND AS session_start,
        |         CAST(1 AS BIGINT) AS n_events
        |  FROM range(2, 12) t(u), range(0, 100) t2(j))
        |SELECT user_id, session_start, n_events FROM hot
        |UNION ALL
        |SELECT user_id, session_start, n_events FROM norm""".stripMargin
  )
}
