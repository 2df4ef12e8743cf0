package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.algos.GraphAlgorithms
import graft.core.{KGraph, SkewUtils}

/**
 * Hub-degree skew hardening for the adjacency-intersection family
 * (triangles / LCC / Adamic-Adar / Jaccard) and the salted co-occurrence
 * pair expansion: bucket partials must be EXACTLY equivalent to the
 * whole-array plan, and a hub's work must spread over HubBuckets shuffle
 * keys instead of one straggler task.
 */
class SkewSpec extends SparkSpec {

  /** Hub-star + ring: (1, c) for 2..n plus (c, c+1) for 2..n-1 — vertex 1
    * has degree n-1 and every ring edge closes a triangle through it. */
  private def starRing(n: Int): KGraph = {
    import spark.implicits._
    val star = (2 to n).map(c => (1L, c.toLong, 1.0))
    val ring = (2 until n).map(c => (c.toLong, c.toLong + 1, 1.0))
    KGraph.fromEdges((star ++ ring).toDF("src", "dst", "value"), id => id)
  }

  test("hub-split LCC matches the closed form on star+ring") {
    val n = 600 // hub degree 599 > cap 64 → split into HubBuckets partials
    val g = starRing(n)
    val p = GraphAlgorithms.prepareNeighborhood(g, hubDegreeCap = 64)
    val lcc = GraphAlgorithms.localClusteringCoefficient(g, p)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // same IEEE ops as the engine: 2.0·tri/(deg·(deg−1))
    assert(lcc(1L) === 2.0 * (n - 2) / ((n - 1) * (n - 2)))
    assert(lcc(2L) === 1.0)          // nbrs {1,3}, one triangle
    assert(lcc(n.toLong) === 1.0)    // nbrs {1,n-1}, one triangle
    for (c <- 3 until n)             // nbrs {1,c-1,c+1}, two triangles
      assert(lcc(c.toLong) === 2.0 * 2 / (3 * 2), s"vertex $c")
  }

  test("hub-split ≡ unsplit for jaccard / adamic-adar / triangle counts") {
    val g = starRing(300)
    val split = GraphAlgorithms.prepareNeighborhood(g, hubDegreeCap = 32)
    val whole = GraphAlgorithms.prepareNeighborhood(g, hubDegreeCap = Int.MaxValue)
    assert(split.hubCount === 1L)
    assert(whole.hubCount === 0L)

    def edgeMap(df: DataFrame): Map[(Long, Long), Double] =
      df.collect().map(r => (r.getLong(0), r.getLong(1)) ->
        math.round(r.getDouble(2) * 1e6) / 1e6).toMap

    assert(edgeMap(GraphAlgorithms.jaccard(split, conversionEnabled = false)) ===
      edgeMap(GraphAlgorithms.jaccard(whole, conversionEnabled = false)))
    assert(edgeMap(GraphAlgorithms.adamicAdar(split, conversionEnabled = false)) ===
      edgeMap(GraphAlgorithms.adamicAdar(whole, conversionEnabled = false)))
    assert(GraphAlgorithms.globalTriangleCount(split) ===
      GraphAlgorithms.globalTriangleCount(whole))
    assert(collectMap(GraphAlgorithms.triangleCounts(g, split)) ===
      collectMap(GraphAlgorithms.triangleCounts(g, whole)))
  }

  test("hub adjacency is bucket-partitioned; mixed-edge expansion is filtered") {
    val n = 600
    // degree-proportional bucket count: next pow2 ≥ ceil(599/64) = 10 → 16
    val B = 16
    val p = GraphAlgorithms.prepareNeighborhood(starRing(n), hubDegreeCap = 64)

    // all B bucket rows present (empty ones filled), partials partition N(1)
    val hubAdj = p.adj.filter(col("src") === 1L)
      .select(col("bucket"), col("nbrs")).collect()
    assert(hubAdj.map(_.getInt(0)).sorted === (0 until B).toArray)
    val members = hubAdj.flatMap(_.getSeq[Long](1)).sorted
    assert(members === (2 to n).map(_.toLong).toArray)
    // non-hub vertices keep one whole row with bucket -1
    assert(p.adj.filter(col("src") =!= 1L && col("bucket") =!= -1).count() === 0L)

    // FILTERED mixed-edge expansion: edge (1,c) explodes only to the buckets
    // N(c)\{1} hashes into — ≤ 2 rows per edge here, never all B (the
    // linear-in-degree guarantee), and never the hub's own h(1) bucket probe
    val hubRows = GraphAlgorithms.expandEdgesByBucket(p).filter(col("a") === 1L)
      .select(col("b"), col("ja")).collect()
    assert(hubRows.length <= 2 * (n - 1))
    val perEdge = hubRows.groupBy(_.getLong(0)).map(_._2.length)
    assert(perEdge.max <= 2)
    // keys stay inside the hub's bucket space and engage most of it
    val keys = hubRows.map(_.getInt(1)).distinct.sorted
    assert(keys.forall(j => j >= 0 && j < B))
    assert(keys.length > B / 2, s"only ${keys.length} of $B bucket keys engaged")
  }

  test("2·10⁴-degree hub: per-bucket-key work bounded (max ≤ 2× median)") {
    // The straggler bound, asserted on rows per (vertex, bucket) KEY — the
    // scheduling unit a bigger cluster can spread over more tasks. Per-ROW
    // cost is bounded separately — mixed hub/non-hub intersections take the
    // galloping O(small·log big) path (GraphSetOps, pinned by
    // GraphSetExprSpec) — so bounded rows/key ⇒ bounded task time at ANY
    // hub degree.
    val n = 20001 // hub degree 2·10⁴, 78× the cap → pow2(ceil(20000/256)) = 128 buckets
    val B = 128
    val p = GraphAlgorithms.prepareNeighborhood(starRing(n), hubDegreeCap = 256)
    assert(p.hubCount === 1L)
    val perKey = GraphAlgorithms.expandEdgesByBucket(p).filter(col("a") === 1L)
      .groupBy(col("ja")).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1))
    assert(perKey.map(_._1).sorted === (0 until B).toArray, "unengaged bucket keys")
    val counts = perKey.map(_._2).sorted
    val median = counts(counts.length / 2)
    assert(counts.last <= 2 * median,
      s"straggler key: max=${counts.last} median=$median")
    // filtered expansion: ≤ 2 rows per hub edge (ring neighbors), not B
    assert(counts.sum <= 2L * (n - 1))
    // and the hub's own LCC comes out exact through the split + gallop path
    val lcc = GraphAlgorithms.localClusteringCoefficient(starRing(n), p)
      .filter(col("id") === 1L).head().getDouble(1)
    assert(lcc === 2.0 * (n - 2) / ((n - 1).toLong * (n - 2)))
  }

  test("prepareNeighborhood(assumeCanonical) ≡ default on canonical edges") {
    val g = starRing(300) // builder emits src<dst, deduped, no self-loops
    val viaSkip = GraphAlgorithms.prepareNeighborhood(g, hubDegreeCap = 32,
      assumeCanonical = true)
    val full = GraphAlgorithms.prepareNeighborhood(g, hubDegreeCap = 32)
    assert(viaSkip.eCount === full.eCount)
    assert(collectMap(GraphAlgorithms.triangleCounts(g, viaSkip)) ===
      collectMap(GraphAlgorithms.triangleCounts(g, full)))
    assert(GraphAlgorithms.globalTriangleCount(viaSkip) ===
      GraphAlgorithms.globalTriangleCount(full))
  }

  test("hub-split twoHopNeighborCounts ≡ unsplit ≡ brute force on star+ring") {
    val n = 600
    val g = starRing(n)
    val split = GraphAlgorithms.prepareNeighborhood(g, hubDegreeCap = 64)
    val whole = GraphAlgorithms.prepareNeighborhood(g, hubDegreeCap = Int.MaxValue)
    assert(split.hubCount === 1L)
    val gotSplit = collectMap(GraphAlgorithms.twoHopNeighborCounts(split))
    val gotWhole = collectMap(GraphAlgorithms.twoHopNeighborCounts(whole))
    assert(gotSplit === gotWhole)
    // brute force over Scala sets: exactly-2-hop = N(N(v)) \ N(v) \ {v}
    val adj = scala.collection.mutable.Map.empty[Long, Set[Long]]
      .withDefaultValue(Set.empty)
    g.edges.select(col("src"), col("dst")).collect().foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      adj(a) = adj(a) + b; adj(b) = adj(b) + a
    }
    val brute = adj.keys.map { v =>
      v -> (adj(v).flatMap(adj) -- adj(v) - v).size.toLong
    }.filter(_._2 > 0).toMap
    assert(gotSplit === brute)
  }

  test("twoHopNeighborCounts row-based tail ≡ array tail (forced + mixed split)") {
    val g = starRing(600)
    val p = GraphAlgorithms.prepareNeighborhood(g, hubDegreeCap = 64)
    val arrayPath = collectMap(GraphAlgorithms.twoHopNeighborCounts(p))
    // volume bound 1: EVERY vertex oversize → pure row-based tail
    val allRows = collectMap(GraphAlgorithms.twoHopNeighborCounts(p, 1L))
    assert(allRows === arrayPath)
    // mixed: only the hub (candidate volume ≈ Σ deg(ring) ≈ 3·599) oversize,
    // ring vertices (volume ≈ deg(hub) + 2·3 ≈ 605) stay on the array tail
    val mixed = collectMap(GraphAlgorithms.twoHopNeighborCounts(p, 1000L))
    assert(mixed === arrayPath)
  }

  test("2·10⁴-degree hub: two-hop level-1 dedup keys are salt-bounded") {
    // The straggler unit for the 2-hop candidate pipeline is the LEVEL-1
    // dedup key (v, salt): a hub MIDDLE's bucket rows must spread across
    // the salt space instead of funneling one key, and no key's row count
    // may grow with the hub degree beyond rows(v)/salt.
    val n = 20001 // hub degree 2·10⁴ → 128 buckets at cap 256
    val p = GraphAlgorithms.prepareNeighborhood(starRing(n), hubDegreeCap = 256)
    assert(p.hubCount === 1L)
    // every ring vertex receives the hub's 128 bucket rows + 2 ring rows;
    // per (v, salt) key that is ≤ ceil(130/32) + collision slack
    val perKey = GraphAlgorithms.twoHopContrib(p)
      .filter(col("v") =!= 1L)
      .groupBy(col("v"), col("s")).count()
      .agg(max(col("count")), min(col("count"))).head()
    assert(perKey.getLong(0) <= 16L,
      s"level-1 straggler key: max=${perKey.getLong(0)} rows")
    // the hub's own contributions (600+ small middles) also stay spread
    val hubKeys = GraphAlgorithms.twoHopContrib(p)
      .filter(col("v") === 1L)
      .groupBy(col("s")).count().collect().map(_.getLong(1))
    assert(hubKeys.length === GraphAlgorithms.TwoHopSalt)
    assert(hubKeys.max <= 2 * hubKeys.sorted.apply(hubKeys.length / 2),
      s"hub-vertex salt skew: max=${hubKeys.max}")
  }

  test("saltedPairs ≡ direct pair expansion (chunked mega-groups included)") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    // group sizes straddle the chunk boundary: 3, 8 (=chunk), 9, 20, 35
    val groups = Seq(3, 8, 9, 20, 35).zipWithIndex.map { case (sz, i) =>
      (i.toLong, rnd.shuffle((1 to 500).map(_.toLong).toList).take(sz).sorted.toArray)
    }
    val df = groups.toDF("k", "ps")
    val got = SkewUtils.saltedPairs(df, "ps", chunk = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(identity).map { case (k, v) => k -> v.length }
    val expected = groups.flatMap { case (_, ps) =>
      for (i <- ps.indices; j <- i + 1 until ps.length) yield (ps(i), ps(j))
    }.groupBy(identity).map { case (k, v) => k -> v.length }
    assert(got === expected)
  }

  test("kTruss maxIter exhaustion: supports w.r.t. final set, filtered once") {
    import spark.implicits._
    // k=4 on clique+triangle+pendant needs 2 peel rounds; capping at 1
    // must return round-1 survivors re-filtered against their OWN supports
    // (the pre-incremental exhaustion semantics). Fixture from LayoutSpec:
    // 4-clique {1..4} + triangle {4,5,6} + pendant 6-7.
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (4L, 6L), (5L, 6L), (6L, 7L)).toDF("src", "dst")
    // full run: clique only
    val full = GraphAlgorithms.kTruss(edges, k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full === Set((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L)))
    // round 1 drops pendant + triangle edges (support < 2); within the
    // survivors the supports are already final here, so maxIter=1 equals
    // the fixpoint for THIS graph — the point is it must not throw or
    // return un-refiltered supports
    val capped = GraphAlgorithms.kTruss(edges, k = 4, maxIter = 1)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    capped.foreach { case (e, sup) => assert(sup >= 2, s"$e below threshold") }
    // and a cascade case where the cap genuinely truncates: k=4 on a graph
    // whose peel needs ≥2 rounds — capped result is a SUPERSET of the
    // fixpoint and every emitted support is ≥ k−2 w.r.t. the capped set
    val rnd = new scala.util.Random(3)
    val es = (for {
      u <- 1 to 30; v <- u + 1 to 30
      if rnd.nextDouble() < 0.22
    } yield (u.toLong, v.toLong)).toDF("src", "dst")
    val fix = GraphAlgorithms.kTruss(es, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cap1 = GraphAlgorithms.kTruss(es, k = 5, maxIter = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fix.subsetOf(cap1), "capped peel must over-approximate the fixpoint")
  }

  test("kCore maxIter exhaustion keeps the documented over-approximation") {
    import spark.implicits._
    // path 1-2-3-4-5: k=2 peels everything, but over several cascade
    // rounds; capping must return a superset of the (empty) core with the
    // degrees as maintained at the cap
    val path = (1L to 4L).map(i => (i, i + 1)).toDF("src", "dst")
    assert(GraphAlgorithms.kCore(path, k = 2).count() === 0L)
    val capped = GraphAlgorithms.kCore(path, k = 2, maxIter = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // round 1 removes endpoints 1 and 5; 2 and 4 drop to degree 1
    assert(capped === Map(2L -> 1L, 3L -> 2L, 4L -> 1L))
  }
}
