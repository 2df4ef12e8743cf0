package graft.algos

import scala.collection.mutable

import org.apache.logging.log4j.Level
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

import graft.{LogCapture, SparkSpec}
import graft.core.GraphGenerators

/** kTruss on the block superstep runtime against a driver-side sequential
  * peel: one edge at a time, supports decremented per destroyed triangle. */
class KTrussSpec extends SparkSpec {
  import spark.implicits._

  /** The k-truss of the simple graph under `rows` (self-loops dropped,
    * repeats and both directions merged), each edge (a < b) with its
    * support inside the truss. */
  private def sequential(rows: Seq[(Long, Long)], k: Int): Map[(Long, Long), Long] = {
    val canon = rows.collect { case (a, b) if a != b => (math.min(a, b), math.max(a, b)) }.distinct
    val nbrs = mutable.Map.empty[Long, mutable.Set[Long]]
    canon.foreach { case (a, b) =>
      nbrs.getOrElseUpdate(a, mutable.Set.empty) += b
      nbrs.getOrElseUpdate(b, mutable.Set.empty) += a
    }
    def common(a: Long, b: Long): Iterable[Long] = nbrs(a).filter(nbrs(b))
    val support = mutable.Map(canon.map { case (a, b) => (a, b) -> common(a, b).size.toLong }: _*)
    val queue = mutable.Queue(support.keys.filter(support(_) < k - 2).toSeq: _*)
    while (queue.nonEmpty) {
      val (a, b) = queue.dequeue()
      if (support.contains((a, b))) {
        support -= ((a, b))
        common(a, b).foreach { w =>
          Seq((math.min(a, w), math.max(a, w)), (math.min(b, w), math.max(b, w))).foreach { e =>
            support(e) -= 1
            if (support(e) == k - 3) queue += e
          }
        }
        nbrs(a) -= b
        nbrs(b) -= a
      }
    }
    support.toMap
  }

  private def truss(edges: DataFrame, k: Int, maxIter: Int = 100): Map[(Long, Long), Long] =
    GraphAlgorithms.kTruss(edges, k, maxIter).collect()
      .map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue) -> r.getLong(2)).toMap

  private def check(rows: Seq[(Long, Long)], k: Int, what: String): Map[(Long, Long), Long] = {
    val got = truss(rows.toDF("src", "dst"), k)
    val want = sequential(rows, k)
    assert(got === want, s"$what k=$k: missing ${(want.keySet -- got.keySet).take(5)}, " +
      s"extra ${(got.keySet -- want.keySet).take(5)}, " +
      s"support ${want.collect { case (e, s) if got.get(e).exists(_ != s) => (e, s, got(e)) }.take(5)}")
    got
  }

  /** Hub-star + path + skip chords over 2..n, and an 11-clique on 2..12:
    * the g_skew_ktruss drill graph in small. */
  private def trussDrill(n: Int): Seq[(Long, Long)] = {
    val star = (2 to n).map(c => (1L, c.toLong))
    val path = (2 until n).map(c => (c.toLong, c + 1L))
    val skip = (2 until n - 1).map(c => (c.toLong, c + 2L))
    val clique = for (u <- 2 to 12; v <- u + 1 to 12) yield (u.toLong, v.toLong)
    star ++ path ++ skip ++ clique
  }

  /** Triangulated m × m grid: a triangle-strip lattice whose border edges
    * sit in one triangle and inner edges in two, so at k = 4 the peel eats
    * it from the border inwards, one ring per round. */
  private def lattice(m: Int): Seq[(Long, Long)] = {
    def v(x: Int, y: Int): Long = (x * m + y).toLong
    for {
      x <- 0 until m; y <- 0 until m
      (dx, dy) <- Seq((1, 0), (0, 1), (1, 1)) if x + dx < m && y + dy < m
    } yield (v(x, y), v(x + dx, y + dy))
  }

  test("random G(n,p) graphs at k = 3, 4 and 5 match the sequential peel") {
    for (seed <- Seq(7, 23); k <- Seq(3, 4, 5)) {
      val rnd = new scala.util.Random(seed)
      val rows = for {
        u <- 1 to 40; v <- u + 1 to 40 if rnd.nextDouble() < 0.18
      } yield (u.toLong, v.toLong)
      check(rows, k, s"G(40, 0.18) seed $seed")
    }
  }

  test("R-MAT graphs at k = 3, 4 and 5 match the sequential peel") {
    for ((scale, edges, k) <- Seq((8, 1200L, 3), (9, 3000L, 4), (9, 5000L, 5))) {
      val rows = GraphGenerators.rmatGraph(spark, scale, edges).edges
        .select(col("src"), col("dst")).as[(Long, Long)].collect().toSeq
      assert(check(rows, k, s"R-MAT $scale/$edges").nonEmpty)
    }
  }

  /** The hub and the 11-clique on 2..12: every edge with support 10. */
  private val hubClique = (for (u <- 1L to 12L; v <- u + 1 to 12L) yield (u, v) -> 10L).toMap

  test("the 600-vertex hub graph at k = 11 is the hub and clique 12-clique") {
    assert(check(trussDrill(600), 11, "trussDrill") === hubClique) // a 599-degree hub
  }

  test("the 600-vertex hub graph at k = 5 matches the sequential peel") {
    // the skip chords (support 2) go first and take the path and the
    // spokes with them
    assert(check(trussDrill(600), 5, "trussDrill") === hubClique)
  }

  test("k = 3 supports equal brute-force triangle counts on random graphs") {
    // at k = 3 only triangle-free edges go, and they destroy no triangle:
    // the truss is every edge in a triangle, with its whole-graph count
    val rnd = new scala.util.Random(42)
    for ((nV, nE) <- Seq((30, 120), (60, 400), (120, 900), (40, 300))) {
      val rows = Seq.fill(nE)((rnd.nextInt(nV).toLong, rnd.nextInt(nV).toLong))
      val edges = rows.collect { case (a, b) if a != b => (math.min(a, b), math.max(a, b)) }.toSet
      def adj(a: Long, b: Long) = edges((math.min(a, b), math.max(a, b)))
      val want = edges.iterator.map { case (a, b) =>
        (a, b) -> (0L until nV).count(w => w != a && w != b && adj(a, w) && adj(b, w)).toLong
      }.filter(_._2 > 0).toMap
      assert(truss(rows.toDF("src", "dst"), 3) === want, s"nV=$nV nE=$nE")
    }
  }

  test("self-loops, repeats, both directions and nulls: one simple graph") {
    val rnd = new scala.util.Random(5)
    val base = for {
      u <- 1 to 30; v <- u + 1 to 30 if rnd.nextDouble() < 0.3
    } yield (u.toLong, v.toLong)
    val messy = base ++ base.take(40).map(_.swap) ++ base.take(25) ++ (1L to 30L by 3).map(v => (v, v))
    for (k <- Seq(3, 4, 5)) check(rnd.shuffle(messy), k, "messy")
    val withNulls = (messy.map { case (a, b) => (Option(a), Option(b)) } ++
      Seq((None, Some(1L)), (Some(2L), None))).toDF("src", "dst")
    assert(truss(withNulls, 4) === sequential(messy, 4))
    // integer ids come back as integers
    val ints = messy.map { case (a, b) => (a.toInt, b.toInt) }.toDF("src", "dst")
    val out = GraphAlgorithms.kTruss(ints, 4)
    assert(out.schema.map(_.dataType).take(2) === Seq(IntegerType, IntegerType))
    assert(truss(ints, 4) === sequential(messy, 4))
  }

  test("an empty truss, and an empty input, give no rows") {
    // a path has no triangle; two triangles sharing a vertex have support 1
    assert(truss((0L until 20L).map(i => (i, i + 1)).toDF("src", "dst"), 3).isEmpty)
    val bowtie = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (3L, 5L))
    assert(truss(bowtie.toDF("src", "dst"), 4).isEmpty)
    assert(truss(Seq.empty[(Long, Long)].toDF("src", "dst"), 3).isEmpty)
  }

  test("maxIter exhaustion warns and returns a superset filtered once") {
    val rows = lattice(8)
    val fix = check(rows, 4, "lattice")
    var capped = Map.empty[(Long, Long), Long]
    val warned = LogCapture("graft.algos.GraphAlgorithms", Level.WARN) {
      capped = truss(rows.toDF("src", "dst"), 4, maxIter = 1)
    }
    assert(warned.exists(_.contains("kTruss(k=4) exhausted maxIter=1")), warned)
    assert(fix.keySet.subsetOf(capped.keySet) && capped.size > fix.size)
    assert(capped.values.forall(_ >= 2L))
    // the fixpoint itself warns of nothing
    assert(LogCapture("graft.algos.GraphAlgorithms", Level.WARN)(truss(rows.toDF("src", "dst"), 4)).isEmpty)
  }
}
