package graft.algos

import scala.collection.mutable

import org.apache.spark.HashPartitioner
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{ClosureCleanerLog, SparkSpec}
import graft.core.KGraph
import graft.pipeline.Sketches
import graft.pregel.Pregel

/** wcc, kCore, pageRank and HyperBall on the block superstep runtime against
  * sequential replays, on multigraphs with repeated edges, self-loops,
  * isolated vertices and edges to ids that are not vertices. */
class BlockLoopsSpec extends SparkSpec {
  import spark.implicits._

  /** A random awkward multigraph: vertices 0 until nv minus a few holes,
    * edges among 0 until nv + 3 (so some point at non-vertices), with
    * repeats and self-loops; the last vertices have no edges. */
  private case class Fixture(vertices: Seq[Long], edges: Seq[(Long, Long)])

  private def fixture(seed: Int): Fixture = {
    val rnd = new scala.util.Random(seed)
    val nv = 25 + rnd.nextInt(15)
    val holes = Set.fill(3)(rnd.nextInt(nv).toLong)
    val vertices = (0L until nv + 4L).filterNot(holes).filter(_ < nv) ++ Seq(nv + 5L, nv + 6L)
    val base = Seq.fill(2 * nv)((rnd.nextInt(nv + 3).toLong, rnd.nextInt(nv + 3).toLong))
    val edges = base ++ base.take(nv / 3) ++ Seq.fill(3)(rnd.nextInt(nv).toLong).map(v => (v, v))
    Fixture(vertices, edges)
  }

  private val fixtures = Seq(fixture(11), fixture(29), fixture(47), Fixture(Nil, Nil))

  private def graph(f: Fixture, parts: Int): KGraph = KGraph(
    f.vertices.map(v => (v, v)).toDF("id", "value").repartition(parts),
    f.edges.map { case (s, d) => (s, d, 1.0) }.toDF("src", "dst", "value").repartition(parts))

  private def longs(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  // ---- sequential references ----------------------------------------------

  private def unionFind(f: Fixture): Map[Long, Long] = {
    val parent = mutable.Map(f.vertices.map(v => v -> v): _*)
    def find(v: Long): Long = if (parent(v) == v) v else { val r = find(parent(v)); parent(v) = r; r }
    f.edges.foreach { case (a, b) =>
      if (parent.contains(a) && parent.contains(b)) {
        val (ra, rb) = (find(a), find(b))
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
      }
    }
    f.vertices.map(v => v -> find(v)).toMap
  }

  /** Sequential peel of the undirected multigraph: a self-loop adds 2 to its
    * vertex's degree, a repeated edge counts each time. */
  private def peel(f: Fixture, k: Int): Map[Long, Long] = {
    val rows = f.edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
    val deg = mutable.Map.empty[Long, Long].withDefaultValue(0L)
    rows.foreach { case (a, _) => deg(a) += 1 }
    val nbrs = rows.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val alive = mutable.Set(deg.keys.toSeq: _*)
    val queue = mutable.Queue(alive.filter(deg(_) < k).toSeq: _*)
    alive --= queue
    while (queue.nonEmpty) {
      val u = queue.dequeue()
      nbrs(u).foreach { v =>
        if (alive(v)) { deg(v) -= 1; if (deg(v) < k) { alive -= v; queue += v } }
      }
    }
    alive.map(v => v -> deg(v)).toMap
  }

  private def deltaRank(f: Fixture, tol: Double, reset: Double, src: Option[Long],
                        maxIter: Int): Map[Long, Double] = {
    val isVertex = f.vertices.toSet
    val outDeg = f.edges.groupBy(_._1).view.mapValues(_.size).toMap
    val seed = f.vertices.map(v => v -> src.map(s => if (v == s) 1.0 else 0.0).getOrElse(reset)).toMap
    val rank = mutable.Map(seed.toSeq: _*)
    var delta = seed
    var it = 0
    while (it < maxIter && delta.values.exists(_ > tol)) {
      val msg = mutable.Map.empty[Long, Double].withDefaultValue(0.0)
      f.edges.foreach { case (u, v) =>
        if (delta.getOrElse(u, 0.0) > tol && isVertex(v)) msg(v) += delta(u) / outDeg(u)
      }
      delta = f.vertices.map(v => v -> msg(v) * (1 - reset)).toMap
      f.vertices.foreach(v => rank(v) += delta(v))
      it += 1
    }
    rank.toMap
  }

  /** Register-max replay: every vertex and every edge source holds a counter
    * (the library's singleton for a vertex, empty for a non-vertex source)
    * and takes the bytewise max with its successors' each round. Returns
    * the (id, bucket, r) table and the (t, n_regs, Σr) trajectory. */
  private def hyperBall(f: Fixture, p: Int): (Set[(Long, Long, Int)], Seq[(Long, Long, Long)]) = {
    val lanes = (1 << p) / 8
    val init = Sketches.hllPackedSingletonsLongs(
        f.vertices.toDF("id").select(col("id"), col("id").cast("string").as("k")), "id", "k", p)
      .collect().map(r => r.getLong(0) -> Array.tabulate(lanes)(i => r.getLong(i + 1))).toMap
    var regs: Map[Long, Array[Long]] =
      f.edges.map(_._1).map(_ -> new Array[Long](lanes)).toMap ++ init
    val succ = f.edges.filter { case (a, b) => a != b }.distinct.groupBy(_._1)
      .view.mapValues(_.map(_._2)).toMap
    def stats(m: Map[Long, Array[Long]]) = m.values.map(Sketches.longRegStats)
      .foldLeft((0L, 0L)) { case ((n, s), (a, b)) => (n + a, s + b) }
    val traj = mutable.ArrayBuffer((0L, stats(regs)._1, stats(regs)._2))
    var changed = stats(regs)._1 > 0
    while (changed) {
      val next = regs.map { case (v, c) =>
        v -> succ.getOrElse(v, Nil).flatMap(regs.get).foldLeft(c)(RegisterMax.maxed)
      }
      val (n, s) = stats(next)
      changed = (n, s) != ((traj.last._2, traj.last._3))
      if (changed) traj += ((traj.size.toLong, n, s))
      regs = next
    }
    val table = regs.toSeq.flatMap { case (v, c) =>
      (0 until lanes * 8).map(b => (v, b.toLong, ((c(b / 8) >>> (8 * (b % 8))) & 0xFF).toInt))
        .filter(_._3 > 0)
    }.toSet
    (table, traj.toSeq)
  }

  private def close(a: Map[Long, Double], b: Map[Long, Double]): Boolean =
    a.keySet == b.keySet && a.forall { case (k, v) => math.abs(v - b(k)) <= 1e-9 * math.max(1.0, b(k)) }

  // ---- the public loops ---------------------------------------------------

  for (parts <- Seq(1, 3, 4)) {
    test(s"wcc, kCore, pageRank and hyperBall match sequential replays ($parts input partitions)") {
      fixtures.foreach { f =>
        val g = graph(f, parts)
        assert(longs(GraphAlgorithms.wcc(g)) === unionFind(f), f)
        for (k <- Seq(2, 4))
          assert(longs(GraphAlgorithms.kCore(g.edges, k)) === peel(f, k), s"k=$k $f")
        def ranks(df: DataFrame) = df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
        assert(close(ranks(GraphAlgorithms.pageRank(g)), deltaRank(f, 0.0001, 0.15, None, 100)), f)
        val src = f.vertices.headOption
        assert(close(ranks(GraphAlgorithms.pageRank(g, srcVertexId = src, maxIterations = 4)),
          deltaRank(f, 0.0001, 0.15, src, 4)), f)
        val (regs, traj) = GraphAlgorithms.hyperBallWithTrajectory(g, p = 6)
        val (wantRegs, wantTraj) = hyperBall(f, 6)
        assert(regs.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet === wantRegs)
        assert(traj.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq === wantTraj)
      }
    }
  }

  test("kCore and pageRank keep their capped-round results") {
    val f = fixture(11)
    val g = graph(f, 4)
    def ranks(df: DataFrame) = df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    for (cap <- Seq(0, 1, 2, 3))
      assert(close(ranks(GraphAlgorithms.pageRank(g, maxIterations = cap)),
        deltaRank(f, 0.0001, 0.15, None, cap)), s"cap $cap")
    // a path peels one vertex from each end per round
    val path = (1L to 9L).map(i => (i, i + 1)).toDF("src", "dst")
    assert(longs(GraphAlgorithms.kCore(path, k = 2, maxIter = 2)) ===
      Map(3L -> 1L, 4L -> 2L, 5L -> 2L, 6L -> 2L, 7L -> 2L, 8L -> 1L))
    assert(longs(GraphAlgorithms.kCore(path, k = 2, maxIter = 0)) ===
      ((2L to 9L).map(_ -> 2L) ++ Seq(1L -> 1L, 10L -> 1L)).toMap)
  }

  // ---- the runtime at other partition counts ------------------------------

  for (n <- Seq(1, 3)) {
    test(s"the combining vertex programs give the same results at $n runtime partitions") {
      val part = new HashPartitioner(n)
      fixtures.foreach { f =>
        val g = graph(f, 2)
        val both = BlockLoops.keyed(g.edges, part, forward = true, backward = true, loops = true)
        val labels = Pregel.run(spark, new MinLabel,
          BlockLoops.vertexIds(g.vertices).mapPartitions(new OwnLabels), BlockLoops.counted(both),
          numPartitions = n, maxIterations = 101)
        assert(labels.vertices.collect().toMap === unionFind(f))
        val core = Pregel.run(spark, new DegreePeel(3), both.mapPartitions(new Sources),
          BlockLoops.counted(both), numPartitions = n, maxIterations = 101)
        assert(core.vertices.collect().filter(_._2 > 0).toMap === peel(f, 3))
        val ranks = Pregel.run(spark, new DeltaRank(0.0001, 0.15),
          BlockLoops.vertexIds(g.vertices).mapPartitions(new RankSeeds(0.15, None)),
          BlockLoops.weighted(BlockLoops.keyed(g.edges, part, forward = true, backward = false, loops = true)),
          numPartitions = n, maxIterations = 101)
        assert(close(ranks.vertices.collect().toMap, deltaRank(f, 0.0001, 0.15, None, 100)))
        Seq(labels, core, ranks).foreach(_.unpersistState())
      }
    }
  }

  // ---- no per-round closure cleaning --------------------------------------

  test("no closure is cleaned per round: the count does not grow with the rounds") {
    def path(n: Int): KGraph = {
      val e = (0L until n - 1L).map(i => (i, i + 1, 1.0)).toDF("src", "dst", "value").localCheckpoint()
      KGraph((0L until n).map(i => (i, i)).toDF("id", "value").localCheckpoint(), e)
    }
    val (short, long) = (path(6), path(30))
    // the probe sees a lambda passed to an RDD op
    assert(ClosureCleanerLog(spark.sparkContext.parallelize(Seq(1, 2), 1).map(_ + 1).count()).nonEmpty)
    val runs: Seq[(String, KGraph => DataFrame)] = Seq(
      "wcc" -> (g => GraphAlgorithms.wcc(g)),
      "kCore" -> (g => GraphAlgorithms.kCore(g.edges, 2)),
      "pageRank" -> (g => GraphAlgorithms.pageRank(g)),
      "hyperBall" -> (g => GraphAlgorithms.hyperBall(g)))
    // when another suite has set a checkpoint dir, every 10th round's
    // lineage cut is a reliable checkpoint, written by Spark through a
    // closure of its own: a cost per cut, not per round
    def cleaned(body: => Unit): Int =
      ClosureCleanerLog(body).count(!_.contains("writeRDDToCheckpointDirectory"))
    runs.foreach { case (name, run) =>
      run(short).collect() // warm
      val few = cleaned(run(short).collect())
      val many = cleaned(run(long).collect())
      assert(many <= few, s"$name: $few closures cleaned on the short path, $many on the long one")
    }
  }
}
