package graft

import org.apache.spark.sql.functions._
import scala.util.Random

import graft.algos.TriangleCreditSweep

/** Pins the things the cogroup-style k-truss sweep depends on but cannot
  * express in types:
  *
  *  1. SqlHashPartitioner replicates Catalyst's hashpartitioning —
  *     the fv-routing alignment the whole design rests on. A drift here
  *     is loud at algorithm level (all supports 0) but this pin localizes
  *     it to one line on a Spark upgrade.
  *  2. Exact support equivalence vs a driver-side brute-force triangle
  *     count on random oriented graphs (the contract the r16 SQL sweep
  *     satisfied: rows only for edges in ≥ 1 triangle, support exact),
  *     with the hot fv tier on and off.
  *  3. Empty and triangle-free inputs produce no rows.
  */
class TriangleCreditSweepSpec extends SparkSpec {
  import spark.implicits._

  test("SqlHashPartitioner == Catalyst pmod(hash(long), n) for every n tried") {
    val rnd = new Random(7)
    val vs = (Seq(0L, 1L, -1L, Long.MaxValue, Long.MinValue) ++
      Seq.fill(200)(rnd.nextLong())).distinct
    for (n <- Seq(1, 2, 7, 32, 133, 4096)) {
      val p = new TriangleCreditSweep.SqlHashPartitioner(n)
      val sqlSide = vs.toDF("v")
        .select(col("v"), pmod(hash(col("v")), lit(n)).as("pid"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      vs.foreach { v =>
        assert(p.getPartition(v) == sqlSide(v),
          s"partitioner drift for v=$v n=$n: scala=${p.getPartition(v)} " +
            s"sql=${sqlSide(v)} — Catalyst hashpartitioning changed; " +
            "re-align SqlHashPartitioner (TriangleCreditSweep scaladoc)")
      }
    }
  }

  /** Random oriented simple graph: canonical pairs, random direction. */
  private def randomDirE(rnd: Random, nV: Int, nE: Int): Seq[(Long, Long)] = {
    val set = scala.collection.mutable.Set.empty[(Long, Long)]
    while (set.size < nE) {
      val a = rnd.nextInt(nV).toLong; val b = rnd.nextInt(nV).toLong
      if (a != b) set += ((math.min(a, b), math.max(a, b)))
    }
    set.toSeq.map { case (a, b) => if (rnd.nextBoolean()) (a, b) else (b, a) }
  }

  /** Driver-side reference: for oriented (u,v), triangles are
    * w ∈ fwd(u) ∩ fwd(v); each triangle credits its three canonical
    * edges. */
  private def refSupports(dirE: Seq[(Long, Long)]): Map[(Long, Long), Long] = {
    val fwd = dirE.groupBy(_._1).map { case (u, es) => u -> es.map(_._2).toSet }
    val credits = scala.collection.mutable.Map.empty[(Long, Long), Long]
      .withDefaultValue(0L)
    for ((u, v) <- dirE; w <- fwd.getOrElse(u, Set.empty) intersect fwd.getOrElse(v, Set.empty)) {
      for ((x, y) <- Seq((u, v), (u, w), (v, w)))
        credits((math.min(x, y), math.max(x, y))) += 1L
    }
    credits.toMap
  }

  private def runSweep(dirE: Seq[(Long, Long)], parts: Int): Map[(Long, Long), Long] =
    TriangleCreditSweep.sweep(dirE.toDF("u", "v"), parts)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap

  test("sweep supports == brute force on random oriented graphs, several part counts") {
    val rnd = new Random(42)
    for ((nV, nE, parts) <- Seq((30, 120, 1), (60, 400, 3), (120, 900, 7),
                                (40, 300, 16))) {
      val dirE = randomDirE(rnd, nV, nE)
      val expected = refSupports(dirE)
      val got = runSweep(dirE, parts)
      assert(got == expected,
        s"sweep mismatch at nV=$nV nE=$nE parts=$parts: " +
          s"missing=${(expected.keySet -- got.keySet).take(5)} " +
          s"extra=${(got.keySet -- expected.keySet).take(5)} " +
          s"diff=${expected.collect { case (k, c) if got.get(k).exists(_ != c) => (k, c, got(k)) }.take(5)}")
    }
  }

  test("hot tier disabled (hotListMaxBytes=0 → all lists cold) changes nothing") {
    val rnd = new Random(9)
    val dirE = randomDirE(rnd, 50, 500)
    val expected = refSupports(dirE)
    val key = "spark.graft.truss.hotListMaxBytes"
    val prev = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "0")
      assert(runSweep(dirE, 5) == expected)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("empty and triangle-free edge sets produce no rows") {
    assert(runSweep(Seq.empty, 2).isEmpty)
    // a path has no triangles
    assert(runSweep((0L until 20L).map(i => (i, i + 1)), 3).isEmpty)
  }
}
