package graft

import graft.algos.compute.AlgorithmRegistry

/** GraphAlgorithmType registry parity: run every named algorithm end-to-end
  * from a bare edge RDD (the REST surface's dispatch path). */
class RegistrySpec extends SparkSpec {

  def edges = spark.sparkContext.parallelize(
    (0L until 9L).map(i => (i, i + 1, 1.0)) ++ (10L until 20L).map(i => (i, i + 1, 1.0)))

  test("registry runs every named algorithm") {
    val wcc = AlgorithmRegistry.run(spark, "wcc", edges).collect().toMap
    assert(wcc(5L) === 0L && wcc(15L) === 10L)
    val bfs = AlgorithmRegistry.run(spark, "bfs", edges,
      Map("srcVertexId" -> 10L)).collect().toMap
    assert(bfs(13L) === 3L)
    val sssp = AlgorithmRegistry.run(spark, "sssp", edges,
      Map("srcVertexId" -> 0L)).collect().toMap
    assert(sssp(7L) === 7.0)
    val mssp = AlgorithmRegistry.run(spark, "mssp", edges,
      Map("landmarkVertexIds" -> Set(0L, 10L))).collect().toMap
    assert(mssp(5L).asInstanceOf[Map[Long, Double]](0L) === 5.0)
    val pr = AlgorithmRegistry.run(spark, "pagerank", edges,
      Map("tolerance" -> 0.0001, "resetProbability" -> 0.15)).collect().toMap
    assert(math.abs(pr(0L).asInstanceOf[(Double, Double)]._1 - 0.15) < 1e-12)
    val lp = AlgorithmRegistry.run(spark, "lp", edges).collect().toMap
    assert(lp(0L) === 0L)
    val lcc = AlgorithmRegistry.run(spark, "lcc", edges, maxIterations = 10).collect().toMap
    assert(lcc(5L) === 0.0) // chains have no triangles
    // svdpp over a small bipartite rating set: users 1-2, items 10-11
    val ratings = spark.sparkContext.parallelize(Seq(
      (1L, 10L, 5.0), (1L, 11L, 3.0), (2L, 10L, 4.0)))
    val svdpp = AlgorithmRegistry.run(spark, "svdpp", ratings,
      Map("vector.size" -> 4, "iterations" -> 2, "random.seed" -> 42L),
      maxIterations = 10).collect().toMap
    assert(svdpp.keySet === Set(1L, 2L, -11L, -12L)) // users as id, items as -id-1
    svdpp.values.foreach { v =>
      val sv = v.asInstanceOf[graft.algos.compute.Cf.SvdppValue]
      assert(sv.factors.length === 4)
    }
    intercept[IllegalArgumentException] {
      AlgorithmRegistry.run(spark, "nope", edges)
    }
    assert(AlgorithmRegistry.initialVertexValue("bfs", 7L) === Long.MaxValue)
    assert(AlgorithmRegistry.algorithms.size === 8) // GraphAlgorithmType parity
  }

  test("a sized layout has one partition per 50,000 edges, capped at the parallelism") {
    import AlgorithmRegistry.Prepared.partitionsFor
    assert(partitionsFor(0L, 4) === 1)
    assert(partitionsFor(2620L, 4) === 1)
    assert(partitionsFor(50000L, 4) === 1)
    assert(partitionsFor(50001L, 4) === 2)
    assert(partitionsFor(120000L, 4) === 3)
    assert(partitionsFor(3763162L, 4) === 4)
    assert(partitionsFor(3763162L, 32) === 32)
    assert(partitionsFor(3763162L, 128) === 76)
    intercept[IllegalArgumentException](new AlgorithmRegistry.Prepared(edges, 0))
  }

  test("the six REST algorithms give the same values on one partition as on four") {
    val rnd = new scala.util.Random(11)
    val pairs = (0 until 400).map { _ =>
      ((rnd.nextInt(9) * rnd.nextInt(9)).toLong, rnd.nextInt(80).toLong)
    }.filter { case (a, b) => a != b }.distinct
    val weighted = pairs.flatMap { case (a, b) =>
      val w = 1.0 + (a * 31 + b * 17) % 9
      Seq((a, b, w), (b, a, w))
    }
    assert(AlgorithmRegistry.Prepared.partitionsFor(weighted.size, 4) === 1)
    def values(parts: Int, algo: String, configs: Map[String, Any]): Map[Long, Any] = {
      val g = new AlgorithmRegistry.Prepared(spark.sparkContext.parallelize(weighted, parts), parts)
      g.materialize()
      try {
        val out = AlgorithmRegistry.runDetailed(spark, algo, g, configs, 6)
        try out.vertices.collect().toMap finally out.unpersistState()
      } finally g.release()
    }
    for ((algo, configs) <- Seq(
        "bfs" -> Map[String, Any]("srcVertexId" -> 0L),
        "sssp" -> Map[String, Any]("srcVertexId" -> 0L),
        "wcc" -> Map.empty[String, Any],
        "lp" -> Map.empty[String, Any],
        "mssp" -> Map[String, Any]("landmarkVertexIds" -> Seq(0L, 8L, 49L)),
        "pagerank" -> Map[String, Any]("tolerance" -> 0.0001, "resetProbability" -> 0.15))) {
      val one = values(1, algo, configs)
      val four = values(4, algo, configs)
      assert(one.size > 60, algo)
      assert(one.keySet === four.keySet, algo)
      if (algo == "pagerank") one.foreach { case (v, r) =>
        // inbox order follows the layout: ranks agree up to the last bits
        val (a, b) = (r.asInstanceOf[(Double, Double)], four(v).asInstanceOf[(Double, Double)])
        assert(math.abs(a._1 - b._1) <= 1e-9 * math.max(1.0, math.abs(b._1)), s"$v: $a $b")
        assert(math.abs(a._2 - b._2) <= 1e-9 * math.max(1.0, math.abs(b._2)), s"$v: $a $b")
      } else assert(one === four, algo)
    }
  }
}
