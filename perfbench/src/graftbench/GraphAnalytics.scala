package graftbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.algos.GraphAlgorithms
import graft.core.KGraph
import graft.pipeline.Sketches
import graft.streaming.EdgeStreamOps
import graft.streaming.EdgeStreamOps._

/** The kafka-graphs Gelly and library surface as a batch analyst runs it,
  * on a seeded R-MAT graph written to parquet during set-up. Each round
  * loads the graph and runs the streaming summaries and the graph
  * algorithms on it; every output is checked against a driver-side
  * reference. */
object GraphAnalytics extends Workload {
  val name = "graph-analytics"

  val Scale = 9
  val EdgeFactor = 16
  val KCore = 8
  val KTruss = 6
  val HllP = 6
  val TwoHopSample = 300
  /** One R-MAT shape for every run: the run seed relabels its vertices and
    * reorders its edges, so each seed does the same amount of graph work
    * (structural variety between small R-MAT draws moved run_s by 30%). */
  val ShapeSeed = 0x6A09E667F3BCC908L

  val Ops: Seq[String] = Seq("core.load", "streaming.degrees", "streaming.triangle_count",
    "algos.wcc", "algos.kcore", "algos.pagerank", "algos.hyperball", "algos.ktruss",
    "algos.triangles", "algos.two_hop")

  private def long(r: Row, i: Int): Long = r.get(i).asInstanceOf[Number].longValue
  private def dbl(r: Row, i: Int): Double = r.get(i).asInstanceOf[Number].doubleValue
  private def longMap(rows: Array[Row]): Map[Long, Long] =
    rows.map(r => long(r, 0) -> long(r, 1)).toMap

  /** One seeded R-MAT input: the raw edge stream as parquet, plus the
    * driver-side references its outputs are checked against. */
  final class Input(h: Harness, seed: Long) {
    val path = s"${h.args.workDir}/rmat.parquet"
    val raw: Array[(Long, Long)] = Inputs.rmat(ShapeSeed, seed, Scale, EdgeFactor)
    lazy val canon: Array[(Long, Long)] = Inputs.canonical(raw)
    lazy val undirected = new RefGraph(canon)
    lazy val dag = new RefGraph(canon, directed = true)
    lazy val degrees: Map[Long, Long] =
      undirected.ids.indices.map(u => undirected.ids(u) -> undirected.degree(u).toLong).toMap
    lazy val comps: Map[Long, Long] = undirected.components
    lazy val tris: Map[Long, Long] = undirected.triangles
    lazy val core: Map[Long, Long] = undirected.kCore(KCore)
    lazy val truss: Set[(Long, Long)] = undirected.kTruss(KTruss)
    lazy val ranks: Map[Long, Double] = dag.pageRankDelta(0.0001, 0.15, 100)
    lazy val twoHopSample: Map[Long, Long] = {
      val r = new java.util.SplittableRandom(seed)
      Seq.fill(TwoHopSample)(undirected.ids(r.nextInt(undirected.n))).distinct
        .map(v => v -> undirected.twoHop(v)).toMap
    }

    def write(): Unit = {
      val spark = h.spark
      import spark.implicits._
      raw.toSeq.toDF("src", "dst").repartition(h.cores).write.mode("overwrite").parquet(path)
      spark.read.parquet(path).agg(count(lit(1)), sum($"src")).collect()
    }
  }

  def run(h: Harness): Seq[(String, Double, String)] = {
    val seed = Inputs.subSeed(h.args.seed, name)
    var in: Input = null
    (1 to h.setupReps).foreach { _ =>
      h.setup {
        in = new Input(h, seed)
        in.write()
      }
    }
    h.log(s"$name: ${in.raw.length} raw edges, ${in.canon.length} canonical edges")
    h.finishRounds(Ops, h.rounds(_ => round(h, in)))
  }

  /** One pass over the ops, each output checked. */
  private def round(h: Harness, in: Input): Unit = {
    val spark = h.spark
    import spark.implicits._
    import in._
    h.op("core.load") {
      val e = GraphAlgorithms.canonicalEdges(spark.read.parquet(path))
        .select($"a".as("src"), $"b".as("dst"), lit(1L).as("value"))
      val g = KGraph.fromEdges(e, id => id)
      KGraph(g.vertices.localCheckpoint(true), g.edges.localCheckpoint(true))
    }.foreach { g =>
      h.check("core.load") {
        val es = g.edges.select($"src", $"dst").as[(Long, Long)].collect().sorted
        g.vertices.count() == undirected.n && es.sameElements(canon)
      }
      def run(op: String)(f: => DataFrame): Option[Array[Row]] = h.op(op)(f.collect())

      run("streaming.degrees")(g.edges.degrees).foreach { rows =>
        h.check("streaming.degrees")(longMap(rows) == degrees)
      }
      run("streaming.triangle_count")(EdgeStreamOps.triangleCount(g.edges)).foreach { rows =>
        h.check("streaming.triangle_count")(long(rows.head, 0) == undirected.triangleTotal)
      }
      run("algos.wcc")(GraphAlgorithms.wcc(g)).foreach { rows =>
        h.check("algos.wcc")(longMap(rows) == comps)
      }
      run("algos.kcore")(GraphAlgorithms.kCore(g.edges, KCore)).foreach { rows =>
        h.check("algos.kcore")(longMap(rows) == core)
      }
      run("algos.pagerank")(GraphAlgorithms.pageRank(g)).foreach { rows =>
        h.check("algos.pagerank") {
          rows.length == dag.n && rows.forall { r =>
            val want = ranks(long(r, 0))
            math.abs(dbl(r, 1) - want) <= 1e-9 * math.max(1.0, want)
          }
        }
      }
      run("algos.hyperball")(
        Sketches.hllEstimateBy(GraphAlgorithms.hyperBall(g.undirected, p = HllP), "id", HllP)
      ).foreach { rows =>
        // converged undirected balls are whole components: every member
        // of a component holds the same registers, and the estimate is
        // within HLL error of the component size
        h.check("algos.hyperball") {
          val est = rows.map(r => long(r, 0) -> dbl(r, 1)).toMap
          val byComp = comps.groupBy(_._2).map { case (c, m) => c -> m.keys.toSeq }
          est.size == undirected.n && byComp.forall { case (_, members) =>
            val es = members.map(est).distinct
            es.size == 1 && (members.size < 64 ||
              math.abs(es.head - members.size) <= 0.5 * members.size)
          }
        }
      }
      run("algos.ktruss")(GraphAlgorithms.kTruss(g.edges, KTruss)).foreach { rows =>
        h.check("algos.ktruss") {
          rows.map(r => (math.min(long(r, 0), long(r, 1)), math.max(long(r, 0), long(r, 1))))
            .toSet == truss
        }
      }
      run("algos.triangles")(GraphAlgorithms.triangleCounts(g)).foreach { rows =>
        h.check("algos.triangles")(longMap(rows) == tris)
      }
      run("algos.two_hop")(GraphAlgorithms.twoHopNeighborCounts(g)).foreach { rows =>
        h.check("algos.two_hop") {
          val got = longMap(rows)
          twoHopSample.forall { case (v, c) => got.getOrElse(v, 0L) == c }
        }
      }
      g.vertices.unpersist(true)
      g.edges.unpersist(true)
    }
  }
}
