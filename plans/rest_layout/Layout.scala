package probe

import java.io.PrintWriter
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.algos.compute.AlgorithmRegistry
import graft.algos.compute.AlgorithmRegistry.Prepared
import graft.pregel.Tasks
import graftbench.Inputs

/** Partition count of a prepared REST graph, measured on local[4].
  *
  * `sweep <out.json> [rounds]`: registry bfs and pagerank at numIterations 4,
  * as the rest-lifecycle bench runs them, on the bench's R-MAT graphs
  * (`Inputs.rmat`, edge factor 8, canonical edges in both directions with
  * weights 1–9) at scales 8–15, each laid out into 1, 2 and 4 partitions,
  * with 1 and with 2 clients running at once. A run is runDetailed, the
  * result collect and the release of its state — what one REST job costs
  * on the server. Layouts are interleaved round by round so host drift
  * falls on all three alike. The first scale is swept once unrecorded to
  * warm the JVM, and every graph gets two unrecorded warm-up rounds.
  *
  * `rmat18 <label>`: registry bfs and pagerank at numIterations 10 on the
  * R-MAT 18 graph of plans/pregel_blocks/R18.scala, laid out by
  * `Prepared.partitionsFor`, printed as one JSON line per run.
  *
  * Build against the bench build (library + graftbench), with J the
  * wildcard classpath entry of $SPARK_HOME/jars:
  *   python3 perfbench/build.py
  *   java -cp J scala.tools.nsc.Main -d <dir> \
  *     -classpath perfbench/.build/classes:J plans/rest_layout/Layout.scala
  * and run with the JDK 17 --add-opens of build.sbt on
  *   -cp <dir>:perfbench/.build/classes:J probe.Layout ...
  */
object Layout {
  val Seed = 20261019L
  val Scales = 8 to 15
  val Layouts = Seq(1, 2, 4)
  val Algorithms = Seq("bfs", "pagerank")

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]").config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "4").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try args(0) match {
      case "sweep"  => sweep(spark, args(1), if (args.length > 2) args(2).toInt else 8)
      case "rmat18" => rmat18(spark, args(1))
    } finally spark.stop()
  }

  private def configs(algo: String, src: Long): Map[String, Any] = algo match {
    case "bfs" => Map("srcVertexId" -> src)
    case _     => Map("tolerance" -> 0.0001, "resetProbability" -> 0.15)
  }

  /** One REST job's server side; returns its wall seconds. */
  private def job(spark: SparkSession, g: Prepared, algo: String, src: Long, iters: Int): Double = {
    val t = System.nanoTime()
    val out = AlgorithmRegistry.runDetailed(spark, algo, g, configs(algo, src), iters)
    try Tasks.collect(out.vertices) finally out.unpersistState()
    (System.nanoTime() - t) / 1e9
  }

  private def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val at = q * (s.size - 1)
    val lo = s(at.toInt)
    val hi = s(math.min(at.toInt + 1, s.size - 1))
    lo + (hi - lo) * (at - at.toInt)
  }

  private def sweep(spark: SparkSession, out: String, rounds: Int): Unit = {
    val sc = spark.sparkContext
    val rows = Seq.newBuilder[String]
    val picks = Seq.newBuilder[String]
    for ((scale, recorded) <- (Scales.head, false) +: Scales.map((_, true))) {
      val seed = Inputs.subSeed(Seed, s"scale$scale")
      val canon = Inputs.canonical(Inputs.rmat(seed, seed, scale, 8))
      val edges = canon.toSeq.flatMap { case (a, b) =>
        val w = Inputs.weight(seed, a, b).toDouble
        Seq((a, b, w), (b, a, w))
      }
      val src = edges.groupBy(_._1).maxBy { case (v, es) => (es.size, -v) }._1
      val graphs = Layouts.map { p =>
        val g = new Prepared(sc.parallelize(edges, p), p)
        g.materialize()
        p -> g
      }.toMap
      val vertices = edges.iterator.map(_._1).toSet.size
      for (algo <- Algorithms; clients <- Seq(1, 2)) {
        val walls = Layouts.map(_ -> Seq.newBuilder[Double]).toMap
        for (round <- -2 until rounds; p <- Layouts) {
          val threads = (0 until clients).map { _ =>
            var wall = 0.0
            val th = new Thread(() => wall = job(spark, graphs(p), algo, src, 4))
            th.start()
            (th, () => wall)
          }
          threads.foreach(_._1.join())
          if (round >= 0) threads.foreach(t => walls(p) += t._2())
        }
        if (recorded) {
          val medians = Layouts.map { p =>
            val w = walls(p).result()
            val (q1, med, q3) = (quantile(w, 0.25), quantile(w, 0.5), quantile(w, 0.75))
            val row = f"""{"scale":$scale,"vertices":$vertices,"directed_edges":${edges.size},"algo":"$algo","clients":$clients,"partitions":$p,"runs":${w.size},"run_s_p25":$q1%.4f,"run_s_median":$med%.4f,"run_s_p75":$q3%.4f}"""
            println(s"[layout] $row")
            rows += row
            p -> med
          }
          val best = medians.minBy(_._2)._1
          picks += f"""{"scale":$scale,"directed_edges":${edges.size},"algo":"$algo","clients":$clients,"best_partitions":$best,"median_s_by_partitions":{${medians.map { case (p, m) => f""""$p":$m%.4f""" }.mkString(",")}}}"""
        }
      }
      graphs.values.foreach(_.release())
    }
    val rule = Scales.map { scale =>
      val seed = Inputs.subSeed(Seed, s"scale$scale")
      val n = 2L * Inputs.canonical(Inputs.rmat(seed, seed, scale, 8)).length
      f"""{"scale":$scale,"directed_edges":$n,"partitionsFor":${Prepared.partitionsFor(n, 4)}}"""
    }
    val w = new PrintWriter(out)
    try w.println(Seq(
      s""""rows":[\n  ${rows.result().mkString(",\n  ")}\n ]""",
      s""""best":[\n  ${picks.result().mkString(",\n  ")}\n ]""",
      s""""rule_at_4_cores":[\n  ${rule.mkString(",\n  ")}\n ]""").mkString("{\n ", ",\n ", "\n}"))
    finally w.close()
  }

  private def rmat18(spark: SparkSession, label: String): Unit = {
    val sc = spark.sparkContext
    val cpu = new AtomicLong; val tasks = new AtomicLong; val jobs = new AtomicLong
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (e.taskMetrics != null) {
        cpu.addAndGet(e.taskMetrics.executorCpuTime); tasks.incrementAndGet()
      }
    })
    // the graph of plans/pregel_blocks/R18.scala
    val g0 = graft.core.GraphGenerators.rmatGraph(spark, 18, 2000000L)
    val canon = g0.edges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"), greatest(col("src"), col("dst")).as("b")).distinct()
    val edges = canon.rdd.flatMap(r =>
      Iterator((r.getLong(0), r.getLong(1), 1.0), (r.getLong(1), r.getLong(0), 1.0))).cache()
    val count = edges.count()
    val parts = Prepared.partitionsFor(count, sc.defaultParallelism)
    val prepared = new Prepared(edges, parts)
    val (nE, nV) = prepared.materialize()
    edges.unpersist()
    val src = prepared.keyed.map { case (s, _) => (s, 1L) }.reduceByKey(_ + _)
      .max()(Ordering.by[(Long, Long), (Long, Long)](t => (t._2, -t._1)))._1
    println(s"[r18] $label vertices=$nV directed_edges=$nE partitions=$parts src=$src")
    for ((algo, conf) <- Seq("bfs" -> Map[String, Any]("srcVertexId" -> src),
                             "pagerank" -> Map.empty[String, Any])) {
      System.gc(); Thread.sleep(500)
      val c0 = cpu.get; val t0n = tasks.get; val j0 = jobs.get
      val t = System.nanoTime()
      val o = AlgorithmRegistry.runDetailed(spark, algo, prepared, conf, 10)
      val rows = o.vertices.map { case (_, v) => v match {
        case l: Long => if (l == Long.MaxValue) (0L, 0.0) else (1L, l.toDouble)
        case (r: Double, _) => (1L, r)
        case _ => (0L, 0.0) } }.reduce((a, b) => (a._1 + b._1, a._2 + b._2))
      val wall = (System.nanoTime() - t) / 1e9
      o.unpersistState()
      Thread.sleep(1000)
      println(f"""[r18] $label {"algo":"$algo","ok":true,"partitions":$parts,"wall_s":$wall%.2f,"supersteps":${o.superstep},"state":"${o.state}","jobs":${jobs.get - j0},"tasks":${tasks.get - t0n},"executor_cpu_s":${(cpu.get - c0) / 1e9}%.2f,"checksum":{"values":${rows._1},"sum":${rows._2}%.6f}}""")
    }
  }
}
