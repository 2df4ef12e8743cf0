package probe

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.algos.GraphAlgorithms
import graft.core.KGraph
import graft.pipeline.Sketches
import graftbench.{GraphAnalytics, Inputs}

/** Per-op cold and warm wall and Spark job count of the graph-analytics
  * loops, on the bench's graph, in the bench's session shape.
  *
  * `loops <label> <workDir> [warm reps]`: builds the R-MAT scale-9,
  * edge-factor-16 graph of the graph-analytics workload (its shape seed,
  * label seed `Inputs.subSeed(7777, "graph-analytics")`), writes it to
  * parquet under <workDir> and loads it as the workload's round does
  * (canonical edges, `KGraph.fromEdges`, both sides localCheckpointed).
  * Then it runs algos.wcc, algos.kcore (k = 8), algos.pagerank,
  * algos.hyperball (p = 6, estimates per vertex) and algos.ktruss (k = 6)
  * once cold and `warm reps` more times, each collected, and prints one JSON
  * line per run: label, op, rep (0 = cold), wall_s, jobs (Spark jobs started
  * inside the run) and a checksum of the collected rows.
  *
  * `checksums <label> <drill ...>`: row count and a digest (sum of
  * xxhash64 over every row) of `graft.SparkEntry.scaleDrill` entries, to
  * show the R-MAT drills return the same rows at two commits.
  *
  * Build against the bench build (library + graftbench) of the tree under
  * test, with J the wildcard classpath entry of $SPARK_HOME/jars:
  *   python3 perfbench/build.py
  *   java -cp J scala.tools.nsc.Main -d <dir> \
  *     -classpath perfbench/.build/classes:J plans/block_loops/Loops.scala
  * and run with the JDK 17 --add-opens of build.sbt, -Xmx3g like the bench:
  *   -cp <dir>:perfbench/.build/classes:J probe.Loops loops <label> <workDir>
  */
object Loops {

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]").config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "4").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try args(0) match {
      case "loops" => loops(spark, args(1), args(2), if (args.length > 3) args(3).toInt else 3)
      case "checksums" => checksums(spark, args(1), args.drop(2).toSeq)
    } finally spark.stop()
  }

  /** Row count and an in-cluster digest (sum of xxhash64 over every row) of
    * SparkEntry scale drills, one JSON line each. */
  def checksums(spark: SparkSession, label: String, drills: Seq[String]): Unit = {
    val all = graft.SparkEntry.scaleDrill.toMap
    drills.foreach { name =>
      val df = all(name)(spark, "-")
      val r = df.agg(count(lit(1)), sum(xxhash64(df.columns.map(col): _*).cast("decimal(38,0)"))).head()
      println(s"""{"label":"$label","drill":"$name","rows":${r.getLong(0)},"checksum":"${r.get(1)}"}""")
    }
  }

  /** Order-independent row digest; doubles rounded to 1e-9, since the two
    * runtimes fold sums in different orders. */
  private def checksum(df: DataFrame): Long =
    df.collect().map(r => r.toSeq.map {
      case null => 0L
      case d: Double => math.round(d * 1e9)
      case v => v.toString.hashCode.toLong
    }.foldLeft(17L)((h, x) => h * 31 + x)).sum

  def loops(spark: SparkSession, label: String, workDir: String, warm: Int): Unit = {
    import spark.implicits._
    val jobs = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    })
    val seed = Inputs.subSeed(7777L, GraphAnalytics.name)
    val raw = Inputs.rmat(GraphAnalytics.ShapeSeed, seed, GraphAnalytics.Scale, GraphAnalytics.EdgeFactor)
    val path = s"$workDir/rmat.parquet"
    raw.toSeq.toDF("src", "dst").repartition(4).write.mode("overwrite").parquet(path)
    val e = GraphAlgorithms.canonicalEdges(spark.read.parquet(path))
      .select($"a".as("src"), $"b".as("dst"), lit(1L).as("value"))
    val g0 = KGraph.fromEdges(e, id => id)
    val g = KGraph(g0.vertices.localCheckpoint(true), g0.edges.localCheckpoint(true))
    val ops: Seq[(String, () => DataFrame)] = Seq(
      "algos.wcc" -> (() => GraphAlgorithms.wcc(g)),
      "algos.kcore" -> (() => GraphAlgorithms.kCore(g.edges, GraphAnalytics.KCore)),
      "algos.pagerank" -> (() => GraphAlgorithms.pageRank(g)),
      "algos.hyperball" -> (() => Sketches.hllEstimateBy(
        GraphAlgorithms.hyperBall(g.undirected, p = GraphAnalytics.HllP), "id", GraphAnalytics.HllP)),
      "algos.ktruss" -> (() => GraphAlgorithms.kTruss(g.edges, GraphAnalytics.KTruss)))
    for (rep <- 0 to warm; (op, run) <- ops) {
      System.gc()
      val j0 = jobs.get
      val t0 = System.nanoTime()
      val df = run()
      val sum = checksum(df)
      val wall = (System.nanoTime() - t0) / 1e9
      // listener events arrive asynchronously; let the bus catch up
      Thread.sleep(200)
      println(f"""{"label":"$label","op":"$op","rep":$rep,"wall_s":$wall%.3f,""" +
        s""""jobs":${jobs.get - j0},"checksum":$sum}""")
    }
  }
}
