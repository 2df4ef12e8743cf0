package probe

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.algos.compute.AlgorithmRegistry

/** R-MAT 18 registry bfs and pagerank (numIterations 10) on local[4]:
  * wall, executor CPU, shuffle write and peak execution memory of each run. */
object R18 {
  def main(args: Array[String]): Unit = {
    val label = args(0)
    val spark = SparkSession.builder().master("local[4]").config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "4").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    val cpu = new AtomicLong; val shufW = new AtomicLong; val peak = new AtomicLong
    val spill = new AtomicLong; val tasks = new AtomicLong; val jobs = new AtomicLong; val gc = new AtomicLong
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (e.taskMetrics != null) {
        val m = e.taskMetrics
        cpu.addAndGet(m.executorCpuTime); shufW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        peak.accumulateAndGet(m.peakExecutionMemory, math.max)
        spill.addAndGet(m.diskBytesSpilled); tasks.incrementAndGet(); gc.addAndGet(m.jvmGCTime)
      }
    })
    val g = graft.core.GraphGenerators.rmatGraph(spark, 18, 2000000L)
    val canon = g.edges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"), greatest(col("src"), col("dst")).as("b")).distinct()
    val edges = canon.rdd.flatMap(r => Iterator((r.getLong(0), r.getLong(1), 1.0), (r.getLong(1), r.getLong(0), 1.0)))
    val prepared = new AlgorithmRegistry.Prepared(edges, sc.defaultParallelism)
    val (nE, nV) = prepared.materialize()
    val src = prepared.keyed.map { case (s, _) => (s, 1L) }.reduceByKey(_ + _).max()(Ordering.by[(Long, Long), (Long, Long)](t => (t._2, -t._1)))._1
    println(s"[r18] $label vertices=$nV directed_edges=$nE src=$src")
    val out = new StringBuilder
    for ((algo, conf) <- Seq("bfs" -> Map[String, Any]("srcVertexId" -> src), "pagerank" -> Map.empty[String, Any])) {
      System.gc(); Thread.sleep(500)
      val c0 = cpu.get; val s0 = shufW.get; peak.set(0); val sp0 = spill.get; val t0n = tasks.get; val j0 = jobs.get; val g0 = gc.get
      val t = System.nanoTime()
      val res = try {
        val o = AlgorithmRegistry.runDetailed(spark, algo, prepared, conf, 10)
        val rows = o.vertices.map { case (_, v) => v match {
          case l: Long => if (l == Long.MaxValue) (0L, 0.0) else (1L, l.toDouble)
          case (r: Double, _) => (1L, r)
          case _ => (0L, 0.0) } }.reduce((a, b) => (a._1 + b._1, a._2 + b._2))
        val wall = (System.nanoTime() - t) / 1e9
        o.unpersistState()
        Thread.sleep(1000)
        f"""{"algo":"$algo","ok":true,"wall_s":$wall%.2f,"supersteps":${o.superstep},"state":"${o.state}","jobs":${jobs.get - j0},"tasks":${tasks.get - t0n},"executor_cpu_s":${(cpu.get - c0) / 1e9}%.2f,"gc_s":${(gc.get - g0) / 1e3}%.2f,"shuffle_write_mb":${(shufW.get - s0) / 1048576.0}%.1f,"peak_exec_mem_mb":${peak.get / 1048576.0}%.1f,"spill_disk_mb":${(spill.get - sp0) / 1048576.0}%.1f,"checksum":{"values":${rows._1},"sum":${rows._2}%.6f}}"""
      } catch { case e: Throwable => s"""{"algo":"$algo","ok":false,"error":"${String.valueOf(e.getMessage).take(200).replace("\"", "'")}","wall_s":${(System.nanoTime() - t) / 1e9}}""" }
      println(s"[r18] $label $res")
    }
    spark.stop()
  }
}
