package graftbench

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one seed, one process.
  *
  * {{{
  * graftbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  * }}}
  *
  * Prints the result object as the last line of standard output, prefixed
  * by `RESULT `. Everything the run writes (parquet inputs, the SQL
  * warehouse, checkpoints, Spark's local dirs) goes under `--work`. */
object Main {
  val Workloads: Seq[Workload] = Seq(GraphAnalytics, RestLifecycle, DocDedup)

  /** Per-layer metric catalogue. Every run prints all of it; a layer the
    * workload never calls reads 0. */
  val Modules: Seq[String] = Seq("core", "streaming", "algos", "api", "pipeline", "functions")
  val OpWalls: Seq[String] = GraphAnalytics.Ops ++ DocDedup.Ops ++ RestLifecycle.Verbs
  val PregelAlgos: Seq[String] = RestLifecycle.Algorithms
  val JobCounted: Seq[String] = Seq("algos.wcc", "algos.kcore", "algos.pagerank",
    "algos.hyperball", "algos.ktruss", "pipeline.bpe_learn", "pipeline.edit_pairs")

  def perLayerCatalogue: Seq[(String, String)] =
    OpWalls.map(o => s"$o.wall_s" -> "s") ++
      PregelAlgos.map(a => s"pregel.$a.compute_s" -> "s") ++
      Modules.flatMap(m => Seq("cpu_s" -> "s", "gc_s" -> "s", "shuffle_write_mb" -> "MB",
        "shuffle_read_mb" -> "MB", "spill_mb" -> "MB", "peak_exec_mem_mb" -> "MB",
        "tasks" -> "count", "failed_tasks" -> "count", "idle_frac" -> "ratio",
        "task_skew" -> "ratio").map { case (s, u) => s"$m.$s" -> u }) ++
      PregelAlgos.map(a => s"pregel.$a.supersteps" -> "count") ++
      Seq("pregel.s_per_superstep" -> "s", "api.job_p50_s" -> "s", "api.job_p75_s" -> "s",
        "api.polls_per_job" -> "count", "api.result_kb" -> "KB") ++
      JobCounted.map(o => s"$o.jobs" -> "count") ++
      Seq("pipeline.minhash.verified_frac" -> "ratio", "trace.overhead_frac" -> "ratio")

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("work"))
  }

  def session(work: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(s"$work/checkpoints")
    spark
  }

  def main(argv: Array[String]): Unit = {
    // exit explicitly either way: the REST server's idle worker threads
    // would otherwise hold the JVM for another minute
    val code = try { run(parse(argv)); 0 } catch {
      case e: Throwable => e.printStackTrace(); 1
    }
    Console.out.flush()
    sys.exit(code)
  }

  private def run(args: Args): Unit = {
    val wl = Workloads.find(_.name == args.workload)
      .getOrElse(throw new IllegalArgumentException(s"unknown workload ${args.workload}"))
    val spark = session(args.workDir)
    val h = new Harness(spark, args)
    val metrics = wl.run(h)
    val line = h.resultJson(
      if (args.trace) {
        val values = h.layerMetrics
        perLayerCatalogue.map { case (n, u) => (n, values.getOrElse(n, 0.0), u) }
      } else metrics)
    spark.stop()
    println("RESULT " + line)
  }
}
