package graft.tools

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

import graft.{Bench, SparkEntry}
import graft.obs.QueryMetrics

/** The developer profiler: Spark metrics per gated query, shared-prep entry
  * or scale drill, in the record format of BENCH_FULL.json's "metrics".
  *
  *   runMain graft.tools.Profile <sfDir> [--stages] [--plans] [name ...]
  *
  * Names are query names, `prep:<name>` (SparkEntry.sharedPrep) or
  * `drill:<name>` (SparkEntry.scaleDrill). With none it runs the full gate
  * in Bench's order (prep first, then sorted queries) followed by the scale
  * drills in declaration order. Prints one JSON line per entry to stdout.
  *
  *   --stages  adds one record per completed stage, with its callsite
  *   --plans   prints each name's `explain("formatted")` plan instead of
  *             running it, every gate query's with no names (the query's
  *             own action never runs; builders that materialize memoized
  *             prep still do)
  *
  * Uses Bench's session (SPARK_GRAFT_CPUS) and warmup. Shuffle and spill
  * bytes are the figures host load cannot move; compare those across
  * commits before wall times. */
object Profile {
  private def build(name: String): Option[(SparkSession, String) => DataFrame] =
    if (name.startsWith("drill:")) SparkEntry.scaleDrill.toMap.get(name.stripPrefix("drill:"))
    else SparkEntry.queries.get(name)

  private def prep(name: String): Option[(SparkSession, String) => Unit] =
    if (name.startsWith("prep:")) SparkEntry.sharedPrep.toMap.get(name.stripPrefix("prep:"))
    else None

  def main(args: Array[String]): Unit = {
    val usage = "usage: Profile <sfDir> [--stages] [--plans] [name ...]"
    require(args.nonEmpty, usage)
    val sfDir = args(0)
    val (flags, names) = args.drop(1).toSeq.partition(_.startsWith("--"))
    val unknownFlags = flags.filterNot(Set("--stages", "--plans"))
    require(unknownFlags.isEmpty, s"unknown flag ${unknownFlags.mkString(" ")}; $usage")
    val unknown = names.filter(n => prep(n).isEmpty && build(n).isEmpty)
    require(unknown.isEmpty, s"unknown entry ${unknown.mkString(" ")}; $usage")

    val spark = Bench.session()
    try {
      if (flags.contains("--plans")) {
        // no names: the gate queries only (a drill's builder generates its
        // R-MAT graph before there is a plan to print)
        (if (names.nonEmpty) names else SparkEntry.queries.keys.toSeq.sorted).foreach { name =>
          println(s"==== $name ====")
          build(name) match {
            case None => println("(prep entry: no plan)")
            case Some(b) =>
              try println(b(spark, sfDir).queryExecution.explainString(FormattedMode))
              catch { case NonFatal(e) => println(s"FAILED: ${e.getMessage}") }
          }
        }
      } else {
        Bench.warmup(spark, sfDir)
        val entries =
          if (names.isEmpty)
            Bench.gateEntries(spark, sfDir) ++ SparkEntry.scaleDrill.map { case (name, fn) =>
              s"drill:$name" -> (() => fn(spark, sfDir).count())
            }
          else names.map(name => name -> prep(name).map(p => () => { p(spark, sfDir); 0L })
            .getOrElse(() => build(name).get(spark, sfDir).count()))
        val qm = QueryMetrics.attach(spark.sparkContext, keepStages = flags.contains("--stages"))
        // one entry at a time so each record prints as soon as it is known
        entries.foreach { e =>
          val m = Bench.runEntries(qm, Seq(e)).head
          m.stages.foreach(s => println(s.json))
          println(m.json)
        }
      }
    } finally spark.stop()
  }
}
