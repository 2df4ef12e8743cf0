package probe

import org.apache.spark.sql.functions._

import graft.{Bench, SparkEntry}
import graft.obs.QueryMetrics

/** `graft.tools.Profile` drill rows with a row digest taken in the same run.
  *
  *   Truss <label> <sfDir> <drill ...>
  *
  * Opens Bench's session (SPARK_GRAFT_CPUS), runs Bench's warmup on
  * <sfDir>, then measures each `graft.SparkEntry.scaleDrill` entry through
  * `QueryMetrics` exactly as Profile does, except that the entry's action is
  * one aggregation over its rows — the row count and the sum of xxhash64
  * over every row — instead of `count()`. So a drill's rows are digested
  * without building its R-MAT graph a second time. Prints Profile's JSON
  * record per entry with `label` and `digest` added.
  *
  * Build against the bench build (library + graftbench) of the tree under
  * test, with J the wildcard classpath entry of $SPARK_HOME/jars:
  *   python3 perfbench/build.py
  *   java -cp J scala.tools.nsc.Main -d <dir> \
  *     -classpath perfbench/.build/classes:J plans/block_truss/Truss.scala
  * and run it with the JDK 17 --add-opens of build.sbt and -Xmx8g:
  *   -cp <dir>:perfbench/.build/classes:J probe.Truss <label> <sfDir> \
  *     rmat_prep18 rmat_ktruss rmat_prep rmat_ktruss20
  */
object Truss {
  def main(args: Array[String]): Unit = {
    val Array(label, sfDir) = args.take(2)
    val spark = Bench.session()
    try {
      Bench.warmup(spark, sfDir)
      val qm = QueryMetrics.attach(spark.sparkContext)
      val drills = SparkEntry.scaleDrill.toMap
      args.drop(2).foreach { name =>
        var digest = ""
        val m = Bench.runEntries(qm, Seq(s"drill:$name" -> (() => {
          val df = drills(name)(spark, sfDir)
          val r = df.agg(count(lit(1)),
            sum(xxhash64(df.columns.map(col).toSeq: _*).cast("decimal(38,0)"))).head()
          digest = String.valueOf(r.get(1))
          r.getLong(0)
        }))).head
        println(m.json.dropRight(1) + s""","label":"$label","digest":"$digest"}""")
      }
    } finally spark.stop()
  }
}
