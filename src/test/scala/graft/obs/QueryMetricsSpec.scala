package graft.obs

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions.col

import graft.SparkSpec

class QueryMetricsSpec extends SparkSpec {

  test("each entry reads only its own tasks: a shuffle, then none") {
    def grouping(): Long =
      spark.range(0, 1000, 1, 4).groupBy((col("id") % 7).as("k")).count().collect().length
    grouping() // warm: the measured jobs' tasks then end within milliseconds
    // a slow listener ahead of QueryMetrics on the same bus queue delays
    // its events well past the end of each job, so only the drains keep
    // the two entries apart
    val slow = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Thread.sleep(200)
    }
    spark.sparkContext.addSparkListener(slow)
    val qm = QueryMetrics.attach(spark.sparkContext)
    try {
      val grouped = qm.measure("grouped")(grouping())
      // collect, not count: Dataset.count plans a partial aggregate and a
      // single-partition exchange, so it shuffles a few bytes itself
      val plain = qm.measure("plain")(spark.range(10).collect().length.toLong)
      assert(grouped.ok && grouped.rows === 7L)
      assert(grouped.totals.shuffleWriteBytes > 0L && grouped.totals.shuffleReadBytes > 0L)
      assert(grouped.jobs >= 1L && grouped.stageCount >= 2L)
      assert(plain.ok && plain.rows === 10L)
      assert(plain.totals.shuffleWriteBytes === 0L, plain.json)
      assert(plain.totals.tasks >= 1L && plain.jobs >= 1L)
      assert(plain.stages.isEmpty) // stage records only with keepStages
    } finally { qm.detach(); spark.sparkContext.removeSparkListener(slow) }
  }

  test("a failing entry is reported with its name and the next entry is still measured") {
    val qm = QueryMetrics.attach(spark.sparkContext)
    try {
      val bad = qm.measure("bad") {
        spark.sparkContext.parallelize(1 to 10, 2)
          .map(i => if (i == 3) throw new IllegalStateException("boom") else i).count()
      }
      val next = qm.measure("next")(spark.range(5).collect().length.toLong)
      assert(!bad.ok && bad.name === "bad" && bad.rows === -1L)
      assert(bad.error.exists(_.contains("boom")), bad.error)
      assert(bad.json.contains("\"ok\":false") && bad.json.contains("\"error\":"))
      assert(next.ok && next.rows === 5L && next.totals.tasks >= 1L)
      assert(next.totals.shuffleWriteBytes === 0L, next.json)
    } finally qm.detach()
  }

  test("keepStages records one stage per completed stage, with a callsite") {
    val qm = QueryMetrics.attach(spark.sparkContext, keepStages = true)
    try {
      val m = qm.measure("staged") {
        spark.range(0, 100, 1, 4).repartition(3, col("id")).count()
      }
      assert(m.stages.size.toLong === m.stageCount && m.stages.nonEmpty)
      assert(m.stages.map(_.totals.tasks).sum === m.totals.tasks)
      assert(m.stages.map(_.totals.shuffleWriteBytes).sum === m.totals.shuffleWriteBytes)
      assert(m.stages.forall(s => s.entry == "staged" && s.callsite.nonEmpty))
    } finally qm.detach()
  }

  test("under AQE, every stage record names the Dataset action's call site") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    val qm = QueryMetrics.attach(spark.sparkContext, keepStages = true)
    try {
      val m = qm.measure("adaptive") {
        spark.range(0, 1000, 1, 4).groupBy((col("id") % 7).as("k")).count().collect().length.toLong
      }
      // the shuffle-map stage is submitted from AQE's own thread pool
      assert(m.stages.size >= 2, m.stages)
      assert(m.stages.forall(s => s.callsite.startsWith("collect at QueryMetricsSpec.scala")),
        m.stages.map(_.callsite))
    } finally qm.detach()
  }
}
