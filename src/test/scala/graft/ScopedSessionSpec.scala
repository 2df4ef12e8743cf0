package graft

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.ScopedSession

/** ScopedSession.withConfs only works for a build that materializes its
  * result: the overrides live in a cloned session and are gone once the
  * plan is re-rooted. A lazy build must fail at the call, by name. */
class ScopedSessionSpec extends SparkSpec {
  import spark.implicits._

  test("an eager localCheckpoint build is re-rooted with its rows") {
    val df = (1 to 20).map(i => (i % 4, i)).toDF("k", "v")
    val before = spark.conf.getOption("spark.sql.adaptive.enabled")
    val out = ScopedSession.withConfs(df, "spark.sql.adaptive.enabled" -> "false") { d =>
      d.repartition(col("k")).localCheckpoint(true)
    }
    assert(out.sparkSession eq df.sparkSession)
    assert(out.as[(Int, Int)].collect().sorted.toSeq === (1 to 20).map(i => (i % 4, i)).sorted)
    assert(spark.conf.getOption("spark.sql.adaptive.enabled") === before)
  }

  test("a lazy build fails loudly instead of losing its overrides") {
    val df = (1 to 20).map(i => (i % 4, i)).toDF("k", "v")
    val e = intercept[IllegalArgumentException] {
      ScopedSession.withConfs(df, "spark.sql.adaptive.enabled" -> "false") { d =>
        d.repartition(col("k")).sortWithinPartitions("k")
      }
    }
    assert(e.getMessage.contains("ScopedSession.withConfs"))
    assert(e.getMessage.contains("unmaterialized"))
  }
}
