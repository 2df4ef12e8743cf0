package org.apache.spark.sql.graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.classic.{Dataset => ClassicDataset, SparkSession => ClassicSession}

/**
 * Execute one DataFrame materialization under SQL-conf overrides WITHOUT
 * mutating the shared session — the sibling of [[StatsBarrier]]'s sanctioned
 * `private[sql]` reach (hence the package).
 *
 * Why it exists: `cpKeyed` (the frontier graph loops) needs a conf that
 * differs from the session default for exactly ONE eager materialization:
 * it must plan its keyed checkpoint non-adaptively, because under an
 * AdaptiveSparkPlan `Dataset.localCheckpoint` records `UnknownPartitioning`
 * on its LogicalRDD leaf and silently discards the layout the whole loop
 * relies on (verified in the committed r16 loop plan dumps).
 *
 * The r16 implementation set/restored the conf on the SHARED session
 * (`conf.set` + `finally` restore), which races against concurrent queries
 * on the same SparkSession (RestServer shares it): a query planned inside
 * the window sees the override, and interleaved restores can leave the
 * override stuck (VERDICT r16 "what's wrong" #3 / ADVICE #1). `cloneSession`
 * gives an isolated SQLConf copy sharing the SparkContext, cache manager and
 * catalog; the input plan is re-rooted into the clone for the one
 * materialization and the (materialized, plan-truncated) result re-rooted
 * back, so nothing concurrent can observe the override.
 */
object ScopedSession {

  /** Run `build` on `df` under `confs` overrides in a cloned session and
    * return the result re-rooted in `df`'s own session. `build` must
    * MATERIALIZE its result (e.g. an eager localCheckpoint): the returned
    * frame's plan must not need the overridden confs again at execution
    * time, because re-rooting restores the original session's conf for
    * everything downstream. A result whose plan still has a leaf other
    * than a materialized `LogicalRDD` fails with IllegalArgumentException. */
  def withConfs(df: DataFrame, confs: (String, String)*)(
      build: DataFrame => DataFrame): DataFrame = {
    val ss = df.sparkSession.asInstanceOf[ClassicSession]
    val scoped = ss.cloneSession()
    confs.foreach { case (k, v) => scoped.conf.set(k, v) }
    val reRooted = ClassicDataset.ofRows(scoped, df.queryExecution.logical)
    val plan = build(reRooted).queryExecution.logical
    val lazyLeaves = plan.collectLeaves().filterNot(_.isInstanceOf[LogicalRDD])
    require(lazyLeaves.isEmpty,
      s"ScopedSession.withConfs: build returned an unmaterialized plan (leaves " +
        s"${lazyLeaves.map(_.nodeName).distinct.mkString(", ")}); it must end in " +
        "an eager checkpoint so the overrides are not needed at execution time")
    ClassicDataset.ofRows(ss, plan)
  }
}
