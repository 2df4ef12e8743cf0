package graft

import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Window => LWindow}
import org.apache.spark.sql.functions._
import graft.pipeline.Ann

/** Plan-shape audits: queries whose SCALE story depends on the plan NOT
  * containing a particular operator get that absence asserted here, so a
  * refactor that quietly reintroduces e.g. a global unpartitioned window
  * (single-task sort of the corpus at 100 TB) fails the suite instead of
  * the next cluster run. */
class PlanAuditSpec extends SparkSpec {
  import spark.implicits._

  private def windowNodes(plan: LogicalPlan): Seq[LWindow] =
    plan.collect { case w: LWindow => w }

  test("rankTopK matches window-based ranking, ties broken by id asc") {
    val scored = Seq(
      (10L, 5.0), (11L, 7.0), (12L, 5.0), (13L, 9.0), (14L, 7.0),
      (15L, 1.0), (16L, 9.0), (17L, 3.0)).toDF("doc_id", "score")
    val got = Ann.rankTopK(scored, "score", "doc_id", k = 5)
      .orderBy("rank").as[(Long, Long)].collect().toSeq
    // score desc, id asc: 13(9) 16(9) 11(7) 14(7) 10(5)
    assert(got === Seq((13L, 1L), (16L, 2L), (11L, 3L), (14L, 4L), (10L, 5L)))
  }

  test("rankTopK with k larger than input ranks every row") {
    val scored = Seq((1L, 2.0), (2L, 8.0)).toDF("doc_id", "score")
    val got = Ann.rankTopK(scored, "score", "doc_id", k = 50)
      .orderBy("rank").as[(Long, Long)].collect().toSeq
    assert(got === Seq((2L, 1L), (1L, 2L)))
  }

  test("rankTopK plans as TakeOrdered with zero Window nodes") {
    val scored = spark.range(1000)
      .select(col("id").as("doc_id"), (col("id") % 97).cast("double").as("score"))
    val ranked = Ann.rankTopK(scored, "score", "doc_id", k = 50)
    assert(windowNodes(ranked.queryExecution.optimizedPlan).isEmpty,
      "rankTopK must not plan a Window")
    assert(ranked.queryExecution.sparkPlan.toString.contains("TakeOrderedAndProject"),
      "rankTopK's limit must plan as TakeOrderedAndProject (parallel partial top-k)")
  }

  // Queries allowed to plan a BroadcastNestedLoopJoin — the three
  // documented-benign categories from the r8/r10 audits (SCALE.md "NLJ
  // audit"): (a) brute-force oracle arms whose scale twins bucket with
  // equi-joins; (b) Lloyd/ADC scoring against BROADCAST nlist-row
  // centroid/codebook frames (products bounded by nlist / 2^codebits —
  // the correct plan for dense scoring); (c) 1-row broadcast scalar
  // attaches and tiny literal ranges. Adding a name here requires the
  // same justification in SCALE.md; a cartesian product is never benign.
  private val nljAllowed: Set[String] = Set(
    // (a) brute-force oracle arms
    "e_knn_top1", "e_knn_recall", "e_knn_graph", "e_embedding_dedup",
    // (b) broadcast centroid/codebook scoring
    "e_knn_ivf", "e_knn_ivf_incr", "e_knn_ivfpq", "e_knn_ivfpq_incr",
    "e_knn_pq", "e_knn_sq8", "e_semdedup", "e_semdedup_incr",
    // (c) scalar attaches / literal ranges / bounded-dimension class
    // tables (d_domain_classify crosses tf with the broadcast #classes-row
    // class table — the NB scoring shape, SCALE.md r13 section)
    "d_bm25_top", "d_cooccur", "d_dsir_sample", "d_dsir_weights",
    "d_dsir_weights_bi", "d_hybrid_rrf", "d_lm_score", "d_lm_domain",
    "d_lm_ngram", "d_tfidf_top",
    // r15: the order-5 tercile split and the bigram-weighted sampler
    // inherit their parents' 1-row scalar attaches verbatim (d_lm_ngram's
    // totals row; d_dsir_weights_bi's B-row model + totals)
    "d_lm_ngram_buckets", "d_dsir_sample_bi",
    "d_edit_pairs", "d_edit_clusters", "g_generators", "d_domain_classify")

  test("sweep: no gated query plans an unpartitioned Window over " +
       "non-aggregated, unbounded input, a cartesian product, or an " +
       "unpinned nested-loop join") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, GlobalLimit, LocalRelation}
    // An unpartitioned Window moves its whole input into ONE task — fatal
    // at 100 TB unless the input is already bounded: an Aggregate whose
    // cardinality is key-bounded (the packBins per-partition-totals
    // pattern), an explicit limit, or a literal relation. Enforce the
    // r8 audit's conclusion (true then by inspection) over every gated
    // query so a refactor reintroducing a corpus-sized global sort fails
    // the suite. The same single pass pins the NLJ audit (once a separate
    // PlanAudit main): zero cartesian products anywhere, and nested-loop
    // joins only in the allowlisted benign set above — a new NLJ shape
    // fails here instead of on the next cluster run.
    val dir = "/root/testdata/sf0.001"
    val offenders = scala.collection.mutable.ListBuffer.empty[String]
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val qe =
        try fn(spark, dir).queryExecution
        catch { case e: Throwable => fail(s"$name failed to plan: $e") }
      windowNodes(qe.optimizedPlan).filter(_.partitionSpec.isEmpty).foreach { w =>
        val bounded = w.child.collectFirst {
          case a: Aggregate => a
          case l: GlobalLimit => l
        }.nonEmpty || w.child.collectLeaves().forall(_.isInstanceOf[LocalRelation])
        if (!bounded) offenders += s"$name: unpartitioned Window"
      }
      val phys = qe.executedPlan.toString
      if (phys.contains("CartesianProduct"))
        offenders += s"$name: CartesianProduct"
      if (phys.contains("BroadcastNestedLoopJoin") && !nljAllowed(name))
        offenders += s"$name: unpinned BroadcastNestedLoopJoin"
    }
    assert(offenders.isEmpty,
      s"scale-hostile plan shapes: ${offenders.distinct.mkString("; ")}")
  }

  test("d_hybrid_rrf plan contains no unpartitioned Window (scale audit)") {
    val df = SparkEntry.queries("d_hybrid_rrf")(spark, "/root/testdata/sf0.001")
    val wins = windowNodes(df.queryExecution.optimizedPlan)
    val unpartitioned = wins.filter(_.partitionSpec.isEmpty)
    assert(unpartitioned.isEmpty,
      s"d_hybrid_rrf has ${unpartitioned.size} global window(s) — single-task sort at scale")
    assert(wins.isEmpty, "d_hybrid_rrf should be entirely window-free")
    assert(df.queryExecution.sparkPlan.toString.contains("TakeOrderedAndProject"))
    // and it still returns fused rows
    assert(df.count() > 0)
  }
}
