package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/**
 * Mergeable frequency sketches for corpus-scale "find the hot keys"
 * questions — stopword discovery, hot-entity detection, abusive-user
 * triage — where the key universe (corpus vocabulary, user base) is far
 * too large to hash-aggregate in full but only the φ-frequent tail
 * matters.
 *
 * The workhorse is the two-pass exact heavy-hitters pattern:
 *
 *   1. ONE scan folds a bounded Misra–Gries summary (capacity `m`) via a
 *      typed `Aggregator` — map-side partials merge associatively
 *      (Agarwal et al., "Mergeable Summaries", PODS'12), so the cluster
 *      ships O(m) state per partition instead of one row per distinct
 *      key. Every key with true frequency > n/(m+1) is GUARANTEED to
 *      survive into the summary (counts may be underestimated, never the
 *      key dropped).
 *   2. A second scan recounts ONLY the ≤ m surviving candidates exactly
 *      (a codegen'd `isin` prefilter, then a tiny hash aggregate) and
 *      applies the φ-threshold to the exact counts.
 *
 * Net: exact φ-heavy-hitters over 100 TB with two scans, no full-key
 * shuffle, and a driver control channel bounded by m entries — the same
 * "sketch to find candidates, exact pass to verify" shape as the banded
 * LSH dedup pipelines. (The one-pass alternative — groupBy(key).count —
 * shuffles every distinct key; at web-corpus vocabulary sizes that is
 * the bottleneck this operator exists to avoid.)
 */
object Sketches {

  /** Misra–Gries summary state: bounded (key → count) map plus the exact
    * number of rows folded in (the n of the φ·n threshold — riding it in
    * the state makes the sketch pass also the counting pass). */
  case class MgState(n: Long, counts: Map[String, Long])

  /** Bounded Misra–Gries frequency summary over string keys.
    *
    * `reduce`: increment the key if tracked or if a slot is free; else the
    * textbook decrement — subtract 1 from every counter and drop the ones
    * that hit zero (the incoming key's own count, 1 − 1 = 0, is among
    * them, so it is never stored). This is exactly the general
    * subtract-the-(capacity+1)-th-largest shrink specialized to the
    * reduce path: stored counts are always ≥ 1 and the incoming key
    * contributes a 1, so the (capacity+1)-th largest of the m+1 values IS
    * the constant 1 — no sort, no candidate-array allocation, one O(m)
    * map rebuild only on absorption rows (tracked-key and free-slot rows
    * stay O(1)).
    * `merge`: pointwise-sum the two maps, then if more than `capacity`
    * keys survive, subtract the (capacity+1)-th largest count and drop
    * non-positives (the classic mergeable-summaries shrink; counts here
    * genuinely vary, so merge keeps the sorted selection — it runs once
    * per partition pair, not once per row). Both keep the invariant:
    * estimated count ∈ [true − n/(capacity+1), true].
    */
  final class MisraGries(capacity: Int)
      extends Aggregator[String, MgState, MgState] {
    require(capacity >= 1, s"capacity must be >= 1, got $capacity")

    /** Keep the `capacity` largest counts, subtracting the (capacity+1)-th
      * largest from every survivor (no-op when already within bounds).
      * Merge-side only — the reduce path uses the constant-1 special case. */
    private def shrink(m: Map[String, Long]): Map[String, Long] =
      if (m.size <= capacity) m
      else {
        val cStar = m.valuesIterator.toArray.sorted(Ordering[Long].reverse)
          .apply(capacity) // (capacity+1)-th largest
        m.collect { case (k, c) if c > cStar => k -> (c - cStar) }
      }

    def zero: MgState = MgState(0L, Map.empty)
    def reduce(b: MgState, key: String): MgState = {
      val c = b.counts
      if (c.size < capacity || c.contains(key))
        MgState(b.n + 1, c.updated(key, c.getOrElse(key, 0L) + 1))
      else
        MgState(b.n + 1, c.collect { case (k, v) if v > 1L => k -> (v - 1L) })
    }
    def merge(a: MgState, b: MgState): MgState = {
      val sum = b.counts.foldLeft(a.counts) { case (m, (k, c)) =>
        m.updated(k, m.getOrElse(k, 0L) + c)
      }
      MgState(a.n + b.n, shrink(sum))
    }
    def finish(b: MgState): MgState = b
    def bufferEncoder = org.apache.spark.sql.Encoders.product[MgState]
    def outputEncoder = org.apache.spark.sql.Encoders.product[MgState]
  }

  /** Fold the Misra–Gries summary over one column of `df` (cast to
    * string). Exposed for tests and for callers that want the raw
    * candidate set rather than the exact recount. */
  def misraGriesSummary(df: DataFrame, keyCol: String, capacity: Int): MgState = {
    val spark = df.sparkSession
    import spark.implicits._
    val keys: Dataset[String] = df.select(col(keyCol).cast("string")).as[String]
    keys.select(new MisraGries(capacity).toColumn).head()
  }

  /**
   * Exact φ-heavy-hitters: every key of `keyCol` whose exact frequency
   * satisfies `count * phiDenom > n` (strictly), as (keyCol, cnt) — the
   * integer-ratio threshold sidesteps float boundary ambiguity.
   *
   * `capacity` must be ≥ phiDenom for the no-false-negative guarantee
   * (a φ-frequent key has frequency > n/phiDenom ≥ n/(capacity+1), so
   * Misra–Gries cannot have evicted it); the default gives 2× slack so
   * the exact recount prunes estimation noise instead of the guarantee
   * doing load-bearing work at the boundary.
   */
  def heavyHitters(df: DataFrame, keyCol: String, phiDenom: Int,
                   capacity: Int = -1): DataFrame = {
    val cap = if (capacity > 0) capacity else 2 * phiDenom
    require(cap >= phiDenom,
      s"capacity $cap < 1/phi = $phiDenom voids the superset guarantee")
    val summary = misraGriesSummary(df, keyCol, cap)
    val candidates = summary.counts.keys.toSeq
    if (candidates.isEmpty) {
      // n < phiDenom rows total, or pathological all-distinct stream
      df.select(col(keyCol), lit(0L).as("cnt")).limit(0)
    } else {
      df.filter(col(keyCol).cast("string").isInCollection(candidates))
        .groupBy(col(keyCol))
        .agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") * phiDenom > lit(summary.n))
    }
  }

  /** [[MisraGries]] lifted to (group, key) pairs: folds the KEY (`_2`) of
    * each pair — the per-group input shape `heavyHittersByGroup` feeds
    * through `groupByKey(_._1)`. Same state, same mergeability. */
  final class MisraGriesPair(capacity: Int)
      extends Aggregator[(String, String), MgState, MgState] {
    private val inner = new MisraGries(capacity)
    def zero: MgState = inner.zero
    def reduce(b: MgState, kv: (String, String)): MgState = inner.reduce(b, kv._2)
    def merge(a: MgState, b: MgState): MgState = inner.merge(a, b)
    def finish(b: MgState): MgState = b
    def bufferEncoder = inner.bufferEncoder
    def outputEncoder = inner.outputEncoder
  }

  /** One Misra–Gries summary PER group of `groupCol`, over `keyCol`, as a
    * Dataset of (group, state) rows — the distributed building block of
    * [[heavyHittersByGroup]], exposed so a streaming maintenance loop can
    * fold per-batch grouped summaries and merge them per group (MgState
    * merges associatively within a group exactly as in the global sketch).
    * Rows with a NULL group or key are skipped. */
  def misraGriesSummariesByGroup(df: DataFrame, groupCol: String,
                                 keyCol: String,
                                 capacity: Int): Dataset[(String, MgState)] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(groupCol).cast("string").as("_g"),
        col(keyCol).cast("string").as("_k"))
      .na.drop(Seq("_g", "_k"))
      .as[(String, String)].groupByKey(_._1)
      .agg(new MisraGriesPair(capacity).toColumn.name("mg"))
  }

  /** Candidate-frame row cap for the broadcast side of the exact-recount
    * semi-join: below it the (group, key) candidates ship to every
    * executor; above it (millions of groups × capacity) the probe rides a
    * shuffle_hash instead — the same count-gated switch as the graph
    * layer's removed-set / oversize joins. */
  private[pipeline] val CandidateBroadcastMax: Long = 4000000L

  /**
   * Per-GROUP exact φ-heavy-hitters: for every group of `groupCol`, the
   * keys whose within-group frequency satisfies `cnt * phiDenom > n_g`
   * (strictly, n_g = the group's row count) — per-domain stopword and
   * boilerplate discovery, per-tenant hot-entity triage. Returns
   * (groupCol, keyCol, cnt) with exact counts. Rows with a NULL group or
   * key are skipped (a heavy-hitter key must be a real key).
   *
   * Same two-scan shape as [[heavyHitters]], but NOTHING group-propor-
   * tional ever reaches the driver:
   *
   *   1. one scan folds an independent Misra–Gries summary PER GROUP
   *      (typed Aggregator over the group's keys — map-side partials
   *      merge, so the shuffle carries O(capacity) state per group per
   *      partition, never a (group, key) explosion); the per-group
   *      guarantee is the global one applied groupwise: capacity ≥
   *      phiDenom means a φ-frequent key of THAT group cannot have been
   *      evicted from THAT group's summary;
   *   2. candidates flatten to a (group, key) FRAME (≤ groups × capacity
   *      rows, stays distributed), the second scan recounts exactly the
   *      semi-joined survivors, and the φ-threshold applies against the
   *      per-group totals the summaries already carry (st.n — no third
   *      scan). The candidate/total side broadcasts under
   *      [[CandidateBroadcastMax]] rows and shuffle-hashes above it.
   */
  def heavyHittersByGroup(df: DataFrame, groupCol: String, keyCol: String,
                          phiDenom: Int, capacity: Int = -1): DataFrame = {
    val cap = if (capacity > 0) capacity else 2 * phiDenom
    require(cap >= phiDenom,
      s"capacity $cap < 1/phi = $phiDenom voids the per-group superset guarantee")
    val spark = df.sparkSession
    import spark.implicits._
    val pairs = df
      .select(col(groupCol).cast("string").as("_g"),
        col(keyCol).cast("string").as("_k"))
      .na.drop(Seq("_g", "_k"))
    // retained cache (deliberate, bounded ≤ #groups rows of O(capacity)
    // state): the returned frame's lineage references `summaries` through
    // both the candidate semi-join and the totals join, so unpersisting
    // before the caller consumes the result would re-run the corpus scan —
    // same convention as the memoized localCheckpoint prep frames.
    val summaries = misraGriesSummariesByGroup(df, groupCol, keyCol, cap)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val candidates = summaries
      .flatMap { case (g, st) => st.counts.keysIterator.map(k => (g, k)) }
      .toDF("_g", "_k")
    val totals = summaries.map { case (g, st) => (g, st.n) }.toDF("_g", "_n")
    // one control count decides the join side for BOTH tiny frames
    // (candidates ≤ groups × cap rows; totals is strictly smaller)
    val nCand = candidates.count()
    def side(f: DataFrame): DataFrame =
      if (nCand <= CandidateBroadcastMax) broadcast(f) else f.hint("shuffle_hash")
    pairs.join(side(candidates), Seq("_g", "_k"), "left_semi")
      .groupBy(col("_g"), col("_k")).agg(count(lit(1)).as("cnt"))
      .join(side(totals), Seq("_g"))
      .filter(col("cnt") * phiDenom > col("_n"))
      .select(col("_g").as(groupCol), col("_k").as(keyCol), col("cnt"))
  }

  // -------------------------------------------------------------------------
  // Log-bucket quantile histogram — a DDSketch-style relative-error
  // quantile sketch (Masson, Lee, Rim — VLDB'19) with a DETERMINISTIC,
  // SQL-reproducible bucket table.
  //
  // DDSketch buckets on ceil(log_gamma(x)) — FP log, whose boundary
  // behavior no two engines reproduce bit-for-bit. This variant replaces
  // the log with INTEGER bit arithmetic (the HLL-register discipline,
  // "never FP log"): for a positive integer v with bit length L, the
  // bucket is v itself while v < 2^(s+1) (the exact region), else
  // (L−s−1)·2^s + (v >> (L−s−1)) — i.e. the top s+1 bits of v prefixed by
  // its scale. Buckets are contiguous, monotone in v, and each log-region
  // bucket spans [m·2^shift, (m+1)·2^shift) with m ≥ 2^s, so the midpoint
  // estimate has relative error ≤ 2^−(s+1) (< 0.4 % at the default s=7).
  // Bucket count is bounded by 2^(s+1) + (63−s)·2^s (≈ 7.4 k rows at s=7)
  // for the FULL long range — a control-channel read, like HLL registers.
  //
  // The table merges by pointwise SUM — union of shard histograms ≡
  // histogram of the union — completing the mergeable per-shard profile
  // family (HLL = distinct counts, CMS = frequencies, Misra–Gries = heavy
  // hitters, this = quantiles): store one tiny table per shard/day,
  // answer any union's p50/p99 without rescanning. One scan, partial-
  // aggregated groupBy over the bounded bucket space.
  // -------------------------------------------------------------------------

  /** Integer-exact log-bucket id for a non-negative integral column —
    * pure bit arithmetic (length(bin(v)) + shiftright), reproducible
    * bit-for-bit in any engine with integer shifts. Negative values map
    * to bucket −1, which [[logHistogramQuantiles]] rejects loudly (scale
    * or offset the inputs first — a half-bucketed sketch must not
    * estimate). */
  private def logBucketCol(v: Column, s: Int): Column = {
    val shift = (length(bin(v)) - lit(s + 1)).cast("int")
    when(v < 0, lit(-1L))
      .when(v < lit(1L << (s + 1)), v.cast("long"))
      .otherwise(shift.cast("long") * lit(1L << s) +
        call_function("shiftright", v, shift))
  }

  /** The sketch table for `valueCol` (must be integral — quantize doubles
    * to cents/micro-units first, the repo-wide integer-exact discipline):
    * (bucket BIGINT, cnt BIGINT), one row per non-empty bucket, NULLs
    * skipped. `subBucketBits` = s trades size for accuracy: relative
    * error ≤ 2^−(s+1), bucket space ≤ 2^(s+1) + (63−s)·2^s. */
  def logHistogram(df: DataFrame, valueCol: String,
                   subBucketBits: Int = 7): DataFrame = {
    require(subBucketBits >= 1 && subBucketBits <= 16,
      s"subBucketBits must be in [1, 16], got $subBucketBits")
    df.filter(col(valueCol).isNotNull)
      .select(logBucketCol(col(valueCol).cast("long"), subBucketBits).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("cnt"))
  }

  /** Grouped variant — (groupCol, bucket, cnt), one bounded bucket table
    * per group (the d_hll_by_source shape for quantiles: per-type /
    * per-domain value profiles in one partial-aggregated scan). Each
    * group's slice is exactly its own ungrouped [[logHistogram]]; rows
    * with a NULL group or value are skipped. */
  def logHistogramBy(df: DataFrame, groupCol: String, valueCol: String,
                     subBucketBits: Int = 7): DataFrame = {
    require(subBucketBits >= 1 && subBucketBits <= 16,
      s"subBucketBits must be in [1, 16], got $subBucketBits")
    df.filter(col(groupCol).isNotNull && col(valueCol).isNotNull)
      .select(col(groupCol),
        logBucketCol(col(valueCol).cast("long"), subBucketBits).as("bucket"))
      .groupBy(col(groupCol), col("bucket")).agg(count(lit(1)).as("cnt"))
  }

  /** Pointwise-sum merge: union of shard histograms ≡ histogram of the
    * union (same contract as [[mergeHllRegisters]] / the CMS sum). */
  def mergeLogHistograms(hs: Seq[DataFrame]): DataFrame = {
    require(hs.nonEmpty, "nothing to merge")
    hs.map(_.select(col("bucket").cast("long"), col("cnt").cast("long")))
      .reduce(_ unionByName _)
      .groupBy(col("bucket")).agg(sum(col("cnt")).as("cnt"))
  }

  /** Quantile estimates from a (possibly merged) bucket table: for each
    * p, the integer midpoint of the bucket holding ascending rank
    * max(1, ceil(p·n)) — exact in the exact region, relative error ≤
    * 2^−(s+1) beyond it. Collects the BOUNDED bucket table to the driver
    * (≤ ~7.4 k rows at s=7 — a control channel, never data). Empty
    * histogram → empty result. Throws if bucket −1 is present (negative
    * inputs were sketched). */
  def logHistogramQuantiles(hist: DataFrame, ps: Seq[Double],
                            subBucketBits: Int = 7): DataFrame = {
    val rows = hist
      .select(col("bucket").cast("long"), col("cnt").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    require(rows.forall(_._1 >= 0L),
      "histogram contains bucket -1 (negative values): offset or scale inputs first")
    val spark = hist.sparkSession
    import spark.implicits._
    walkQuantiles(rows, ps, subBucketBits).toDF("p", "value")
  }

  /** Grouped decode: one rank walk per group over a `logHistogramBy` /
    * per-group-merged bucket table → (groupCol, p, value), `ps` order
    * preserved within each group (row order across groups is not
    * defined — it's a shuffled Dataset, sort downstream if you need to).
    * DISTRIBUTED: a `groupByKey(group).mapGroups` rank walk whose
    * per-task state is ONE group's bucket table (≤ ~7.4k rows at s=7 —
    * bounded by the sketch, not the data), so unlike the r11 driver-side
    * decode there is no bounded-group-dimension contract: millions of
    * groups decode in parallel. [[logHistogramQuantiles]] remains the
    * driver-side control-read path for ungrouped/merged tables. Rows with
    * a NULL group are skipped (matching [[logHistogramBy]], which never
    * emits them). Same loud bucket −1 rejection as the ungrouped decode —
    * a half-bucketed sketch must not estimate (surfaces as a task
    * failure carrying this message). */
  def logHistogramQuantilesBy(hist: DataFrame, groupCol: String, ps: Seq[Double],
                              subBucketBits: Int = 7): DataFrame = {
    val spark = hist.sparkSession
    import spark.implicits._
    val psLocal = ps.toIndexedSeq
    val s = subBucketBits
    hist
      .filter(col(groupCol).isNotNull)
      .select(col(groupCol).cast("string"), col("bucket").cast("long"),
        col("cnt").cast("long"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (g: String, it: Iterator[(String, Long, Long)]) =>
        val rows = it.map(t => (t._2, t._3)).toArray.sortBy(_._1)
        require(rows.forall(_._1 >= 0L),
          s"histogram group '$g' contains bucket -1 (negative values): " +
            "offset or scale inputs first")
        walkQuantiles(rows, psLocal, s).map { case (p, v) => (g, p, v) }
      }
      .toDF(groupCol, "p", "value")
  }

  /** Quantile-bucket inclusive UPPER bounds — the threshold decode for
    * split/assignment semantics ([[graft.pipeline.TextAnalysis.lmBuckets]]
    * and friends): `value` is the LAST integer of the bucket holding rank
    * ceil(p·n), so `x <= value` captures every value the sketch places
    * at-or-below that quantile. The midpoint representative of
    * [[logHistogramQuantiles]] is the better POINT estimate but can
    * undercut values inside its own bucket — used as a class threshold it
    * silently empties the lowest class. */
  def logHistogramQuantileEnds(hist: DataFrame, ps: Seq[Double],
                               subBucketBits: Int = 7): DataFrame = {
    val rows = hist
      .select(col("bucket").cast("long"), col("cnt").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    require(rows.forall(_._1 >= 0L),
      "histogram contains bucket -1 (negative values): offset or scale inputs first")
    val spark = hist.sparkSession
    import spark.implicits._
    walkQuantiles(rows, ps, subBucketBits, end = true).toDF("p", "value")
  }

  /** Shared rank walk + integer decode over one group's sorted
    * (bucket, cnt) rows: for each p, the bucket holding ascending rank
    * max(1, ceil(p·n)), decoded to its midpoint representative (default)
    * or its inclusive upper bound (`end = true`). Empty → empty. */
  private def walkQuantiles(rows: Array[(Long, Long)], ps: Seq[Double],
                            s: Int, end: Boolean = false): Seq[(Double, Long)] = {
    def rep(b: Long): Long =
      if (b < (1L << (s + 1))) b
      else {
        val shift = (b >> s) - 1L
        val m = b - shift * (1L << s)
        val lo = m << shift
        val hi = ((m + 1L) << shift) - 1L
        if (end) hi else lo + ((hi - lo) >> 1)
      }
    val n = rows.iterator.map(_._2).sum
    if (n == 0L) Seq.empty
    else ps.map { p =>
      val r = math.max(1L, math.ceil(p * n).toLong)
      var cum = 0L
      var b = rows.last._1
      val it = rows.iterator
      var found = false
      while (!found && it.hasNext) {
        val (bk, c) = it.next(); cum += c
        if (cum >= r) { b = bk; found = true }
      }
      (p, rep(b))
    }
  }

  // -------------------------------------------------------------------------
  // HyperLogLog registers — distinct-count sketch with a DETERMINISTIC,
  // SQL-reproducible register table (Flajolet et al., AofA'07).
  //
  // Spark's approx_count_distinct is an opaque HLL++ whose binary state can't
  // be cross-checked by another engine. This variant derives everything from
  // the Poly64 hash the rest of the oracle family uses: the register table
  // (bucket → max rank) is a pure function of the key SET, so it hash-gates
  // exactly against DuckDB, survives re-runs/retries/engine ports, and merges
  // by pointwise max — union of shard registers ≡ registers of the union,
  // which is what makes it a per-partition/per-day maintainable profile at
  // 100 TB (store one tiny register table per shard; estimate any union of
  // shards without rescanning). One scan, partial-aggregated groupBy over at
  // most 2^p buckets — never a distinct-key shuffle.
  // -------------------------------------------------------------------------

  /** HLL register table for `keyCol`: (bucket BIGINT, r INT), one row per
    * NON-EMPTY bucket. h = mix64(Poly64(key)) — the avalanche finalizer is
    * load-bearing: raw Poly64 top bits are lattice-structured on short keys
    * and skew the rank statistics. bucket = low p bits; rank = leading
    * zeros of the remaining (64−p)-bit window + 1 (in [1, 64−p+1]). Bit
    * length via `length(bin(v))` — exact integer arithmetic at power-of-two
    * boundaries on both engines (never FP log). NULL keys are skipped. */
  def hllRegisters(df: DataFrame, keyCol: String, p: Int): DataFrame = {
    require(p >= 4 && p <= 18, s"p must be in [4, 18], got $p")
    val w = 64 - p
    val h = graft.functions.Poly64.mix64(
      graft.functions.Poly64.poly64(col(keyCol).cast("string")))
    val v = shiftrightunsigned(h, p) // high 64-p bits; >= 0 for p >= 1
    df.filter(col(keyCol).isNotNull)
      .select(
        h.bitwiseAND(lit((1L << p) - 1)).as("bucket"),
        when(v === 0, lit(w + 1))
          .otherwise(lit(w + 1) - length(bin(v))).cast("int").as("rank"))
      .groupBy(col("bucket"))
      .agg(max(col("rank")).as("r"))
  }

  /** Merge register tables (any number of shards): pointwise max. */
  def mergeHllRegisters(shards: Seq[DataFrame]): DataFrame =
    shards.reduce(_ unionByName _).groupBy(col("bucket")).agg(max(col("r")).as("r"))

  /** Per-group HLL register tables: (groupCol, bucket, r) — one distinct
    * profile per value of a BOUNDED grouping dimension (source, language,
    * day). ≤ #groups · 2^p rows from one partial-aggregated scan; each
    * group's slice feeds [[hllEstimate]], and shard tables merge by
    * (group, bucket) max exactly like the ungrouped ones — the per-shard/
    * per-day profile a 100 TB corpus keeps instead of recounting distincts
    * per dimension slice. */
  def hllRegistersBy(df: DataFrame, groupCol: String, keyCol: String,
                     p: Int): DataFrame = {
    require(p >= 4 && p <= 18, s"p must be in [4, 18], got $p")
    val w = 64 - p
    val h = graft.functions.Poly64.mix64(
      graft.functions.Poly64.poly64(col(keyCol).cast("string")))
    val v = shiftrightunsigned(h, p)
    df.filter(col(keyCol).isNotNull)
      .select(col(groupCol),
        h.bitwiseAND(lit((1L << p) - 1)).as("bucket"),
        when(v === 0, lit(w + 1))
          .otherwise(lit(w + 1) - length(bin(v))).cast("int").as("rank"))
      .groupBy(col(groupCol), col("bucket"))
      .agg(max(col("rank")).as("r"))
  }

  /** Merge per-group register tables: pointwise max within (group, bucket). */
  def mergeHllRegistersBy(groupCol: String, shards: Seq[DataFrame]): DataFrame =
    shards.reduce(_ unionByName _)
      .groupBy(col(groupCol), col("bucket")).agg(max(col("r")).as("r"))

  /** Standard HLL estimate from a (bucket, r) register table: harmonic mean
    * of 2^-r over all 2^p buckets (empty bucket ⇒ r = 0), bias constant
    * α_m, linear-counting correction in the small range. Driver-side over
    * ≤ 2^p rows — the sketch IS the reduction; 64-bit hashes need no
    * large-range correction. */
  def hllEstimate(registers: DataFrame, p: Int): Double = {
    val m = 1 << p
    val regs = new Array[Int](m)
    registers.select(col("bucket").cast("long"), col("r").cast("int"))
      .collect().foreach { row => regs(row.getLong(0).toInt) = row.getInt(1) }
    val alpha = m match {
      case 16 => 0.673
      case 32 => 0.697
      case 64 => 0.709
      case _  => 0.7213 / (1.0 + 1.079 / m)
    }
    var z = 0.0
    var zeros = 0
    regs.foreach { r => z += math.pow(2.0, -r); if (r == 0) zeros += 1 }
    val e = alpha * m * m / z
    if (e <= 2.5 * m && zeros > 0) m * math.log(m.toDouble / zeros) else e
  }

  /** Distributed per-group HLL estimates straight from a
    * (groupCol, bucket, r) register table — [[hllEstimate]]'s formula as
    * Catalyst columns (one combinable aggregate per group, never a driver
    * collect): harmonic mean with each ABSENT bucket contributing 2^0 = 1,
    * the α_m bias constant, linear-counting correction when est ≤ 2.5m and
    * empty buckets exist. Register rows always carry r ≥ 1 (rank = leading
    * zeros + 1), so zeros = m − (rows present for the group). Feeds the
    * per-vertex ball sizes of HyperBall and any per-dimension profile
    * family too wide to decode one group at a time on the driver. */
  def hllEstimateBy(registers: DataFrame, groupCol: String, p: Int): DataFrame = {
    require(p >= 4 && p <= 18, s"p must be in [4, 18], got $p")
    val m = (1 << p).toDouble
    val alpha = (1 << p) match {
      case 16 => 0.673
      case 32 => 0.697
      case 64 => 0.709
      case _  => 0.7213 / (1.0 + 1.079 / m)
    }
    registers.groupBy(col(groupCol))
      .agg(sum(pow(lit(2.0), -col("r"))).as("_z1"),
        count(lit(1)).cast("double").as("_nb"))
      .withColumn("_zeros", lit(m) - col("_nb"))
      .withColumn("_e", lit(alpha * m * m) / (col("_z1") + col("_zeros")))
      .withColumn("est",
        when(col("_e") <= lit(2.5 * m) && col("_zeros") > 0,
          lit(m) * log(lit(m) / col("_zeros"))).otherwise(col("_e")))
      .select(col(groupCol), col("est"))
  }

  // -------------------------------------------------------------------------
  // PACKED HLL registers — one array<int>[2^p] column per group, the
  // in-core HyperBall layout (Boldi & Vigna keep one dense counter per
  // node for exactly this reason): a (group, bucket, r) ROW table costs
  // ~40 bytes of row overhead per non-empty bucket and multiplies every
  // propagation message by the ball's bucket count; the packed column is
  // ONE row per group, merged by a pointwise-max typed Aggregator (map-
  // side combinable), so an iterated merge over E edges ships E arrays,
  // not E·buckets rows. Measured on the R-MAT drill this is the
  // difference between 23.7 GB / 658 s row-form and 6.7 GB / 60 s packed
  // shuffle/wall at identical register values — and the BYTE-packed
  // BINARY layout below takes the same drill to 2.3 GB (identical
  // register values again, verified at identical unpacked row counts).
  // All three layouts hold IDENTICAL register values — unpack for the
  // hash-gateable table, estimate straight from the array otherwise.
  // -------------------------------------------------------------------------

  /** Mutable pointwise-max buffer for [[hllRegMax]]. */
  case class RegsBuf(v: Array[Int])

  private final class RegMax(m: Int)
      extends Aggregator[Seq[Int], RegsBuf, Seq[Int]] {
    def zero: RegsBuf = RegsBuf(new Array[Int](m))
    def reduce(b: RegsBuf, a: Seq[Int]): RegsBuf = {
      if (a != null) {
        val n = math.min(m, a.length); var i = 0
        while (i < n) { val x = a(i); if (x > b.v(i)) b.v(i) = x; i += 1 }
      }
      b
    }
    def merge(x: RegsBuf, y: RegsBuf): RegsBuf = {
      var i = 0
      while (i < m) { if (y.v(i) > x.v(i)) x.v(i) = y.v(i); i += 1 }
      x
    }
    def finish(b: RegsBuf): Seq[Int] = b.v.toSeq
    def bufferEncoder = org.apache.spark.sql.Encoders.product[RegsBuf]
    def outputEncoder =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Int]]()
  }

  /** Pointwise-max UDAF over packed register arrays — the union-merge of
    * HLL counters as a map-side-combinable DataFrame aggregate. */
  def hllRegMax(p: Int): org.apache.spark.sql.expressions.UserDefinedFunction = {
    require(p >= 4 && p <= 18, s"p must be in [4, 18], got $p")
    udaf(new RegMax(1 << p))
  }

  /** One packed singleton counter per group: regs[bucket(key)] = rank(key),
    * zeros elsewhere — [[hllRegistersBy]]'s math, array layout. Assumes one
    * key per group (the HyperBall init shape); for multi-key groups merge
    * with [[hllRegMax]]. */
  def hllPackedSingletons(df: DataFrame, groupCol: String, keyCol: String,
                          p: Int): DataFrame = {
    val m = 1 << p
    hllRegistersBy(df, groupCol, keyCol, p)
      .select(col(groupCol),
        expr(s"transform(sequence(0, ${m - 1}), i -> " +
          "CASE WHEN i = bucket THEN r ELSE 0 END)").as("regs"))
  }

  /** Packed → row table: (groupCol, bucket, r) rows for non-empty buckets —
    * the hash-gateable form, value-identical to [[hllRegistersBy]]. */
  def hllUnpack(packed: DataFrame, groupCol: String): DataFrame =
    packed.select(col(groupCol), posexplode(col("regs")).as(Seq("bucket", "r")))
      .filter(col("r") > 0)
      .select(col(groupCol), col("bucket").cast("long"), col("r").cast("int"))

  /** [[hllEstimateBy]]'s formula straight off a packed register column
    * (rowwise higher-order functions — no aggregation needed: the array IS
    * the group). */
  def hllEstimatePacked(regs: Column, p: Int): Column = {
    require(p >= 4 && p <= 18, s"p must be in [4, 18], got $p")
    val m = (1 << p).toDouble
    val alpha = alphaFor(1 << p)
    val z = aggregate(regs, lit(0.0),
      (acc, x) => acc + pow(lit(2.0), -x.cast("double")))
    val zeros = size(filter(regs, x => x === 0)).cast("double")
    val e = lit(alpha * m * m) / z
    when(e <= lit(2.5 * m) && zeros > 0, lit(m) * log(lit(m) / zeros))
      .otherwise(e)
  }

  // -------------------------------------------------------------------------
  // BYTE-packed registers (BINARY) — the wire-density layout: ranks fit a
  // byte (max 64−p+1 < 127), so a BINARY column carries 1 byte/register
  // against array<int>'s 4 + element headers — ~4× denser propagation
  // messages for HyperBall-style iterated merges, on top of the packed-
  // vs-row win. The cost: higher-order functions don't traverse BINARY,
  // so the per-ROW statistics (fixpoint counters, estimates) run as JVM
  // functions — acceptable because they are per-VERTEX projections, not
  // the per-EDGE hot path the packing optimizes. Register VALUES are
  // identical across all three layouts (spec-pinned); unpack for the
  // hash-gateable row table.
  // -------------------------------------------------------------------------

  /** Mutable pointwise-max buffer for [[hllRegMaxBytes]]. */
  case class ByteRegsBuf(v: Array[Byte])

  private final class RegMaxBytes(m: Int)
      extends Aggregator[Array[Byte], ByteRegsBuf, Array[Byte]] {
    def zero: ByteRegsBuf = ByteRegsBuf(new Array[Byte](m))
    def reduce(b: ByteRegsBuf, a: Array[Byte]): ByteRegsBuf = {
      if (a != null) {
        val n = math.min(m, a.length); var i = 0
        while (i < n) { val x = a(i); if (x > b.v(i)) b.v(i) = x; i += 1 }
      }
      b
    }
    def merge(x: ByteRegsBuf, y: ByteRegsBuf): ByteRegsBuf = {
      var i = 0
      while (i < m) { if (y.v(i) > x.v(i)) x.v(i) = y.v(i); i += 1 }
      x
    }
    def finish(b: ByteRegsBuf): Array[Byte] = b.v
    def bufferEncoder = org.apache.spark.sql.Encoders.product[ByteRegsBuf]
    def outputEncoder = org.apache.spark.sql.Encoders.BINARY
  }

  /** Pointwise-max UDAF over BYTE register arrays — [[hllRegMax]]'s merge
    * at wire density. */
  def hllRegMaxBytes(p: Int): org.apache.spark.sql.expressions.UserDefinedFunction = {
    require(p >= 4 && p <= 18, s"p must be in [4, 18], got $p")
    udaf(new RegMaxBytes(1 << p))
  }

  /** One byte-packed singleton counter per group — [[hllPackedSingletons]]
    * at wire density (same one-key-per-group init contract). */
  def hllPackedSingletonsBytes(df: DataFrame, groupCol: String, keyCol: String,
                               p: Int): DataFrame = {
    val m = 1 << p
    val pack = udf((bucket: Int, r: Int) => {
      val a = new Array[Byte](m); a(bucket) = r.toByte; a
    })
    hllRegistersBy(df, groupCol, keyCol, p)
      .select(col(groupCol),
        pack(col("bucket").cast("int"), col("r").cast("int")).as("regs"))
  }

  /** Byte-packed → row table: (groupCol, bucket, r) for non-empty buckets —
    * value-identical to [[hllUnpack]] on the int layout. */
  def hllUnpackBytes(packed: DataFrame, groupCol: String): DataFrame = {
    val toInts = udf((a: Array[Byte]) => a.map(_.toInt))
    packed.select(col(groupCol), posexplode(toInts(col("regs"))).as(Seq("bucket", "r")))
      .filter(col("r") > 0)
      .select(col(groupCol), col("bucket").cast("long"), col("r").cast("int"))
  }

  /** (non-zero register count, rank sum) over a byte array — the loop
    * fixpoint statistic, rowwise (struct fields `_1`, `_2`). */
  def hllByteStats: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((a: Array[Byte]) => {
      var n = 0; var s = 0L; var i = 0
      while (i < a.length) { if (a(i) > 0) { n += 1; s += a(i) }; i += 1 }
      (n, s)
    })

  /** [[hllEstimatePacked]] off a byte array — the identical fold order,
    * branch, AND math library (StrictMath, which backs Spark's pow/log
    * expressions) so the two layouts agree to the last bit. */
  def hllEstimateBytes(p: Int): org.apache.spark.sql.expressions.UserDefinedFunction = {
    require(p >= 4 && p <= 18, s"p must be in [4, 18], got $p")
    val m = 1 << p
    val alpha = alphaFor(m)
    udf((v: Array[Byte]) => {
      var acc = 0.0; var zeros = 0; var i = 0
      while (i < v.length) {
        acc += StrictMath.pow(2.0, -v(i).toDouble)
        if (v(i) == 0) zeros += 1
        i += 1
      }
      val e = alpha * m * m / acc
      if (e <= 2.5 * m && zeros > 0) m * StrictMath.log(m.toDouble / zeros)
      else e
    })
  }

  // -------------------------------------------------------------------------
  // LONG-packed registers (2^p / 8 LongType columns r0..r{L-1}, byte lane
  // j of column i = register 8·i + j, little-endian within the long) — the
  // byte layout's density with a HASH-AGGREGATABLE merge: each column
  // aggregates under graft.functions.BytewiseMaxAgg, a DeclarativeAggregate
  // with a fixed-width LongType buffer, so the per-round register merge
  // plans as a true HashAggregate (codegen + UnsafeFixedWidthAggregationMap)
  // instead of the ObjectHashAggregate a typed-Aggregator UDAF gets — which
  // abandons its hash map after 128 distinct keys per task
  // (spark.sql.objectHashAggregate.sortBased.fallbackThreshold) and
  // sort-aggregates everything: the measured 58 GB spill / default-heap OOM
  // on the scale-22 HyperBall drill. Register VALUES are identical across
  // all layouts (ranks ≤ 61 < 127 keep every byte lane 7-bit, the SWAR
  // precondition); per-row statistics keep hllByteStats' exact fold order
  // (byte index ascending) so estimates agree to the last bit.
  // -------------------------------------------------------------------------

  /** Column names of the long-packed register layout at precision p. */
  def hllLongCols(p: Int): Seq[String] =
    (0 until ((1 << p) / 8)).map(i => s"r$i")

  /** One long-packed singleton counter per group — [[hllPackedSingletons]]
    * in the r0..r{L-1} layout (same one-key-per-group init contract). */
  def hllPackedSingletonsLongs(df: DataFrame, groupCol: String, keyCol: String,
                               p: Int): DataFrame = {
    val L = (1 << p) / 8
    val packed = expr("shiftleft(CAST(r AS BIGINT), CAST((bucket % 8) * 8 AS INT))")
    hllRegistersBy(df, groupCol, keyCol, p)
      .select(col(groupCol) +: (0 until L).map { i =>
        when(col("bucket").divide(8).cast("int") === i, packed)
          .otherwise(lit(0L)).as(s"r$i")
      }: _*)
  }

  /** Long-packed → row table: (groupCol, bucket, r) for non-empty buckets —
    * value-identical to [[hllUnpackBytes]] on the byte layout. */
  def hllUnpackLongs(packed: DataFrame, groupCol: String, p: Int): DataFrame = {
    val toInts = udf((a: Seq[Long]) => {
      val out = new Array[Int](a.length * 8)
      var i = 0
      while (i < a.length) {
        val v = a(i); var j = 0
        while (j < 8) { out(i * 8 + j) = ((v >>> (8 * j)) & 0xFFL).toInt; j += 1 }
        i += 1
      }
      out
    })
    packed
      .select(col(groupCol),
        posexplode(toInts(array(hllLongCols(p).map(col): _*))).as(Seq("bucket", "r")))
      .filter(col("r") > 0)
      .select(col(groupCol), col("bucket").cast("long"), col("r").cast("int"))
  }

  /** (non-zero register count, rank sum) over the long-packed columns —
    * [[hllByteStats]]' statistic and fold order (byte index ascending). */
  def hllLongStats: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((a: Seq[Long]) => longRegStats(a.toArray))

  /** [[hllLongStats]] of one long-packed counter. */
  private[graft] def longRegStats(a: Array[Long]): (Int, Long) = {
    var n = 0; var s = 0L; var i = 0
    while (i < a.length) {
      val v = a(i); var j = 0
      while (j < 8) {
        val r = ((v >>> (8 * j)) & 0xFFL).toInt
        if (r > 0) { n += 1; s += r }
        j += 1
      }
      i += 1
    }
    (n, s)
  }

  /** [[hllEstimateBytes]] off the long-packed columns — identical fold
    * order (byte index ascending), branch, and math library (StrictMath)
    * so the layouts agree to the last bit. */
  def hllEstimateLongs(p: Int): org.apache.spark.sql.expressions.UserDefinedFunction = {
    require(p >= 4 && p <= 18, s"p must be in [4, 18], got $p")
    udf((a: Seq[Long]) => longRegEstimate(a.toArray, p))
  }

  /** [[hllEstimateLongs]] of one long-packed counter at precision `p`. */
  private[graft] def longRegEstimate(a: Array[Long], p: Int): Double = {
    val m = 1 << p
    val alpha = alphaFor(m)
    var acc = 0.0; var zeros = 0; var i = 0
    while (i < a.length) {
      val v = a(i); var j = 0
      while (j < 8) {
        val r = ((v >>> (8 * j)) & 0xFFL).toInt
        acc += StrictMath.pow(2.0, -r.toDouble)
        if (r == 0) zeros += 1
        j += 1
      }
      i += 1
    }
    val e = alpha * m * m / acc
    if (e <= 2.5 * m && zeros > 0) m * StrictMath.log(m.toDouble / zeros)
    else e
  }

  private def alphaFor(m: Int): Double = m match {
    case 16 => 0.673
    case 32 => 0.697
    case 64 => 0.709
    case _  => 0.7213 / (1.0 + 1.079 / m)
  }

  // -------------------------------------------------------------------------
  // Count-Min sketch — point-frequency estimates with a DETERMINISTIC,
  // SQL-reproducible counter table (Cormode & Muthukrishnan, J.Alg'05).
  //
  // Complements the two exact passes of `heavyHitters`: Misra–Gries answers
  // "which keys are φ-frequent", the CMS answers "roughly how often is THIS
  // key" for ANY key after the fact, without a second corpus scan. The
  // counter table (row, bucket → cnt) is a pure aggregate of the key stream
  // — ≤ depth·width rows, built in ONE partial-aggregated groupBy (never a
  // distinct-key shuffle), merged across shards by pointwise SUM (union of
  // shard sketches ≡ sketch of the union), so a 100 TB corpus keeps one tiny
  // table per shard/day and answers frequency probes over any shard union by
  // summing tables. Estimates are one-sided: est ≥ true count always; excess
  // is bounded by n·depth/width-ish collisions (classic ε = e/width at
  // δ = e^-depth).
  //
  // Hash family: Carter–Wegman over the two Poly64 members, g_i = h1 + i·h2
  // (mod 2^64) — the same construction the MinHash slots use — then the
  // mix64 avalanche finalizer before taking the low log2(width) bits. The
  // finalizer is load-bearing exactly as in the HLL: low bits of a raw
  // Rabin hash depend only on low bits of the input code points (mod-2^k
  // multiplication never propagates high→low), so unmixed buckets would
  // collide structurally on short decimal-ish keys. Width is a power of two
  // so `bucket = mixed & (width-1)` is the same low-bits window on Spark's
  // signed Long and the oracle's unsigned HUGEINT.
  // -------------------------------------------------------------------------

  /** Count-Min counter table for `keyCol`: (row INT in [0, depth),
    * bucket BIGINT in [0, 2^widthLog2), cnt BIGINT), one row per non-empty
    * counter. NULL keys are skipped. One scan, map-side partial aggregation;
    * counter updates for all `depth` rows ride a single `explode` over the
    * per-key (h1, h2) pair. */
  def cmsTable(df: DataFrame, keyCol: String, depth: Int = 4,
               widthLog2: Int = 11): DataFrame = {
    require(depth >= 1 && depth <= 16, s"depth must be in [1, 16], got $depth")
    require(widthLog2 >= 1 && widthLog2 <= 24,
      s"widthLog2 must be in [1, 24], got $widthLog2")
    val mask = (1L << widthLog2) - 1
    df.filter(col(keyCol).isNotNull)
      .select(
        graft.functions.Poly64.poly64(col(keyCol).cast("string")).as("h1"),
        graft.functions.Poly64.poly64(col(keyCol).cast("string"),
          graft.functions.Poly64.Seed2, graft.functions.Poly64.Mult2).as("h2"))
      .select(explode(sequence(lit(0), lit(depth - 1))).as("row"),
        col("h1"), col("h2"))
      .select(col("row"),
        graft.functions.Poly64.mix64(graft.functions.Poly64.wrapMulAdd(
            col("h1"), col("row").cast("long"), col("h2")))
          .bitwiseAND(lit(mask)).as("bucket"))
      .groupBy(col("row"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Merge CMS tables (any number of shards): pointwise sum. */
  def mergeCmsTables(shards: Seq[DataFrame]): DataFrame =
    shards.reduce(_ unionByName _)
      .groupBy(col("row"), col("bucket")).agg(sum(col("cnt")).as("cnt"))

  /** Point-frequency estimates for every row of `probes`: min over the
    * `depth` counters each probe key hashes into (0 when a counter row is
    * absent — an absent counter means no key ever touched it). Returns
    * `probes` + an `est` BIGINT column. The probe side explodes ×depth and
    * joins the ≤ depth·2^widthLog2-row counter table — broadcast-sized by
    * construction, so the probe never shuffles. */
  def cmsLookup(cms: DataFrame, probes: DataFrame, keyCol: String,
                depth: Int = 4, widthLog2: Int = 11): DataFrame = {
    require(depth >= 1 && depth <= 16, s"depth must be in [1, 16], got $depth")
    val mask = (1L << widthLog2) - 1
    val probeCols = probes.columns.map(col)
    probes
      .withColumn("h1", graft.functions.Poly64.poly64(col(keyCol).cast("string")))
      .withColumn("h2", graft.functions.Poly64.poly64(col(keyCol).cast("string"),
        graft.functions.Poly64.Seed2, graft.functions.Poly64.Mult2))
      .withColumn("row", explode(sequence(lit(0), lit(depth - 1))))
      .withColumn("bucket",
        graft.functions.Poly64.mix64(graft.functions.Poly64.wrapMulAdd(
          col("h1"), col("row").cast("long"), col("h2"))).bitwiseAND(lit(mask)))
      .join(broadcast(cms), Seq("row", "bucket"), "left")
      .groupBy(probeCols: _*)
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est"))
  }
}
