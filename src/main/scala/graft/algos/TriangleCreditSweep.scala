package graft.algos

import org.apache.spark.Partitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{InternalDF, ScopedSession}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.hash.Murmur3_x86_32

/**
 * Cogroup-style oriented triangle-support sweep for the k-truss peel —
 * the "ship each forward list ONCE, not once per edge" formulation
 * (guide §2.3 "shuffle keys and metadata instead of payloads", §8's
 * decide-with-small-rows pattern, §3.1 broadcast-what-fits; VERDICT r16
 * item 1).
 *
 * The r16 sweep attached fwd(u) to every oriented edge (u, v) with a join
 * and shuffled that per-edge array stream to the v side: Σ_u |fwd(u)|²
 * list ENTRIES crossed one exchange per sweep (~12.5 GB at R-MAT scale 22)
 * and the SMJ sorts of array-carrying rows dominated the spill (68 GB mem
 * at scale 22). This formulation moves only:
 *
 *  1. the bare (u, v) edge set, once per sweep, into a keyed checkpoint
 *     (hash(u) → partition, sorted by (u, v)) — 16 bytes/edge. fwd(u) is
 *     then never built, joined or shuffled AT ALL: each u's forward list
 *     IS its consecutive sorted run, read off in place by the zipped task
 *     (this also deletes the r16 fwd collect_list build and its
 *     ObjectHashAggregate 128-key sort fallback — VERDICT item 4 — from
 *     the sweep path);
 *  2. (v, pid) DEMAND pairs — which partitions hold an in-edge of v —
 *     deduplicated IN-TASK (every row of a partition shares its pid), so
 *     a hub whose in-edges land in all P partitions ships P pairs, not
 *     indeg(v);
 *  3. fv lists, TWO-TIER (decided per sweep from a counts-only stats
 *     pass): a per-partition route DEGENERATES on exactly the heavy
 *     lists — a core vertex's in-edges land in every partition, so its
 *     (long) list ships `parts` copies; measured at R-MAT scale 20
 *     (parts=47, first sweep) the one-tier route shipped 157.0 M entries
 *     and the tonnage grows linearly with `parts`. So lists whose demand
 *     fanout reaches parts/2 ship ONCE PER EXECUTOR as a broadcast (one
 *     copy in local mode; at scale 20 that tier was 22k lists / 3.1 M
 *     entries ≈ 25 MB, and the cold remainder 25.7 M entries — 6× less
 *     moved overall), the rest once per demanding partition, routed to
 *     the exact partition INDEX. The broadcast tier is capped by
 *     `spark.graft.truss.hotListMaxBytes` (default 512 MB) — above the
 *     cap it falls back to the cold route rather than risk the driver
 *     copy.
 *
 * Each zipped task then enumerates w ∈ fwd(u) ∩ fwd(v) with the same
 * size-adaptive galloping intersection as [[graft.functions.GraphSetOps]]
 * and streams the three per-triangle canonical edge credits as raw rows
 * STRAIGHT INTO Catalyst's partial HashAggregate — deliberately no
 * bespoke accumulator in the task (a first cut kept an unmanaged
 * open-addressing credit map per task; 32 concurrent copies of it sat
 * invisible to Spark's memory manager UNDER the managed partial-agg hash
 * map and OOM'd the 8 g scale-22 drill — the SQL partial agg does the
 * same combining in managed, spillable, codegen'd memory). Per-task
 * memory is therefore just the cold fv slice + the shared hot broadcast.
 *
 * Partition alignment: the demand/fv routing must land each list in the
 * exact partition index where the edge runs live. Edge layout is Catalyst
 * `hashpartitioning(u, parts)` = `pmod(murmur3(u, seed 42), parts)`;
 * [[SqlHashPartitioner]] replicates it on the RDD side
 * (Murmur3_x86_32.hashLong — TriangleCreditSweepSpec pins the equality
 * against the SQL `hash()` function, and a mismatch is LOUD: no fv list
 * would ever match its edges and every support would come back 0, which
 * the randomized peel-equivalence specs and the oracle gate both catch).
 *
 * Exactness: same triangles enumerated as the r16 join formulation (each
 * once, at its unique two-out-legs vertex u), same three canonical
 * credits, same count aggregate — only WHERE the intersection runs and
 * HOW list bytes travel changed. Determinism under task retry: every
 * stage is a deterministic function of the checkpointed edge blocks.
 */
private[graft] object TriangleCreditSweep {

  /** Replicates Catalyst HashPartitioning's row→partition mapping for a
    * single non-null LongType key. */
  final class SqlHashPartitioner(parts: Int) extends Partitioner {
    override def numPartitions: Int = parts
    override def getPartition(key: Any): Int = {
      val h = Murmur3_x86_32.hashLong(key.asInstanceOf[Long], 42)
      val m = h % parts
      if (m < 0) m + parts else m
    }
  }

  /** Routes pre-computed partition indices verbatim. */
  final class IdPartitioner(parts: Int) extends Partitioner {
    override def numPartitions: Int = parts
    override def getPartition(key: Any): Int = key.asInstanceOf[Int]
  }

  /** Open-addressing Long → AnyRef map (null value = empty slot; values
    * are never null). Load factor ≤ 0.5, grows by doubling. Serializable:
    * the hot tier rides a broadcast. */
  private final class LongObjMap(initialPow2: Int) extends Serializable {
    private var mask = (1 << initialPow2) - 1
    private var keys = new Array[Long](mask + 1)
    private var vals = new Array[AnyRef](mask + 1)
    private var n = 0
    def put(k: Long, v: AnyRef): Unit = {
      if (2 * (n + 1) > mask) grow()
      var i = java.lang.Long.hashCode(k * 0x9E3779B97F4A7C15L) & mask
      while (vals(i) != null && keys(i) != k) i = (i + 1) & mask
      if (vals(i) == null) n += 1
      keys(i) = k; vals(i) = v
    }
    def get(k: Long): AnyRef = {
      var i = java.lang.Long.hashCode(k * 0x9E3779B97F4A7C15L) & mask
      while (vals(i) != null) {
        if (keys(i) == k) return vals(i)
        i = (i + 1) & mask
      }
      null
    }
    private def grow(): Unit = {
      val ok = keys; val ov = vals
      mask = mask * 2 + 1
      keys = new Array[Long](mask + 1); vals = new Array[AnyRef](mask + 1)
      n = 0
      var i = 0
      while (i < ok.length) {
        if (ov(i) != null) put(ok(i), ov(i))
        i += 1
      }
    }
  }

  /** Groups a (u, v)-sorted InternalRow stream into per-u forward lists.
    * Rows are reused buffers — primitives are copied out immediately. */
  private final class RunIterator(it: Iterator[InternalRow])
      extends Iterator[(Long, Array[Long])] {
    private var has = false
    private var nu = 0L
    private var nv = 0L
    advance()
    private def advance(): Unit =
      if (it.hasNext) { val r = it.next(); nu = r.getLong(0); nv = r.getLong(1); has = true }
      else has = false
    override def hasNext: Boolean = has
    override def next(): (Long, Array[Long]) = {
      val u = nu
      var buf = new Array[Long](8)
      var n = 0
      while (has && nu == u) {
        if (n == buf.length) buf = java.util.Arrays.copyOf(buf, n * 2)
        buf(n) = nv; n += 1
        advance()
      }
      (u, java.util.Arrays.copyOf(buf, n))
    }
  }

  private final val GallopRatio = 8 // mirrors GraphSetOps.GallopRatio

  /** First index in [lo, n) with y(idx) ≥ v (n when none). */
  @inline private def lowerBound(y: Array[Long], lo: Int, v: Long): Int = {
    var l = lo; var h = y.length
    while (l < h) {
      val mid = (l + h) >>> 1
      if (y(mid) < v) l = mid + 1 else h = mid
    }
    l
  }

  /** Streams a partition's edge runs against its fv lists (cold slice +
    * shared hot broadcast) and emits per-triangle credits as (a, b, c)
    * rows straight into the partial aggregate downstream.
    *
    * Two of a triangle (u, v, w)'s three credits — the (u, v) base and
    * the (u, w) leg — are keys (u, x) with x ∈ fwd(u), so they are
    * pre-combined EXACTLY in a counts array ALIGNED WITH THE RUN (zero
    * hash map, zero extra memory beyond |fu| longs) and emitted as at
    * most |fu| rows when the run ends; only the (v, w) closing credit
    * (one row per triangle, c = 1) goes out raw. Without this the
    * partial HashAggregate ingested 3 rows per triangle and spilled
    * 21.7 GB on the scale-22 first sweep (per-stage measured); with it,
    * agg input ≈ triangles + |E|.
    *
    * The per-edge intersection lands in a reused growable buffer
    * (bounded by min(|fu|, |fv|) ≤ the forward-list bound), so per-task
    * state is just the fv maps plus one |fu|-sized counts array. */
  private final class CreditRowIterator(
      eIt: Iterator[InternalRow],
      fvIt: Iterator[(Int, (Long, Array[Long]))],
      hot: LongObjMap) extends Iterator[InternalRow] {
    private val fv = {
      val m = new LongObjMap(12)
      fvIt.foreach { case (_, (v, arr)) => m.put(v, arr) }
      m
    }
    private val runs = new RunIterator(eIt)
    private val writer = new UnsafeRowWriter(3)
    // current run
    private var curU = 0L
    private var curFu: Array[Long] = null
    private var legCnt: Array[Long] = null // aligned with curFu
    private var curIdx = 0
    // current edge's intersection result and emission cursor
    private var curV = 0L
    private var wBuf = new Array[Long](64)
    private var wCnt = 0
    private var emit = 0 // raw (v, w) rows emitted for the current edge
    // end-of-run leg drain cursor (-1 = not draining)
    private var legIdx = -1
    /** Size-adaptive sorted intersection of x and y into wBuf. */
    private def intersect(x0: Array[Long], y0: Array[Long]): Unit = {
      var x = x0; var y = y0
      if (x.length > y.length) { val t = x; x = y; y = t }
      val n = x.length; val m = y.length
      if (wBuf.length < n) wBuf = new Array[Long](Integer.highestOneBit(n) * 2)
      var c = 0
      if (n > 0 && m >= GallopRatio.toLong * n) {
        var i = 0; var lo = 0
        while (i < n && lo < m) {
          val v = x(i)
          val l = lowerBound(y, lo, v)
          if (l < m && y(l) == v) { wBuf(c) = v; c += 1; lo = l + 1 } else lo = l
          i += 1
        }
      } else {
        var i = 0; var j = 0
        while (i < n && j < m) {
          val xv = x(i); val yv = y(j)
          if (xv == yv) { wBuf(c) = xv; c += 1; i += 1; j += 1 }
          else if (xv < yv) i += 1
          else j += 1
        }
      }
      wCnt = c; emit = 0
    }
    /** Credits the run-local legs of the current edge's wCnt triangles:
      * (u, v) += wCnt at the edge's own slot, (u, w) += 1 at each w's slot
      * (w ∈ fu, found by binary search — fu is sorted). */
    private def creditLegs(): Unit = {
      legCnt(curIdx - 1) += wCnt.toLong // slot of v: the edge just consumed
      var i = 0
      while (i < wCnt) {
        val slot = java.util.Arrays.binarySearch(curFu, wBuf(i))
        legCnt(slot) += 1L // w ∈ fu by construction
        i += 1
      }
    }
    /** Advances to the next emission source: a non-empty intersection
      * (raw (v, w) rows) or an end-of-run leg drain. */
    private def advance(): Boolean = {
      while (true) {
        if (legIdx >= 0) {
          // draining run legs
          while (legIdx < legCnt.length && legCnt(legIdx) == 0L) legIdx += 1
          if (legIdx < legCnt.length) return true
          legIdx = -1; curFu = null
        } else if (curFu != null && curIdx < curFu.length) {
          curV = curFu(curIdx); curIdx += 1
          var arr = fv.get(curV)
          if (arr == null) arr = hot.get(curV)
          if (arr != null) {
            intersect(curFu, arr.asInstanceOf[Array[Long]])
            if (wCnt > 0) { creditLegs(); return true }
          }
        } else if (curFu != null) {
          legIdx = 0 // run exhausted: drain its leg counts
        } else if (runs.hasNext) {
          val t = runs.next(); curU = t._1; curFu = t._2; curIdx = 0
          legCnt = new Array[Long](curFu.length)
        } else return false
      }
      false
    }
    override def hasNext: Boolean =
      (legIdx < 0 && emit < wCnt) || advance()
    override def next(): InternalRow = {
      if (!hasNext) throw new NoSuchElementException
      var a = 0L; var b = 0L; var c = 0L
      if (legIdx >= 0) {
        val x = curFu(legIdx)
        if (curU < x) { a = curU; b = x } else { a = x; b = curU }
        c = legCnt(legIdx)
        legIdx += 1
      } else {
        val w = wBuf(emit)
        if (curV < w) { a = curV; b = w } else { a = w; b = curV }
        c = 1L
        emit += 1
      }
      writer.reset()
      writer.write(0, a); writer.write(1, b); writer.write(2, c)
      writer.getRow
    }
  }

  private val creditSchema = StructType(Seq(
    StructField("a", LongType, nullable = false),
    StructField("b", LongType, nullable = false),
    StructField("c", LongType, nullable = false)))

  /** Per-edge supports over the oriented edge set `dirE` (columns u, v):
    * (a, b, support) with a < b, rows only for edges in ≥ 1 triangle —
    * the exact contract of the r16 join-based sweep. The result is
    * returned ALREADY materialized (serialized localCheckpoint) so the
    * keyed edge checkpoint backing the computation can be unpersisted
    * here instead of leaking until a GC sweep. */
  def sweep(dirE: DataFrame, parts: Int): DataFrame = {
    val spark = dirE.sparkSession
    // keyed layout: hash(u) → partition, sorted (u, v); AQE off for the one
    // eager materialization (cpKeyed's UnknownPartitioning discovery — here
    // the PHYSICAL layout is what the zip consumes, and the non-adaptive
    // plan guarantees exactly `parts` ShuffledRowRDD partitions indexed by
    // pmod(murmur3(u), parts))
    val keyed = ScopedSession.withConfs(dirE.select(col("u"), col("v")),
      "spark.sql.adaptive.enabled" -> "false") { df =>
      df.repartition(parts, col("u")).sortWithinPartitions("u", "v")
        .localCheckpoint(true, StorageLevel.MEMORY_AND_DISK_SER)
    }
    try {
      val eRdd: RDD[InternalRow] = {
        val raw = InternalDF.internalRdd(keyed)
        // a provably-empty input is optimized to a 0-partition local
        // relation; re-shape it so the partition-aligned zips still line up
        // (any other count mismatch would be a real layout bug — fail loud)
        if (raw.getNumPartitions == 0)
          spark.sparkContext.parallelize(Seq.empty[InternalRow], parts)
        else {
          require(raw.getNumPartitions == parts,
            s"keyed edge layout has ${raw.getNumPartitions} partitions, " +
              s"expected $parts — repartition contract broken")
          raw
        }
      }
      // (v, pid) demand pairs, deduped in-task (one Set per partition)
      val demand: RDD[(Long, Int)] = eRdd.mapPartitionsWithIndex { (pid, it) =>
        val seen = new java.util.HashSet[Long]()
        it.foreach(r => seen.add(r.getLong(1)))
        val vs = seen.iterator()
        new Iterator[(Long, Int)] {
          override def hasNext: Boolean = vs.hasNext
          override def next(): (Long, Int) = (vs.next(), pid)
        }
      }
      // forward lists read off the sorted runs, already living in the
      // hash(u) layout — route the demand TO them, never them to the demand
      val fwd: RDD[(Long, Array[Long])] =
        eRdd.mapPartitions(it => new RunIterator(it))
      val routedDemand = demand.partitionBy(new SqlHashPartitioner(parts))
      def wantMap(demIt: Iterator[(Long, Int)])
          : java.util.HashMap[Long, scala.collection.mutable.ArrayBuffer[Int]] = {
        val want = new java.util.HashMap[Long, scala.collection.mutable.ArrayBuffer[Int]]()
        demIt.foreach { case (v, pid) =>
          var b = want.get(v)
          if (b == null) { b = scala.collection.mutable.ArrayBuffer.empty[Int]; want.put(v, b) }
          b += pid
        }
        want
      }
      // two-tier decision: counts-only stats pass guards the broadcast
      val hotCut = math.max(2, parts / 2)
      val hotMaxBytes = spark.conf
        .get("spark.graft.truss.hotListMaxBytes", (512L * 1024 * 1024).toString).toLong
      val (hotListCount, hotEntryCount) =
        fwd.zipPartitions(routedDemand) { (fwdIt, demIt) =>
          val want = wantMap(demIt)
          var lists = 0L; var entries = 0L
          fwdIt.foreach { case (v, arr) =>
            val p = want.get(v)
            if (p != null && p.length >= hotCut) { lists += 1L; entries += arr.length }
          }
          Iterator.single((lists, entries))
        }.fold((0L, 0L))((a, b) => (a._1 + b._1, a._2 + b._2))
      val effCut =
        if (hotEntryCount * 8L <= hotMaxBytes) hotCut else Int.MaxValue
      val hotBc = spark.sparkContext.broadcast {
        val m = new LongObjMap(12)
        if (effCut != Int.MaxValue && hotListCount > 0L) {
          val hot = fwd.zipPartitions(routedDemand) { (fwdIt, demIt) =>
            val want = wantMap(demIt)
            fwdIt.filter { case (v, _) =>
              val p = want.get(v); p != null && p.length >= effCut
            }
          }.collect()
          hot.foreach { case (v, arr) => m.put(v, arr) }
        }
        m
      }
      // cold lists: shipped once per demanding partition
      val fvShip: RDD[(Int, (Long, Array[Long]))] =
        fwd.zipPartitions(routedDemand) { (fwdIt, demIt) =>
          val want = wantMap(demIt)
          fwdIt.flatMap { case (v, arr) =>
            val pids = want.get(v)
            if (pids == null || pids.length >= effCut) Iterator.empty
            else pids.iterator.map(pid => (pid, (v, arr)))
          }
        }
      val routedFv = fvShip.partitionBy(new IdPartitioner(parts))
      val credits: RDD[InternalRow] =
        eRdd.zipPartitions(routedFv) { (edgeIt, fvIt) =>
          new CreditRowIterator(edgeIt, fvIt, hotBc.value)
        }
      val sup = InternalDF.ofInternalRows(spark, credits, creditSchema)
        .groupBy(col("a"), col("b"))
        .agg(coalesce(sum(col("c")), lit(0L)).as("support"))
      // materialize BEFORE unpersisting the keyed blocks the zip reads
      val out = sup.localCheckpoint(true, StorageLevel.MEMORY_AND_DISK_SER)
      hotBc.destroy() // one sweep = one broadcast lifetime
      out
    } finally keyed.unpersist(false)
  }
}
