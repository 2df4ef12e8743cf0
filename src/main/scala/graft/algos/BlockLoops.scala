package graft.algos

import scala.collection.mutable

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.InternalDF
import org.apache.spark.sql.types._

import graft.functions.RegOps
import graft.pipeline.Sketches
import graft.pregel.{Aggregators, Combining, ComputeFunction, Pregel}
import graft.pregel.Pregel.{Callback, HookContext, MasterCallback, OutEdge}

/**
 * Plumbing for the loops of [[GraphAlgorithms]] that run on the block
 * superstep runtime ([[graft.pregel.Pregel]]): wcc, kCore, pageRank and
 * HyperBall. A round is one Spark job of two stages — the message shuffle,
 * then the zip of the cached state, adjacency and inbox blocks — with no
 * query planning, codegen or closure cleaning in it, and every vertex
 * program below combines its messages map-side ([[Combining]]).
 *
 * The edge list comes from a DataFrame once per run: keyed by source on the
 * run's partitioner (so the runtime's own `partitionBy` is a no-op), with
 * repeated (src, dst) rows collapsed into one edge whose value carries the
 * multiplicity — the runtime's compute view collapses repeated targets, and
 * a row without repeats is read straight from the block. Every function
 * handed to an RDD op is a named class (see graft.pregel.Tasks).
 */
private[algos] object BlockLoops {

  /** The partitioner `Pregel.run` picks by default. */
  def partitioner(spark: SparkSession): HashPartitioner =
    new HashPartitioner(spark.sparkContext.defaultParallelism)

  /** Superstep cap for a loop of at most `maxIterations` message rounds:
    * superstep 0 seeds, superstep r is round r. */
  def supersteps(maxIterations: Int): Int =
    if (maxIterations <= 0) 1
    else if (maxIterations == Int.MaxValue) maxIterations
    else maxIterations + 1

  private def requireIntegral(df: DataFrame, column: String): Unit =
    df.schema(column).dataType match {
      case ByteType | ShortType | IntegerType | LongType =>
      case other => throw new IllegalArgumentException(
        s"column $column must be an integral vertex id, got ${other.simpleString}")
    }

  /** The `src`/`dst` rows of `edges` as long pairs keyed by source on
    * `part`, rows with a null endpoint dropped: each row as is (`forward`),
    * reversed (`backward`) or both; self-loops only with `loops`. A map
    * task ships one array of interleaved (src, dst) longs per destination
    * partition, so the shuffle moves a few primitive arrays instead of one
    * serialized record per pair. */
  def keyed(edges: DataFrame, part: HashPartitioner, forward: Boolean, backward: Boolean,
            loops: Boolean): RDD[(Int, Array[Long])] = {
    requireIntegral(edges, "src")
    requireIntegral(edges, "dst")
    InternalDF.internalRdd(edges.filter(col("src").isNotNull && col("dst").isNotNull)
        .select(col("src").cast(LongType), col("dst").cast(LongType)))
      .mapPartitions(new PairBlocks(part, forward, backward, loops))
      .partitionBy(part) // a destination partition index routes to itself
  }

  /** [[keyed]] pairs → one row per distinct (src, dst) with its
    * multiplicity, sources grouped. */
  def counted(keyed: RDD[(Int, Array[Long])]): RDD[(Long, (Long, Long))] =
    keyed.mapPartitions(new CountedEdges, preservesPartitioning = true)

  /** [[counted]] with each edge's value its multiplicity over the source's
    * out-degree (rows, self-loops and repeats included). */
  def weighted(keyed: RDD[(Int, Array[Long])]): RDD[(Long, (Long, Double))] =
    keyed.mapPartitions(new WeightedEdges, preservesPartitioning = true)

  /** The non-null `id`s of `vertices` as longs, one InternalRow each. */
  def vertexIds(vertices: DataFrame): RDD[InternalRow] = {
    requireIntegral(vertices, "id")
    InternalDF.internalRdd(vertices.filter(col("id").isNotNull).select(col("id").cast(LongType)))
  }

  /** A run's final vertex values as a DataFrame over its state blocks, which
    * stay cached under it (Spark's ContextCleaner drops them with it); the
    * adjacency blocks are released here. `id` is cast to `idType`. */
  def frame[VV](spark: SparkSession, res: Pregel.Result[Long, VV, _],
                rows: Iterator[(Long, VV)] => Iterator[InternalRow],
                schema: StructType, idType: DataType): DataFrame = {
    res.unpersistEdges()
    val df = InternalDF.ofInternalRows(spark, res.vertices.mapPartitions(rows), schema)
    if (idType == LongType) df
    else df.select(col("id").cast(idType).as("id") +: schema.fieldNames.tail.toSeq.map(col): _*)
  }

  /** (id, value) schema with a long id. */
  def schema(value: DataType): StructType =
    StructType(Seq(StructField("id", LongType, nullable = false), StructField("value", value)))

  /** The wider of two id types, as `unionByName` of the two columns picks. */
  def widerIdType(edges: DataFrame): DataType =
    edges.select(col("src").as("id")).unionByName(edges.select(col("dst").as("id")))
      .schema("id").dataType
}

// ---- vertex programs -------------------------------------------------------

/** Min-label connected components over the undirected edge set (reference
  * library/ConnectedComponents.java): superstep 0 sends every label; after
  * it, a vertex whose label dropped takes the new one and sends it on. */
private[algos] final class MinLabel
    extends ComputeFunction[Long, Long, Long, Long] with Combining[Long] {
  def combine(a: Long, b: Long): Long = math.min(a, b)

  def compute(superstep: Int, id: Long, value: Long, messages: Iterable[Long],
              edges: Iterable[OutEdge[Long, Long]], cb: Callback[Long, Long, Long, Long]): Unit = {
    var label = value
    messages.foreach(m => if (m < label) label = m)
    if (superstep == 0 || label < value) {
      if (label < value) cb.setNewVertexValue(label)
      edges.foreach(e => cb.sendMessageTo(e.target, label))
    }
    cb.voteToHalt()
  }
}

/** Bulk k-core degree peel over the undirected multigraph (edge values are
  * multiplicities, a self-loop counts 2). A vertex's value is its degree
  * among the survivors (summed from its edges at superstep 0, from 0), or
  * [[DegreePeel.Dead]]. A vertex whose degree falls
  * below k is dying for one superstep: it sends each neighbour its edge
  * multiplicity as a decrement and stays active, then turns Dead and ignores
  * its mail. The degree of a vertex counts only edges to survivors of the
  * rounds before, exactly the round-by-round removal of the bulk peel. */
private[algos] final class DegreePeel(k: Int)
    extends ComputeFunction[Long, Long, Long, Long] with Combining[Long] {
  import DegreePeel.Dead

  def combine(a: Long, b: Long): Long = a + b

  def compute(superstep: Int, id: Long, value: Long, messages: Iterable[Long],
              edges: Iterable[OutEdge[Long, Long]], cb: Callback[Long, Long, Long, Long]): Unit = {
    if (value == Dead) cb.voteToHalt()
    else if (superstep > 0 && value < k) { cb.setNewVertexValue(Dead); cb.voteToHalt() }
    else {
      var d = value
      if (superstep == 0) edges.foreach(e => d += e.value)
      messages.foreach(m => d -= m)
      if (d != value) cb.setNewVertexValue(d)
      if (d < k) edges.foreach(e => cb.sendMessageTo(e.target, e.value))
      else cb.voteToHalt()
    }
  }
}

private[algos] object DegreePeel {
  val Dead = -1L
}

/** Delta PageRank (reference library/PageRank.java): superstep 0 sends each
  * vertex's seed, as its delta, along its out-edges (value = weight); after
  * it, rank += (1 − resetProb) · Σ messages and that increment is the delta
  * sent on while it exceeds `tolerance`. A vertex without mail has delta 0
  * and stays halted unless 0 > tolerance. */
private[algos] final class DeltaRank(tolerance: Double, resetProb: Double)
    extends ComputeFunction[Long, Double, Double, Double] with Combining[Double] {
  private val damp = 1.0 - resetProb
  private val haltIdle = !(0.0 > tolerance)

  def combine(a: Double, b: Double): Double = a + b

  def compute(superstep: Int, id: Long, value: Double, messages: Iterable[Double],
              edges: Iterable[OutEdge[Long, Double]], cb: Callback[Long, Double, Double, Double]): Unit = {
    val delta =
      if (superstep == 0) value
      else {
        var sum = 0.0
        messages.foreach(m => sum += m)
        cb.setNewVertexValue(value + sum * damp)
        sum * damp
      }
    if (delta > tolerance) edges.foreach(e => cb.sendMessageTo(e.target, delta * e.value))
    if (haltIdle) cb.voteToHalt()
  }
}

/** Synchronous HyperBall over reversed edges: a vertex's long-packed HLL
  * registers take the bytewise max of its successors'. Superstep 0 sends
  * every non-empty counter to the predecessors; after it, a vertex whose
  * counter grew sends the new one. Only grown counters need to travel: a
  * counter that did not change was already merged into every predecessor.
  *
  * Register totals ride persistent aggregators (each task adds its counters'
  * change once, in postSuperstep), and `masterCompute` records
  * (t, n_regs, Σr, Σest) for t = 0 and every superstep that grew a counter
  * into `trajectory` on the driver's copy. */
private[algos] final class RegisterMax(p: Int, withEstimates: Boolean)
    extends ComputeFunction[Long, Array[Long], Long, Array[Long]] with Combining[Array[Long]] {
  import RegisterMax._

  @transient lazy val trajectory: mutable.ArrayBuffer[(Int, Long, Long, Double)] =
    mutable.ArrayBuffer.empty

  // this task's change of the totals, contributed in postSuperstep
  private var regs = 0L
  private var ranks = 0L
  private var est = 0.0

  override def init(configs: Map[String, Any], cb: MasterCallback): Unit = {
    cb.registerAggregator(Regs, Aggregators.LongSum, persistent = true)
    cb.registerAggregator(Ranks, Aggregators.LongSum, persistent = true)
    if (withEstimates) cb.registerAggregator(Est, Aggregators.DoubleSum, persistent = true)
  }

  override def masterCompute(superstep: Int, cb: MasterCallback): Unit = {
    val n = cb.getAggregatedValue[Long](Regs)
    val s = cb.getAggregatedValue[Long](Ranks)
    if (trajectory.isEmpty || trajectory.last._2 != n || trajectory.last._3 != s)
      trajectory += ((superstep - 1, n, s,
        if (withEstimates) cb.getAggregatedValue[Double](Est) else 0.0))
  }

  override def preSuperstep(superstep: Int, aggregates: HookContext): Unit = {
    regs = 0L; ranks = 0L; est = 0.0
  }

  override def postSuperstep(superstep: Int, aggregates: HookContext): Unit = {
    aggregates.aggregate(Regs, regs)
    aggregates.aggregate(Ranks, ranks)
    if (withEstimates) aggregates.aggregate(Est, est)
  }

  private def count(counter: Array[Long], sign: Int): Unit = {
    val (n, s) = Sketches.longRegStats(counter)
    regs += sign * n
    ranks += sign * s
    if (withEstimates) est += sign * Sketches.longRegEstimate(counter, p)
  }

  def combine(a: Array[Long], b: Array[Long]): Array[Long] = maxed(a, b)

  def compute(superstep: Int, id: Long, value: Array[Long], messages: Iterable[Array[Long]],
              edges: Iterable[OutEdge[Long, Long]],
              cb: Callback[Long, Array[Long], Long, Array[Long]]): Unit = {
    if (superstep == 0) {
      count(value, 1)
      if (value.exists(_ != 0L)) edges.foreach(e => cb.sendMessageTo(e.target, value))
    } else {
      var merged = value
      messages.foreach(m => merged = maxed(merged, m))
      if (merged ne value) {
        cb.setNewVertexValue(merged)
        count(merged, 1)
        count(value, -1)
        edges.foreach(e => cb.sendMessageTo(e.target, merged))
      }
    }
    cb.voteToHalt()
  }
}

private[algos] object RegisterMax {
  val Regs = "hyperball.regs"
  val Ranks = "hyperball.ranks"
  val Est = "hyperball.est"

  /** Bytewise max of two counters; `a` itself when `b` raises no register,
    * else a new array (neither input is written). */
  def maxed(a: Array[Long], b: Array[Long]): Array[Long] = {
    var out = a
    var i = 0
    while (i < a.length) {
      val x = RegOps.bytewiseMax(out(i), b(i))
      if (x != out(i)) {
        if (out eq a) out = a.clone()
        out(i) = x
      }
      i += 1
    }
    out
  }
}

// ---- task functions, one class per RDD op ----------------------------------

/** (src, dst) long rows → (destination partition, interleaved (src, dst)
  * pairs in the chosen directions, keyed by their src). */
private[algos] final class PairBlocks(part: HashPartitioner, forward: Boolean, backward: Boolean,
                                      loops: Boolean)
    extends (Iterator[InternalRow] => Iterator[(Int, Array[Long])]) with Serializable {
  def apply(rows: Iterator[InternalRow]): Iterator[(Int, Array[Long])] = {
    val out = Array.fill(part.numPartitions)(new mutable.ArrayBuilder.ofLong)
    def add(s: Long, d: Long): Unit = { val b = out(part.getPartition(s)); b += s; b += d }
    rows.foreach { r =>
      val s = r.getLong(0)
      val d = r.getLong(1)
      if (s != d || loops) {
        if (forward) add(s, d)
        if (backward) add(d, s)
      }
    }
    out.indices.iterator.map(p => (p, out(p).result())).filter(_._2.nonEmpty)
  }
}

/** One partition's pair blocks grouped: sources ascending, each source's
  * distinct targets ascending with their multiplicities (`dsts`/`counts`
  * at `offsets(r) until offsets(r + 1)` for source `srcs(r)`). */
private[algos] final class EdgeRuns(blocks: Iterator[(Int, Array[Long])]) {
  val (srcs, offsets, dsts, counts) = {
    val sb = new mutable.ArrayBuilder.ofLong
    val db = new mutable.ArrayBuilder.ofLong
    blocks.foreach { case (_, b) =>
      var i = 0
      while (i < b.length) { sb += b(i); db += b(i + 1); i += 2 }
    }
    val src = sb.result()
    val dst = db.result()
    val ids = src.clone()
    java.util.Arrays.sort(ids)
    var n = 0
    var i = 0
    while (i < ids.length) {
      if (n == 0 || ids(i) != ids(n - 1)) { ids(n) = ids(i); n += 1 }
      i += 1
    }
    val srcs = java.util.Arrays.copyOf(ids, n)
    // counting sort of the targets by source row
    val row = new Array[Int](src.length)
    val start = new Array[Int](n + 1)
    var j = 0
    while (j < src.length) {
      row(j) = java.util.Arrays.binarySearch(srcs, src(j))
      start(row(j) + 1) += 1
      j += 1
    }
    var r = 0
    while (r < n) { start(r + 1) += start(r); r += 1 }
    val fill = java.util.Arrays.copyOf(start, n)
    val byRow = new Array[Long](dst.length)
    j = 0
    while (j < dst.length) { byRow(fill(row(j))) = dst(j); fill(row(j)) += 1; j += 1 }
    // each row's targets ascending, repeats collapsed into a count
    val offsets = new Array[Int](n + 1)
    val dsts = new Array[Long](dst.length)
    val counts = new Array[Long](dst.length)
    var m = 0
    r = 0
    while (r < n) {
      java.util.Arrays.sort(byRow, start(r), start(r + 1))
      j = start(r)
      while (j < start(r + 1)) {
        if (j > start(r) && byRow(j) == byRow(j - 1)) counts(m - 1) += 1
        else { dsts(m) = byRow(j); counts(m) = 1; m += 1 }
        j += 1
      }
      offsets(r + 1) = m
      r += 1
    }
    (srcs, offsets, dsts, counts)
  }

  /** (src, (dst, f(row, edge))) for every edge, rows in order. */
  def edges[V](f: (Int, Int) => V): Iterator[(Long, (Long, V))] = new Iterator[(Long, (Long, V))] {
    private var r = 0
    private var j = 0
    def hasNext: Boolean = j < offsets(offsets.length - 1)
    def next(): (Long, (Long, V)) = {
      while (j >= offsets(r + 1)) r += 1
      val e = (srcs(r), (dsts(j), f(r, j)))
      j += 1
      e
    }
  }
}

/** Keyed pairs → (src, (dst, multiplicity)). */
private[algos] final class CountedEdges
    extends (Iterator[(Int, Array[Long])] => Iterator[(Long, (Long, Long))]) with Serializable {
  def apply(blocks: Iterator[(Int, Array[Long])]): Iterator[(Long, (Long, Long))] = {
    val e = new EdgeRuns(blocks)
    e.edges((_, j) => e.counts(j))
  }
}

/** Keyed pairs → (src, (dst, multiplicity / out-degree)). */
private[algos] final class WeightedEdges
    extends (Iterator[(Int, Array[Long])] => Iterator[(Long, (Long, Double))]) with Serializable {
  def apply(blocks: Iterator[(Int, Array[Long])]): Iterator[(Long, (Long, Double))] = {
    val e = new EdgeRuns(blocks)
    val deg = new Array[Long](e.srcs.length)
    var r = 0
    while (r < deg.length) {
      var j = e.offsets(r)
      while (j < e.offsets(r + 1)) { deg(r) += e.counts(j); j += 1 }
      r += 1
    }
    e.edges((r, j) => e.counts(j).toDouble / deg(r))
  }
}

/** Pair blocks → (src, 0) per pair: every endpoint of the undirected edge
  * list, repeated (the runtime keeps one row per id). */
private[algos] final class Sources
    extends (Iterator[(Int, Array[Long])] => Iterator[(Long, Long)]) with Serializable {
  def apply(blocks: Iterator[(Int, Array[Long])]): Iterator[(Long, Long)] =
    blocks.flatMap { case (_, b) => Iterator.range(0, b.length, 2).map(i => (b(i), 0L)) }
}

/** Vertex ids → (id, id): every vertex starts labelled with itself. */
private[algos] final class OwnLabels
    extends (Iterator[InternalRow] => Iterator[(Long, Long)]) with Serializable {
  def apply(rows: Iterator[InternalRow]): Iterator[(Long, Long)] =
    rows.map { r => val id = r.getLong(0); (id, id) }
}

/** Vertex ids → (id, seed): resetProb everywhere, or 1.0 at the source and
  * 0.0 elsewhere when personalized. */
private[algos] final class RankSeeds(resetProb: Double, source: Option[Long])
    extends (Iterator[InternalRow] => Iterator[(Long, Double)]) with Serializable {
  def apply(rows: Iterator[InternalRow]): Iterator[(Long, Double)] =
    rows.map { r =>
      val id = r.getLong(0)
      (id, source match {
        case Some(s) => if (id == s) 1.0 else 0.0
        case None => resetProb
      })
    }
}

/** (id, r0..r{L-1}) rows → (id, counter). */
private[algos] final class PackedCounters(lanes: Int)
    extends (Iterator[InternalRow] => Iterator[(Long, Array[Long])]) with Serializable {
  def apply(rows: Iterator[InternalRow]): Iterator[(Long, Array[Long])] =
    rows.map(r => (r.getLong(0), Array.tabulate(lanes)(i => r.getLong(i + 1))))
}

/** Pair blocks → (src, no counter) per pair, so an edge source that is
  * not a vertex still gathers its successors' registers. */
private[algos] final class EdgeSources
    extends (Iterator[(Int, Array[Long])] => Iterator[(Long, Array[Long])]) with Serializable {
  def apply(blocks: Iterator[(Int, Array[Long])]): Iterator[(Long, Array[Long])] =
    blocks.flatMap { case (_, b) => Iterator.range(0, b.length, 2).map(i => (b(i), null)) }
}

/** One row per id: its counter, or an empty counter for an id that only
  * appears as an edge source. */
private[algos] final class FirstCounters(lanes: Int)
    extends (Iterator[(Long, Array[Long])] => Iterator[(Long, Array[Long])]) with Serializable {
  def apply(rows: Iterator[(Long, Array[Long])]): Iterator[(Long, Array[Long])] = {
    val seen = new java.util.LinkedHashMap[Long, Array[Long]]
    rows.foreach { case (id, c) => if (c != null || !seen.containsKey(id)) seen.put(id, c) }
    val it = seen.entrySet.iterator
    new Iterator[(Long, Array[Long])] {
      def hasNext: Boolean = it.hasNext
      def next(): (Long, Array[Long]) = {
        val e = it.next()
        (e.getKey, if (e.getValue == null) new Array[Long](lanes) else e.getValue)
      }
    }
  }
}

/** (id, long value) → rows; with `positive`, only values above 0. */
private[algos] final class LongValueRows(positive: Boolean)
    extends (Iterator[(Long, Long)] => Iterator[InternalRow]) with Serializable {
  def apply(values: Iterator[(Long, Long)]): Iterator[InternalRow] =
    values.filter(v => !positive || v._2 > 0)
      .map { case (id, v) => new GenericInternalRow(Array[Any](id, v)) }
}

/** (id, double value) → rows. */
private[algos] final class DoubleValueRows
    extends (Iterator[(Long, Double)] => Iterator[InternalRow]) with Serializable {
  def apply(values: Iterator[(Long, Double)]): Iterator[InternalRow] =
    values.map { case (id, v) => new GenericInternalRow(Array[Any](id, v)) }
}

/** (id, counter) → (id, r0..r{L-1}) rows. */
private[algos] final class CounterRows
    extends (Iterator[(Long, Array[Long])] => Iterator[InternalRow]) with Serializable {
  def apply(values: Iterator[(Long, Array[Long])]): Iterator[InternalRow] =
    values.map { case (id, c) => new GenericInternalRow((id +: c.toSeq).toArray[Any]) }
}
