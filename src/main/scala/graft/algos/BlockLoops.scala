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
 * superstep runtime ([[graft.pregel.Pregel]]): wcc, kCore, pageRank,
 * HyperBall and kTruss. A round is one Spark job of two stages — the
 * message shuffle, then the zip of the cached state, adjacency and inbox
 * blocks — with no query planning, codegen or closure cleaning in it, and
 * every vertex program below combines its messages map-side
 * ([[Combining]]).
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
    * reversed (`backward`) or both; self-loops only with `loops`; ids
    * through [[mix]] with `mixed`. A map task ships one array of
    * interleaved (src, dst) longs per destination partition, so the
    * shuffle moves a few primitive arrays instead of one serialized record
    * per pair. */
  def keyed(edges: DataFrame, part: HashPartitioner, forward: Boolean, backward: Boolean,
            loops: Boolean, mixed: Boolean = false): RDD[(Int, Array[Long])] = {
    requireIntegral(edges, "src")
    requireIntegral(edges, "dst")
    InternalDF.internalRdd(edges.filter(col("src").isNotNull && col("dst").isNotNull)
        .select(col("src").cast(LongType), col("dst").cast(LongType)))
      .mapPartitions(new PairBlocks(part, forward, backward, loops, mixed))
      .partitionBy(part) // a destination partition index routes to itself
  }

  private val Mixer = 0x9E3779B97F4A7C15L
  // Mixer's inverse mod 2^64 by Newton's iteration (3 → 96 correct bits)
  private val Unmixer = Iterator.iterate(Mixer)(y => y * (2 - Mixer * y)).drop(5).next()

  /** A bijection of the long ids that spreads them over the hash
    * partitions, for a loop whose result does not depend on the id order.
    * HashPartitioner keys on an id's low bits, and R-MAT-style ids put the
    * degree mass on ids with zero low bits: unmixed, one of 4 partitions
    * holds ~58% of a scale-20 R-MAT graph's edge endpoints. */
  def mix(id: Long): Long = id * Mixer

  /** The inverse of [[mix]]. */
  def unmix(id: Long): Long = id * Unmixer

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
    * adjacency blocks are released here. The `ids` columns are cast to
    * `idType`. */
  def frame[VV](spark: SparkSession, res: Pregel.Result[Long, VV, _],
                rows: Iterator[(Long, VV)] => Iterator[InternalRow],
                schema: StructType, idType: DataType, ids: Set[String] = Set("id")): DataFrame = {
    res.unpersistEdges()
    val df = InternalDF.ofInternalRows(spark, res.vertices.mapPartitions(rows), schema)
    if (idType == LongType) df
    else df.select(schema.fieldNames.toSeq.map(f => if (ids(f)) col(f).cast(idType).as(f) else col(f)): _*)
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

/** Bulk k-truss peel in one run ([[GraphAlgorithms.kTruss]]) over the
  * simple undirected graph: edge values are ignored, each distinct
  * neighbour counts once. `masterCompute` picks each superstep's mode and
  * hands it to the tasks through the [[TrussPeel.Mode]] aggregator:
  *
  *  - Degree: the (k−1)-core peel of [[DegreePeel]] (a truss vertex keeps
  *    degree ≥ k−1 inside the truss), until a superstep in which no vertex
  *    starts dying. Survivors do not halt, so all of them take part in
  *    Orient.
  *  - Orient: every core vertex sends its (id, degree) to its neighbours.
  *  - Build: every core vertex keeps as its forward list the core
  *    neighbours of higher (degree, id), ascending by id, and sends it.
  *  - Count: for a triangle u < v < w in that order, the middle vertex v
  *    finds it once, as w ∈ fwd(u) ∩ fwd(v) for the fwd(u) it received,
  *    credits (v, w) in its own state and sends u one [[Credit]] for
  *    (u, v) and the (u, w) edges.
  *  - Filter: every vertex adds the credits it received to its own, drops
  *    the forward edges whose support is below k − 2 and sends the rest,
  *    which makes the next superstep the next round's Count. A round that
  *    drops no edge anywhere halts the run, and so does round `maxRounds`
  *    ([[exhausted]]).
  *
  * An edge's support lives with its lower endpoint, aligned to that
  * vertex's forward list, so the final state holds the truss. Vertex ids
  * are [[BlockLoops.mix]]ed, which spreads the heavy vertices of a skewed
  * graph over the partitions and leaves the truss as it is. Forward lists
  * are degeneracy-bounded (a hub's holds only its higher-degree
  * neighbours), and no message is sent per triangle: a vertex sends one
  * [[Forward]] instance to all its targets, which a shuffle block to one
  * partition serializes once however many of that partition's vertices it
  * reaches, and the combiner keeps messages to one target by reference
  * ([[Bundle]]) and sums the credits to one owner into one array
  * ([[Credits]]). */
private[algos] final class TrussPeel(k: Int, maxRounds: Int)
    extends ComputeFunction[Long, TrussVertex, Long, TrussMail] with Combining[TrussMail] {
  import TrussPeel._

  private val core = k - 1L

  // driver side: the next superstep's mode and the rounds counted so far
  private var mode = Degree
  private var rounds = 0
  private var capped = false

  /** Whether the run stopped at `maxRounds` with edges still dropping, so
    * the result may hold edges below the truss. Read after the run. */
  def exhausted: Boolean = capped

  // task side: this superstep's mode and this task's counts
  private var now = Degree
  private var dying = 0L
  private var dropped = 0L

  override def init(configs: Map[String, Any], cb: MasterCallback): Unit = {
    cb.registerAggregator(Mode, Aggregators.LongSum)
    cb.registerAggregator(Dying, Aggregators.LongSum)
    cb.registerAggregator(Dropped, Aggregators.LongSum)
  }

  override def masterCompute(superstep: Int, cb: MasterCallback): Unit = {
    mode match {
      case Degree => if (cb.getAggregatedValue[Long](Dying) == 0L) mode = Orient
      case Orient => mode = Build
      case Build => mode = Count
      case Count => mode = Filter; rounds += 1
      case Filter =>
        if (cb.getAggregatedValue[Long](Dropped) == 0L) cb.haltComputation()
        else if (rounds >= maxRounds) { capped = true; cb.haltComputation() }
        else mode = Count
    }
    cb.setAggregatedValue(Mode, mode)
  }

  override def preSuperstep(superstep: Int, aggregates: HookContext): Unit = {
    now = aggregates(Mode).asInstanceOf[Long]
    dying = 0L
    dropped = 0L
  }

  override def postSuperstep(superstep: Int, aggregates: HookContext): Unit = {
    aggregates.aggregate(Dying, dying)
    aggregates.aggregate(Dropped, dropped)
  }

  def combine(a: TrussMail, b: TrussMail): TrussMail = a.fold(b)

  def compute(superstep: Int, id: Long, value: TrussVertex, messages: Iterable[TrussMail],
              edges: Iterable[OutEdge[Long, Long]],
              cb: Callback[Long, TrussVertex, Long, TrussMail]): Unit = now match {
    case Degree =>
      if (value != null && value.degree == Dead) cb.voteToHalt()
      else if (value != null && value.degree < core) {
        cb.setNewVertexValue(DeadVertex)
        cb.voteToHalt()
      }
      else {
        var d = if (value == null) edges.knownSize.toLong else value.degree
        messages.foreach(m => d -= m.asInstanceOf[Peeled].n)
        if (value == null || d != value.degree) cb.setNewVertexValue(new TrussVertex(d, null, null))
        if (d < core) {
          dying += 1
          edges.foreach(e => cb.sendMessageTo(e.target, Peeled.One))
        }
      }
    case Orient =>
      if (value.degree == Dead) cb.voteToHalt()
      else {
        val m = new Rank(id, value.degree)
        edges.foreach(e => cb.sendMessageTo(e.target, m))
      }
    case Build =>
      if (value.degree == Dead) cb.voteToHalt()
      else {
        val b = new mutable.ArrayBuilder.ofLong
        items(messages).foreach { m =>
          val r = m.asInstanceOf[Rank]
          if (r.degree > value.degree || (r.degree == value.degree && r.id > id)) b += r.id
        }
        val fwd = b.result()
        java.util.Arrays.sort(fwd)
        cb.setNewVertexValue(new TrussVertex(value.degree, fwd, new Array[Int](fwd.length)))
        send(id, fwd, cb)
      }
    case Count =>
      val fwd = value.fwd
      if (fwd == null || fwd.isEmpty) cb.voteToHalt()
      else {
        val sup = new Array[Int](fwd.length)
        items(messages).foreach(m => triangles(id, m.asInstanceOf[Forward], fwd, sup, cb))
        cb.setNewVertexValue(new TrussVertex(value.degree, fwd, sup))
      }
    case Filter =>
      val fwd = value.fwd
      if (fwd == null || fwd.isEmpty) cb.voteToHalt()
      else {
        val sup = value.sup.clone()
        messages.foreach(_.asInstanceOf[CreditMail].addTo(sup))
        var n = 0
        sup.foreach(s => if (s >= k - 2) n += 1)
        val next =
          if (n == fwd.length) new TrussVertex(value.degree, fwd, sup)
          else {
            dropped += fwd.length - n
            val f = new Array[Long](n)
            val s = new Array[Int](n)
            var i = 0
            var j = 0
            while (j < fwd.length) {
              if (sup(j) >= k - 2) { f(i) = fwd(j); s(i) = sup(j); i += 1 }
              j += 1
            }
            new TrussVertex(value.degree, f, s)
          }
        cb.setNewVertexValue(next)
        send(id, next.fwd, cb)
      }
  }

  /** One [[Forward]] instance to every target of `fwd`; a vertex without
    * forward edges has nothing left to do. */
  private def send(id: Long, fwd: Array[Long], cb: Callback[Long, TrussVertex, Long, TrussMail]): Unit =
    if (fwd.isEmpty) cb.voteToHalt()
    else {
      val m = new Forward(id, fwd)
      fwd.foreach(t => cb.sendMessageTo(t, m))
    }

  /** The triangles (f.owner, id, w) for w ∈ f.fwd ∩ fwd: credits (id, w) in
    * `sup` and sends the owner one [[Credit]] for them. */
  private def triangles(id: Long, f: Forward, fwd: Array[Long], sup: Array[Int],
                        cb: Callback[Long, TrussVertex, Long, TrussMail]): Unit = {
    val theirs = f.fwd
    val ws = new mutable.ArrayBuilder.ofInt
    // walk the shorter list, galloping through the longer one
    val uShort = theirs.length <= fwd.length
    val (s, l) = if (uShort) (theirs, fwd) else (fwd, theirs)
    var p = 0
    var q = 0
    while (p < s.length && q < l.length) {
      q = seek(l, q, s(p))
      if (q < l.length && l(q) == s(p)) {
        if (uShort) { ws += p; sup(q) += 1 } else { ws += q; sup(p) += 1 }
        q += 1
      }
      p += 1
    }
    val at = ws.result()
    if (at.nonEmpty)
      cb.sendMessageTo(f.owner, new Credit(theirs.length, java.util.Arrays.binarySearch(theirs, id), at))
  }
}

private[algos] object TrussPeel {
  val Mode = "ktruss.mode"
  val Dying = "ktruss.dying"
  val Dropped = "ktruss.dropped"

  // superstep modes
  val Degree = 0L
  val Orient = 1L
  val Build = 2L
  val Count = 3L
  val Filter = 4L

  val Dead = -1L
  /** Every dead vertex's value: one instance, so a state block serializes
    * it once. */
  val DeadVertex = new TrussVertex(Dead, null, null)

  /** (src, dst, support) rows, src < dst. */
  val schema: StructType = StructType(Seq(StructField("src", LongType, nullable = false),
    StructField("dst", LongType, nullable = false), StructField("support", LongType, nullable = false)))

  /** The messages, a [[Bundle]] unfolded. */
  def items(messages: Iterable[TrussMail]): Iterator[TrussMail] = messages.iterator.flatMap {
    case b: Bundle => b.iterator
    case m => Iterator.single(m)
  }

  /** The first index at or after `from` whose value is ≥ x in ascending
    * `a` (a.length if none): exponential steps, then a binary search. */
  def seek(a: Array[Long], from: Int, x: Long): Int = {
    var lo = from
    var hi = from
    var step = 1
    while (hi < a.length && a(hi) < x) { lo = hi + 1; hi += step; step <<= 1 }
    hi = math.min(hi, a.length)
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (a(mid) < x) lo = mid + 1 else hi = mid
    }
    lo
  }
}

/** A k-truss vertex: its degree in the (k−1)-core peel ([[TrussPeel.Dead]]
  * once peeled) and, from Build on, its forward list ascending with one
  * support count per forward edge. */
private[algos] final class TrussVertex(val degree: Long, val fwd: Array[Long], val sup: Array[Int])
    extends Serializable

/** A [[TrussPeel]] message. Two to the same target fold into one; neither
  * input is written, so an instance sent to many targets stays shared. */
private[algos] sealed abstract class TrussMail extends Serializable {
  def fold(b: TrussMail): TrussMail = new Bundle(this, b)
}

/** `n` degree decrements. */
private[algos] final class Peeled(val n: Long) extends TrussMail {
  override def fold(b: TrussMail): TrussMail = new Peeled(n + b.asInstanceOf[Peeled].n)
}

private[algos] object Peeled {
  val One = new Peeled(1L)
}

/** A core neighbour's id and degree. */
private[algos] final class Rank(val id: Long, val degree: Long) extends TrussMail

/** `owner`'s forward list. */
private[algos] final class Forward(val owner: Long, val fwd: Array[Long]) extends TrussMail

/** Messages to one target kept by reference, in send order. */
private[algos] final class Bundle(a: TrussMail, b: TrussMail) extends TrussMail {
  private var items = Array(a, b)
  private var size = 2

  override def fold(m: TrussMail): TrussMail = {
    if (size == items.length) items = java.util.Arrays.copyOf(items, 2 * size)
    items(size) = m
    size += 1
    this
  }

  def iterator: Iterator[TrussMail] = items.iterator.take(size)
}

/** Support credits to the owner of a forward list. */
private[algos] sealed abstract class CreditMail extends TrussMail {
  /** Adds the credits to `sup`, aligned to the owner's forward list. */
  def addTo(sup: Array[Int]): Unit
}

/** Credits to the owner of a forward list of `length` edges: one per
  * triangle on the edge at `middle` (the sender's), and one on each edge
  * at `ws`. */
private[algos] final class Credit(val length: Int, val middle: Int, val ws: Array[Int])
    extends CreditMail {
  override def fold(b: TrussMail): TrussMail = new Credits(new Array[Int](length)).fold(this).fold(b)

  def addTo(sup: Array[Int]): Unit = {
    sup(middle) += ws.length
    ws.foreach(w => sup(w) += 1)
  }
}

/** Credits to one owner summed per forward edge. */
private[algos] final class Credits(val sums: Array[Int]) extends CreditMail {
  override def fold(b: TrussMail): TrussMail = {
    b.asInstanceOf[CreditMail].addTo(sums)
    this
  }

  def addTo(sup: Array[Int]): Unit = {
    var j = 0
    while (j < sums.length) { sup(j) += sums(j); j += 1 }
  }
}

// ---- task functions, one class per RDD op ----------------------------------

/** (src, dst) long rows → (destination partition, interleaved (src, dst)
  * pairs in the chosen directions, keyed by their src). */
private[algos] final class PairBlocks(part: HashPartitioner, forward: Boolean, backward: Boolean,
                                      loops: Boolean, mixed: Boolean)
    extends (Iterator[InternalRow] => Iterator[(Int, Array[Long])]) with Serializable {
  def apply(rows: Iterator[InternalRow]): Iterator[(Int, Array[Long])] = {
    val out = Array.fill(part.numPartitions)(new mutable.ArrayBuilder.ofLong)
    def add(s: Long, d: Long): Unit = { val b = out(part.getPartition(s)); b += s; b += d }
    def id(r: InternalRow, i: Int): Long = if (mixed) BlockLoops.mix(r.getLong(i)) else r.getLong(i)
    rows.foreach { r =>
      val s = id(r, 0)
      val d = id(r, 1)
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

/** Pair blocks → (src, `init`) per pair: every edge source, repeated (the
  * runtime keeps one row per id) — every endpoint of an undirected edge
  * list, or for HyperBall an edge source that is not a vertex but still
  * gathers its successors' registers. */
private[algos] final class Sources[V](init: V)
    extends (Iterator[(Int, Array[Long])] => Iterator[(Long, V)]) with Serializable {
  def apply(blocks: Iterator[(Int, Array[Long])]): Iterator[(Long, V)] =
    blocks.flatMap { case (_, b) => Iterator.range(0, b.length, 2).map(i => (b(i), init)) }
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

/** Truss vertices over mixed ids → (src, dst, support) rows, one per
  * forward edge. */
private[algos] final class TrussRows
    extends (Iterator[(Long, TrussVertex)] => Iterator[InternalRow]) with Serializable {
  def apply(values: Iterator[(Long, TrussVertex)]): Iterator[InternalRow] =
    values.flatMap { case (id, v) =>
      val fwd = if (v == null || v.fwd == null) Array.emptyLongArray else v.fwd
      val a = BlockLoops.unmix(id)
      Iterator.range(0, fwd.length).map { j =>
        val b = BlockLoops.unmix(fwd(j))
        new GenericInternalRow(Array[Any](math.min(a, b), math.max(a, b), v.sup(j).toLong))
      }
    }
}
