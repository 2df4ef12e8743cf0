package graftbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Command-line arguments of one benchmark run. */
final case class Args(workload: String, seed: Long, seconds: Int,
                      trace: Boolean, workDir: String)

/** A workload: builds its inputs from the seed, runs timed calls into the
  * library through a [[Harness]], and checks every output. */
trait Workload {
  def name: String
  /** Runs the workload; returns its end-to-end metrics. */
  def run(h: Harness): Seq[(String, Double, String)]
}

/** Timing, correctness and metric bookkeeping shared by the workloads.
  *
  * End-to-end rules:
  *  - every timed call is preceded by a forced GC and a heap reading, both
  *    outside the timed window, so one call does not pay for the garbage of
  *    the one before it;
  *  - correctness checks run outside the timed windows; a failed call or a
  *    failed check counts toward `failed`.
  *
  * Traced runs (`--trace 1`) attach a [[SparkTrace]] listener and set a job
  * group named after each call; rounds alternate between traced and
  * untraced so `trace.overhead_frac` compares the two inside one process. */
final class Harness(val spark: SparkSession, val args: Args) {
  val cores: Int = spark.sparkContext.defaultParallelism
  /** Set-up passes per run; set-up time is their median. */
  val setupReps = 3
  val trace: Option[SparkTrace] =
    if (args.trace) Some(SparkTrace.attach(spark.sparkContext)) else None

  /** Wall samples per op name, in seconds; split by traced/untraced phase. */
  private val walls = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val untracedWalls = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val setupWalls = mutable.ArrayBuffer.empty[Double]
  private val layer = mutable.LinkedHashMap.empty[String, Double]
  private val heapSamples = mutable.ArrayBuffer.empty[Double]
  @volatile var attempted = 0
  @volatile var failed = 0

  /** Trace phase of the calls being made now: plain (untraced run),
    * warm-up (samples dropped), traced, or untraced (traced runs only). */
  @volatile private var phase: Phase = Plain

  /** Enter a phase; in traced runs the listener records only while the
    * phase is [[Traced]]. */
  def setPhase(p: Phase): Unit = {
    trace.foreach(_.flush())
    phase = p
    trace.foreach(_.recording = p == Traced)
  }

  /** Run `body` as the warm-up: its timings are dropped, its checks count. */
  def warmUp(body: => Unit): Unit = {
    setPhase(WarmUp)
    try body finally setPhase(Plain)
  }

  private val t0 = System.nanoTime()

  def log(msg: String): Unit =
    Console.err.println(f"[graftbench ${(System.nanoTime() - t0) / 1e9}%6.1fs] $msg")

  /** Live heap in MB at a call boundary, after a forced GC. Spark's
    * ContextCleaner frees some blocks only after a GC has made them
    * unreachable, so a single reading can still hold them; the metric is
    * the median over boundaries, which such stragglers do not move. */
  def sampleHeap(): Double = {
    System.gc()
    val rt = Runtime.getRuntime
    val mb = (rt.totalMemory - rt.freeMemory) / 1048576.0
    if (phase != WarmUp) synchronized { heapSamples += mb }
    mb
  }

  /** Time one set-up pass; set-up is repeated and its median reported. */
  def setup[A](body: => A): A = {
    val t0 = System.nanoTime()
    val out = body
    setupWalls += (System.nanoTime() - t0) / 1e9
    out
  }

  /** Record a wall sample for `op` (used by workloads that time themselves,
    * such as the concurrent REST clients). */
  def record(op: String, seconds: Double, p: Phase): Unit = synchronized {
    val m = p match {
      case Plain | Traced => Some(walls)
      case Untraced       => Some(untracedWalls)
      case WarmUp         => None
    }
    m.foreach(_.getOrElseUpdate(op, mutable.ArrayBuffer.empty) += seconds)
  }

  def attempt(): Unit = synchronized { attempted += 1 }

  def currentPhase: Phase = phase

  /** One timed call into the library. GC and heap reading happen first,
    * outside the window; the job group names the call in traced phases.
    * Returns None (and counts a failure) if the call throws. */
  def op[A](name: String)(body: => A): Option[A] = {
    sampleHeap()
    val sc = spark.sparkContext
    val p = phase
    if (p == Traced) sc.setJobGroup(name, name, interruptOnCancel = false)
    attempt()
    val t0 = System.nanoTime()
    try {
      val out = body
      val wall = (System.nanoTime() - t0) / 1e9
      record(name, wall, p)
      log(f"$name%-26s $wall%8.3f s")
      Some(out)
    } catch {
      case NonFatal(e) =>
        fail(s"$name: $e")
        None
    } finally {
      if (p == Traced) sc.clearJobGroup()
    }
  }

  /** A correctness check, run outside every timed window. */
  def check(name: String)(ok: => Boolean): Unit = {
    val pass = try ok catch {
      case NonFatal(e) => log(s"check $name threw: $e"); false
    }
    if (!pass) fail(s"check $name")
  }

  /** Count a failure found outside [[op]] / [[check]]. */
  def fail(what: String): Unit = synchronized { failed += 1; log(s"FAILED $what") }

  /** Repeat `round` while another round still fits in the measuring
    * window of `args.seconds` (judged by the last round's length), at
    * least once; the first round is the cold one a fresh batch job pays.
    * Traced runs start with an untraced round whose timings are dropped,
    * then alternate traced and untraced rounds, at least one of each, so
    * `trace.overhead_frac` compares like with like. Returns the number of
    * measured rounds. */
  def rounds(round: Int => Unit): Int = {
    val window = args.seconds * 1e9
    val start = System.nanoTime()
    val traced = trace.isDefined
    val minRounds = if (traced) 3 else 1
    var r = 0
    var last = 0L
    while (r < minRounds || System.nanoTime() - start + last <= window) {
      if (traced) setPhase(if (r == 0) WarmUp else if (r % 2 == 1) Traced else Untraced)
      val t0 = System.nanoTime()
      round(r)
      last = System.nanoTime() - t0
      r += 1
    }
    setPhase(Plain)
    if (traced) r - 1 else r
  }

  /** Set a per-layer metric directly (counts and ratios). */
  def layerMetric(name: String, value: Double): Unit = synchronized { layer(name) = value }

  def medianWall(op: String): Option[Double] =
    walls.get(op).filter(_.nonEmpty).map(s => Stats.median(s.toSeq))

  /** End-to-end metrics: set-up time, and over the op kinds `kinds` the
    * sum and geometric mean of their median walls; `opsPerS` is the
    * workload's throughput. */
  def endToEnd(opsPerS: Double, kinds: Seq[String]): Seq[(String, Double, String)] = {
    val meds = kinds.flatMap(medianWall)
    Seq(
      ("setup_s", Stats.median(setupWalls.toSeq), "s"),
      ("run_s", meds.sum, "s"),
      ("op_geomean_s", Stats.geomean(meds), "s"),
      ("ops_per_s", opsPerS, "1/s"),
      ("live_heap_mb", Stats.median(heapSamples.toSeq), "MB"))
  }

  /** Traced-phase over untraced-phase wall, minus one, over the op kinds
    * measured in both phases. */
  def traceOverhead(kinds: Seq[String]): Double = {
    val both = kinds.filter(k => walls.contains(k) && untracedWalls.contains(k))
    val tr = both.map(k => Stats.median(walls(k).toSeq)).sum
    val un = both.map(k => Stats.median(untracedWalls(k).toSeq)).sum
    if (un > 0) tr / un - 1.0 else 0.0
  }

  def layerMetrics: Map[String, Double] = layer.toMap

  /** Module-level trace figures, extensive ones divided by `perUnit`
    * (traced rounds, or traced jobs) so they do not grow with the number
    * of rounds that fit in the window. */
  def moduleLayers(module: String, wallS: Double, perUnit: Double): Unit = trace.foreach { t =>
    val gs = t.groups(module)
    if (gs.nonEmpty || wallS > 0)
      SparkTrace.moduleMetrics(module, gs, wallS, cores, perUnit)
        .foreach { case (n, v, _) => layerMetric(n, v) }
  }

  /** Finish a round-based workload: per-layer figures in traced runs and
    * the end-to-end metrics over `ops`. */
  def finishRounds(ops: Seq[String], nRounds: Int): Seq[(String, Double, String)] = {
    trace.foreach { t =>
      t.flush()
      val tracedRounds = (nRounds + 1) / 2 // traced rounds come first in each pair
      ops.foreach(o => medianWall(o).foreach(v => layerMetric(s"$o.wall_s", v)))
      Main.JobCounted.filter(ops.contains).foreach { o =>
        walls.get(o).map(_.size).filter(_ > 0)
          .foreach(n => layerMetric(s"$o.jobs", t.jobsOf(o).toDouble / n))
      }
      Main.Modules.foreach { m =>
        val wall = walls.iterator.filter(_._1.startsWith(m + ".")).flatMap(_._2).sum
        moduleLayers(m, wall, tracedRounds)
      }
      layerMetric("trace.overhead_frac", traceOverhead(ops))
    }
    val samples = ops.flatMap(o => walls.getOrElse(o, Nil))
    endToEnd(if (samples.isEmpty) 0.0 else samples.size / samples.sum, ops)
  }

  /** The result line: the last line of standard output. */
  def resultJson(metrics: Seq[(String, Double, String)]): String = {
    val ms = metrics.map { case (n, v, u) =>
      val num = if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)
      s""""$n":{"value":$num,"unit":"$u"}"""
    }.mkString("{", ",", "}")
    s"""{"correct":${failed == 0},"attempted":${math.max(attempted, 1)},"failed":$failed,"metrics":$ms}"""
  }
}

sealed trait Phase
case object Plain extends Phase
case object WarmUp extends Phase
case object Traced extends Phase
case object Untraced extends Phase

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default); 0 for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size)
}
