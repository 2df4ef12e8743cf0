package graftbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.api.RestServer

/** The reference REST app's lifecycle over loopback HTTP against an
  * in-process [[RestServer]]: a closed loop of two clients, each holding one
  * connection and running a fixed round-robin of the six Pregel library
  * algorithms on its own seeded graph. A job is configure → run → poll the
  * state until terminal → drain the result → delete. Every fifth job the
  * client first re-imports and re-prepares its graph (the write path).
  *
  * The server runs each job on its own thread, so client-side job groups
  * never reach its Spark jobs: Spark task figures are attributed to the
  * whole window (module `api`), and the api/pregel split comes from the
  * state JSON's `runningTime` and `superstep`. */
object RestLifecycle extends Workload {
  val name = "rest-lifecycle"

  val Clients = 2
  val Scale = 8
  val EdgeFactor = 8
  val NumIterations = 4
  val ReimportEvery = 5
  val PollMs = 10L
  val Tolerance = 0.0001
  val ResetProb = 0.15

  val Algorithms: Seq[String] = Seq("bfs", "sssp", "wcc", "pagerank", "lp", "mssp")
  val Verbs: Seq[String] = Seq("api.import", "api.prepare", "api.configure", "api.run",
    "api.wait", "api.result")

  /** One client's graph: the undirected edge set, imported in both
    * directions with a symmetric weight. */
  final class ClientGraph(seed: Long, c: Int) {
    val name = s"g$c"
    private val gseed = Inputs.subSeed(seed, name)
    val edges: Array[(Long, Long)] = Inputs.canonical(Inputs.rmat(gseed, gseed, Scale, EdgeFactor))
    val ref = new RefGraph(edges)
    def weight(a: Long, b: Long): Double = Inputs.weight(gseed, a, b).toDouble
    val body: String = edges.iterator.flatMap { case (a, b) =>
      val w = Inputs.weight(gseed, a, b)
      Iterator(s"$a $b $w", s"$b $a $w")
    }.mkString("\n")
    private val byDegree = ref.ids.indices.sortBy(u => (-ref.degree(u), ref.ids(u)))
    val source: Long = ref.ids(byDegree.head)
    val landmarks: Seq[Long] = byDegree.slice(1, 4).map(ref.ids)
    def configs(algo: String): String = algo match {
      case "bfs" | "sssp" => s"""{"srcVertexId":$source}"""
      case "mssp"         => landmarks.mkString("""{"landmarkVertexIds":[""", ",", "]}")
      case "pagerank"     => s"""{"tolerance":${plain(Tolerance)},"resetProbability":${plain(ResetProb)}}"""
      case _              => "{}"
    }

    private def plain(x: Double): String = java.math.BigDecimal.valueOf(x).toPlainString

    private val refs = mutable.Map.empty[(String, Int), Map[Long, String]]

    /** Expected rendered value per vertex after `steps` supersteps. */
    def expected(algo: String, steps: Int): Map[Long, String] = synchronized {
      refs.getOrElseUpdate((algo, steps), {
        val hops = math.max(steps - 1, 0)
        algo match {
          case "bfs" =>
            val d = ref.bfs(source, hops)
            ref.ids.map(v => v -> d.get(v).map(_.toLong).getOrElse(Long.MaxValue).toString).toMap
          case "sssp" =>
            val d = ref.boundedShortest(source, hops, weight)
            ref.ids.map(v => v -> d.getOrElse(v, Double.PositiveInfinity).toString).toMap
          case "wcc" => ref.pregelWcc(steps).map { case (v, l) => v -> l.toString }
          case "lp"  => ref.pregelLabelPropagation(steps).map { case (v, l) => v -> l.toString }
          case "mssp" =>
            val ds = landmarks.map(lm => lm -> ref.boundedShortest(lm, hops, weight))
            ref.ids.map { v =>
              v -> ds.map { case (lm, d) => s"$lm=${d.getOrElse(v, Double.PositiveInfinity)}" }
                .sorted.mkString("{", ",", "}")
            }.toMap
          case "pagerank" => Map.empty // compared numerically, see matches
        }
      })
    }

    lazy val pageRankRef: Int => Map[Long, (Double, Double)] = {
      val cache = mutable.Map.empty[Int, Map[Long, (Double, Double)]]
      steps => synchronized(cache.getOrElseUpdate(steps,
        ref.pregelPageRank(steps, Tolerance, ResetProb)))
    }

    def matches(algo: String, steps: Int, got: Map[Long, String]): Boolean =
      got.size == ref.n && (algo match {
        case "pagerank" =>
          val want = pageRankRef(steps)
          got.forall { case (v, s) =>
            val Array(r, d) = s.stripPrefix("(").stripSuffix(")").split(",").map(_.toDouble)
            val (wr, wd) = want(v)
            close(r, wr) && close(d, wd)
          }
        case _ => got == expected(algo, steps)
      })

    private def close(a: Double, b: Double): Boolean =
      math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))
  }

  /** A finished job, checked after the window. */
  final case class Job(client: Int, algo: String, latency: Double, endNs: Long, phase: Phase,
                       supersteps: Int, runningMs: Long, polls: Int, body: String)

  private val StateRe = """"state":"([A-Z_]+)"""".r
  private val StepRe = """"superstep":(\d+)""".r
  private val TimeRe = """"runningTime":(\d+)""".r
  private val IdRe = """"id":"([^"]+)"""".r
  private val EventRe = """"key":(-?\d+),"value":"([^"]*)"""".r

  final class Client(port: Int) {
    private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    private def req(path: String) = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))

    private def send(r: HttpRequest): String = {
      val resp = http.send(r, HttpResponse.BodyHandlers.ofString())
      if (resp.statusCode != 200)
        throw new IllegalStateException(s"HTTP ${resp.statusCode} ${r.uri}: ${resp.body}")
      resp.body
    }
    def post(path: String, body: String): String =
      send(req(path).POST(HttpRequest.BodyPublishers.ofString(body)).build())
    def get(path: String): String = send(req(path).GET().build())
    def delete(path: String): String = send(req(path).DELETE().build())
  }

  private def timed[A](h: Harness, verb: String, p: Phase)(f: => A): A = {
    val t0 = System.nanoTime()
    val out = f
    h.record(verb, (System.nanoTime() - t0) / 1e9, p)
    out
  }

  private def load(h: Harness, cl: Client, g: ClientGraph, p: Phase): Unit = {
    timed(h, "api.import", p)(cl.post(s"/import?name=${g.name}&type=edges", g.body))
    timed(h, "api.prepare", p)(cl.post(s"/prepare?name=${g.name}", ""))
  }

  /** One job; returns it once its result has been drained. */
  private def job(h: Harness, cl: Client, c: Int, g: ClientGraph, algo: String,
                  iterations: Int, p: Phase): Job = {
    val t0 = System.nanoTime()
    val conf = timed(h, "api.configure", p)(cl.post("/pregel",
      s"""{"algorithm":"$algo","graph":"${g.name}","configs":${g.configs(algo)}}"""))
    val id = IdRe.findFirstMatchIn(conf).get.group(1)
    timed(h, "api.run", p)(cl.post(s"/pregel/$id", s"""{"numIterations":$iterations}"""))
    var polls = 0
    var state = ""
    timed(h, "api.wait", p) {
      var terminal = false
      while (!terminal) {
        state = cl.get(s"/pregel/$id")
        polls += 1
        terminal = StateRe.findFirstMatchIn(state).map(_.group(1))
          .exists(s => s == "COMPLETED" || s == "HALTED" || s == "ERROR")
        if (!terminal) Thread.sleep(PollMs)
      }
    }
    val st = StateRe.findFirstMatchIn(state).get.group(1)
    if (st == "ERROR") throw new IllegalStateException(s"$algo job failed: $state")
    val body = timed(h, "api.result", p)(cl.get(s"/pregel/$id/result"))
    val end = System.nanoTime()
    cl.delete(s"/pregel/$id")
    Job(c, algo, (end - t0) / 1e9, end, p, StepRe.findFirstMatchIn(state).get.group(1).toInt,
      TimeRe.findFirstMatchIn(state).get.group(1).toLong, polls, body)
  }

  /** A client thread: jobs in round-robin until `stop(jobIndex)`; every
    * `ReimportEvery`-th job re-imports and re-prepares the graph first. */
  private def client(h: Harness, c: Int, cl: Client, g: ClientGraph,
                     out: ConcurrentLinkedQueue[Job], stop: Int => Boolean): Thread = {
    val t = new Thread(() => {
      var j = 0
      while (!stop(j)) {
        val p = h.currentPhase
        val algo = Algorithms((j + c * Algorithms.size / Clients) % Algorithms.size)
        h.attempt()
        try {
          if (j % ReimportEvery == ReimportEvery - 1) load(h, cl, g, p)
          val done = job(h, cl, c, g, algo, NumIterations, p)
          h.record(s"job.$algo", done.latency, p)
          out.add(done)
        } catch {
          case e: Exception => h.fail(s"client $c job $j ($algo): $e")
        }
        j += 1
      }
    }, s"rest-client-$c")
    t.start()
    t
  }

  def run(h: Harness): Seq[(String, Double, String)] = {
    val spark = h.spark
    val seed = Inputs.subSeed(h.args.seed, name)
    val server = new RestServer(spark, 0).start()
    try runWith(h, seed, server.boundPort) finally server.stop()
  }

  private def runWith(h: Harness, seed: Long, port: Int): Seq[(String, Double, String)] = {
    val clients = (0 until Clients).map(_ => new Client(port))
    val warm = new ConcurrentLinkedQueue[Job]()
    var graphs: IndexedSeq[ClientGraph] = null
    (1 to h.setupReps).foreach { _ =>
      h.setup {
        graphs = (0 until Clients).map(c => new ClientGraph(seed, c))
        graphs.indices.foreach(c => load(h, clients(c), graphs(c), WarmUp))
        warm.add(job(h, clients(0), 0, graphs(0), "bfs", 2, WarmUp))
      }
    }
    h.log(s"$name: ${graphs.map(g => s"${g.ref.n} vertices/${g.edges.length} edges").mkString(", ")}")
    h.sampleHeap()

    // warm-up: the clients' round-robins start on different algorithms,
    // so together they run each algorithm once; checked, not timed
    h.warmUp((0 until Clients).map(c =>
        client(h, c, clients(c), graphs(c), warm, _ >= Algorithms.size / Clients))
      .foreach(_.join()))

    // closed loop; in traced runs the window is cut into quarters that
    // alternate traced and untraced, and a job belongs to the quarter it
    // started in
    h.trace.foreach(_.defaultGroup = "api")
    val jobs = new ConcurrentLinkedQueue[Job]()
    val windowNs = h.args.seconds * 1000000000L
    val start = System.nanoTime()
    val deadline = start + windowNs
    if (h.trace.isDefined) h.setPhase(Traced)
    val threads = (0 until Clients).map(c =>
      client(h, c, clients(c), graphs(c), jobs, _ => System.nanoTime() >= deadline))
    if (h.trace.isDefined) (1 to 3).foreach { q =>
      val edge = start + windowNs * q / 4
      while (System.nanoTime() < edge) Thread.sleep(5)
      h.setPhase(if (q % 2 == 0) Traced else Untraced)
    }
    threads.foreach(_.join())
    h.setPhase(Plain)
    h.sampleHeap()

    val done = jobs.asScala.toSeq
    (warm.asScala ++ done).foreach { j =>
      h.check(s"${j.algo} on client ${j.client}") {
        val got = EventRe.findAllMatchIn(j.body).map(m => m.group(1).toLong -> m.group(2)).toMap
        graphs(j.client).matches(j.algo, j.supersteps, got)
      }
    }

    val kinds = Algorithms.map(a => s"job.$a") ++ Seq("api.import", "api.prepare")
    h.trace.foreach { t =>
      t.flush()
      val traced = done.filter(_.phase == Traced)
      Verbs.foreach(v => h.medianWall(v).foreach(m => h.layerMetric(s"$v.wall_s", m)))
      // supersteps and runningTime come from the server's state JSON, not
      // from the listener, so they use every job: a traced half-window
      // need not run every algorithm
      Algorithms.foreach { a =>
        val js = done.filter(_.algo == a)
        if (js.nonEmpty) {
          h.layerMetric(s"pregel.$a.compute_s", Stats.median(js.map(_.runningMs / 1000.0)))
          h.layerMetric(s"pregel.$a.supersteps", Stats.median(js.map(_.supersteps.toDouble)))
        }
      }
      if (traced.nonEmpty) {
        h.layerMetric("pregel.s_per_superstep",
          traced.map(_.runningMs).sum / 1000.0 / math.max(traced.map(_.supersteps).sum, 1))
        h.layerMetric("api.polls_per_job", traced.map(_.polls).sum.toDouble / traced.size)
        h.layerMetric("api.result_kb", traced.map(_.body.length).sum / 1024.0 / traced.size)
        h.layerMetric("api.job_p50_s", Stats.quantile(traced.map(_.latency), 0.50))
        h.layerMetric("api.job_p75_s", Stats.quantile(traced.map(_.latency), 0.75))
      }
      h.moduleLayers("api", windowNs / 2 / 1e9, traced.size)
      val untraced = done.filter(_.phase == Untraced)
      if (traced.nonEmpty && untraced.nonEmpty)
        h.layerMetric("trace.overhead_frac",
          Stats.median(traced.map(_.latency)) / Stats.median(untraced.map(_.latency)) - 1.0)
    }
    // closed-loop throughput: each client's jobs over the time from the
    // window's start to its own last completion, summed over clients
    val perClient = done.groupBy(_.client).values.map(js => js.size / ((js.map(_.endNs).max - start) / 1e9))
    h.endToEnd(perClient.sum, kinds)
  }
}
