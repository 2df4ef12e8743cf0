package graft.api

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.UUID
import java.util.concurrent.ConcurrentHashMap

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SparkSession

import graft.algos.compute.{AlgorithmRegistry, Cf}

/**
 * Thin HTTP execution-lifecycle layer over the algorithm registry — the
 * Spark analog of the reference REST app's verbs
 * (kafka-graphs-rest-app .../GraphAlgorithmHandler.java:119-489):
 *
 *   POST   /import?name=G&type=edges    body = "src dst value" text lines
 *                                       (GraphAlgorithmHandler.java:119-208)
 *   POST   /prepare?name=G[&partitions=N]   build and cache the vertex set
 *                                       and per-source adjacency once
 *                                       ("prepare", :210-251)
 *   POST   /pregel                      {"algorithm":"sssp","graph":"G",
 *                                        "configs":{...}} → {"id": appId}
 *                                       (configure, :253-393)
 *   POST   /pregel/{id}                 {"numIterations":N} → async run (:406-444)
 *   GET    /pregel/{id}                 state JSON incl. aggregates and the
 *                                       live superstep (:395-404)
 *   GET    /pregel/{id}/result          SSE stream of "data: id value" (:457-489)
 *   GET    /pregel/{id}/predict?user=U&item=I   svdpp rating prediction
 *                                       (tools/library/SvdppPredictor.java:76-138)
 *   GET    /pregel/{id}/configs         submission configs (:96-115 client side)
 *   DELETE /pregel/{id}                 drop the submission and its result
 *
 * Prepare hash-partitions the keyed edges (src, (dst, weight)) and the
 * distinct vertex ids with one partitioner and caches both
 * ([[AlgorithmRegistry.Prepared]]), so a run only shuffles its messages. A
 * graph that was imported but not prepared is laid out the same way, lazily,
 * by its first run. A finished run's vertex rows are collected once onto the
 * driver and its cached Spark state released; result and predict render
 * from those rows, with no Spark job, until DELETE. The server turns on
 * TCP_NODELAY (the JDK's `sun.net.httpserver.nodelay`, unless already set):
 * without it each response waits out the client's delayed ACK (~40 ms).
 *
 * The reference proxies configure/run/result across ZK-discovered group
 * members because state lives on many Kafka Streams hosts; the Spark driver
 * already centralizes coordination, so this is a single-host surface by
 * design (SURVEY §3.3). JDK HttpServer — no extra dependencies.
 */
final class RestServer(spark: SparkSession, port: Int = 0) {

  private final class Submission(
      val algorithm: String, val graph: String,
      val configs: Map[String, Any]) {
    @volatile var state: String = "CREATED"
    // progress published by the run thread after each superstep
    @volatile var superstep: Int = 0
    @volatile var runningTimeMs: Long = 0L
    @volatile var aggregates: Map[String, Any] = Map.empty
    // the finished run's vertex rows in partition order, set before the
    // terminal state
    @volatile var rows: Array[(Long, Any)] = _
    @volatile var error: Option[String] = None
    // predict-path memo over `rows` (CF models are |users|+|items| rows).
    // Benign if two requests race the init: same value either way.
    @volatile private var modelRows: Map[Long, Any] = _
    def model: Map[Long, Any] = {
      if (modelRows == null) modelRows = rows.toMap
      modelRows
    }
  }

  private val graphs = new ConcurrentHashMap[String, AlgorithmRegistry.Prepared]()
  private val subs = new ConcurrentHashMap[String, Submission]()

  RestServer.enableNoDelay()
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
  server.createContext("/import", ex => handle(ex)(doImport))
  server.createContext("/prepare", ex => handle(ex)(doPrepare))
  server.createContext("/pregel", ex => handle(ex)(doPregel))
  server.setExecutor(java.util.concurrent.Executors.newCachedThreadPool())

  def start(): RestServer = { server.start(); this }
  def stop(): Unit = server.stop(0)
  def boundPort: Int = server.getAddress.getPort

  // ---- request handling ----------------------------------------------------

  private def handle(ex: HttpExchange)(f: HttpExchange => (Int, String, String)): Unit =
    try {
      val (code, contentType, body) = f(ex)
      val bytes = body.getBytes(UTF_8)
      ex.getResponseHeaders.set("Content-Type", contentType)
      ex.sendResponseHeaders(code, bytes.length)
      ex.getResponseBody.write(bytes)
      ex.close()
    } catch {
      case e: Throwable =>
        val bytes = MiniJson.obj("error" -> Option(e.getMessage).getOrElse(e.toString))
          .getBytes(UTF_8)
        ex.sendResponseHeaders(400, bytes.length)
        ex.getResponseBody.write(bytes)
        ex.close()
    }

  private def query(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getQuery).map(_.split("&").iterator.map { kv =>
      val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1)
    }.toMap).getOrElse(Map.empty)

  private def body(ex: HttpExchange): String =
    new String(ex.getRequestBody.readAllBytes(), UTF_8)

  /** Replace graph `name`, releasing the cached layouts it replaces. A
    * job still reading them recomputes the missing blocks from lineage. */
  private def install(name: String, g: AlgorithmRegistry.Prepared): Unit =
    Option(graphs.put(name, g)).foreach(_.release())

  /** text lines "src dst value" → staged edge list (the reference's import
    * writes parsed records to the initial topic; we parse to an RDD). The
    * cached layout is built by the first run unless /prepare builds it. */
  private def doImport(ex: HttpExchange): (Int, String, String) = {
    require(ex.getRequestMethod == "POST", "POST required")
    val q = query(ex)
    val name = q.getOrElse("name", "default")
    require(q.getOrElse("type", "edges") == "edges", "only type=edges supported")
    val edges = body(ex).linesIterator.map(_.trim).filter(_.nonEmpty).map { l =>
      val t = l.split("\\s+")
      (t(0).toLong, t(1).toLong, if (t.length > 2) t(2).toDouble else 1.0)
    }.toSeq
    val sc = spark.sparkContext
    install(name,
      new AlgorithmRegistry.Prepared(sc.parallelize(edges), sc.defaultParallelism).persist())
    (200, "application/json", MiniJson.obj("graph" -> name, "edges" -> edges.size))
  }

  /** Build and cache the co-partitioned vertex set and adjacency now (the
    * reference's group-edges-by-source prepare job, GraphUtils.java:152-253
    * — offset quiescence disappears). */
  private def doPrepare(ex: HttpExchange): (Int, String, String) = {
    require(ex.getRequestMethod == "POST", "POST required")
    val q = query(ex)
    val name = q.getOrElse("name", "default")
    val parts = q.get("partitions").map(_.toInt)
      .getOrElse(spark.sparkContext.defaultParallelism)
    val g = graphs.get(name)
    require(g != null, s"no imported graph '$name'")
    val prepared = new AlgorithmRegistry.Prepared(g.edges, parts)
    val (nEdges, nVertices) = prepared.materialize()
    install(name, prepared)
    (200, "application/json", MiniJson.obj("graph" -> name, "partitions" -> parts,
      "edges" -> nEdges, "vertices" -> nVertices))
  }

  private def doPregel(ex: HttpExchange): (Int, String, String) = {
    val path = ex.getRequestURI.getPath.stripPrefix("/pregel").stripPrefix("/")
    (ex.getRequestMethod, path) match {
      case ("POST", "") => configure(ex)
      case ("POST", id) => runAsync(ex, id)
      case ("GET", p) if p.endsWith("/result") => result(p.stripSuffix("/result"))
      case ("GET", p) if p.endsWith("/predict") => predict(ex, p.stripSuffix("/predict"))
      case ("GET", p) if p.endsWith("/configs") => configsOf(p.stripSuffix("/configs"))
      case ("GET", id) => state(id)
      case ("DELETE", id) =>
        subs.remove(id); (200, "application/json", MiniJson.obj("deleted" -> id))
      case (m, p) => (405, "application/json", MiniJson.obj("error" -> s"$m /$p"))
    }
  }

  private def configure(ex: HttpExchange): (Int, String, String) = {
    val req = MiniJson.parse(body(ex)).asInstanceOf[Map[String, Any]]
    val algorithm = req("algorithm").toString
    require(AlgorithmRegistry.algorithms(algorithm), s"unknown algorithm $algorithm")
    val graph = req.getOrElse("graph", "default").toString
    require(graphs.containsKey(graph), s"no imported graph '$graph'")
    val configs = req.getOrElse("configs", Map.empty[String, Any])
      .asInstanceOf[Map[String, Any]]
    val id = UUID.randomUUID().toString
    subs.put(id, new Submission(algorithm, graph, configs))
    (200, "application/json", MiniJson.obj("id" -> id, "state" -> "CREATED"))
  }

  private def runAsync(ex: HttpExchange, id: String): (Int, String, String) = {
    val sub = subs.get(id)
    require(sub != null, s"no submission $id")
    require(sub.state == "CREATED", s"run in state ${sub.state}")
    val maxIter = MiniJson.parse(body(ex)) match {
      case m: Map[_, _] => m.asInstanceOf[Map[String, Any]]
        .get("numIterations").map(_.asInstanceOf[Number].intValue()).getOrElse(30)
      case _ => 30
    }
    sub.state = "RUNNING"
    // async like the reference's CompletableFuture run (:406-444). The rows
    // are collected and the run's cached state released before the
    // terminal state is published, so a client that saw COMPLETED finds
    // the result on the driver and no Spark state left behind.
    new Thread(() => {
      try {
        val out = AlgorithmRegistry.runDetailed(spark, sub.algorithm,
          graphs.get(sub.graph), sub.configs, maxIter,
          onSuperstep = (step, ms) => { sub.runningTimeMs = ms; sub.superstep = step })
        try sub.rows = out.vertices.collect() finally out.unpersistState()
        sub.aggregates = out.aggregates
        sub.runningTimeMs = out.runningTimeMs
        sub.superstep = out.superstep
        sub.state = out.state match {
          case "HALTED" => "HALTED"
          case _        => "COMPLETED"
        }
      } catch {
        case e: Throwable =>
          sub.error = Some(Option(e.getMessage).getOrElse(e.toString))
          sub.state = "ERROR"
      }
    }, s"pregel-$id").start()
    (200, "application/json", MiniJson.obj("id" -> id, "state" -> sub.state))
  }

  private def state(id: String): (Int, String, String) = {
    val sub = subs.get(id)
    require(sub != null, s"no submission $id")
    val base = Seq[(String, Any)]("id" -> id, "state" -> sub.state,
      "algorithm" -> sub.algorithm,
      "superstep" -> sub.superstep,
      "runningTime" -> sub.runningTimeMs)
    // final aggregates, stringified — GraphAlgorithmStatus.getAggregates
    // (the svdpp-predict tool reads overall-rating/edge-count from here)
    val withAggs = base :+ ("aggregates" ->
      (MiniJson.Raw(MiniJson.obj(sub.aggregates.toSeq.sortBy(_._1)
        .map { case (k, v) => k -> (String.valueOf(v): Any) }: _*)): Any))
    val all = sub.error.map(e => withAggs :+ ("error" -> (e: Any))).getOrElse(withAggs)
    (200, "application/json", MiniJson.obj(all: _*))
  }

  /** SSE result stream (GraphAlgorithmHandler.java:457-489): one
    * `data: {"key":id,"value":...}` event per vertex. */
  private def result(id: String): (Int, String, String) = {
    val sub = subs.get(id)
    require(sub != null, s"no submission $id")
    require(sub.state == "COMPLETED" || sub.state == "HALTED",
      s"result in state ${sub.state}")
    // rendered from the rows held on the driver, in partition order; the
    // whole body is built in memory (the rows already are)
    val sb = new StringBuilder
    sub.rows.foreach { case (k, v) =>
      sb.append("data: ")
        .append(MiniJson.obj("key" -> k, "value" -> MiniJson.render(v)))
        .append("\n\n")
    }
    (200, "text/event-stream", sb.toString)
  }

  /** Submission configs (GET /pregel/{id}/configs — the reference predictor
    * CLI reads min/max.rating from here, SvdppPredictor.java:96-115). */
  private def configsOf(id: String): (Int, String, String) = {
    val sub = subs.get(id)
    require(sub != null, s"no submission $id")
    (200, "application/json", MiniJson.obj(sub.configs.toSeq.sortBy(_._1): _*))
  }

  /** svdpp-predict verb — in-server port of the reference predictor CLI
    * (tools/library/SvdppPredictor.java:76-138): look up the trained user
    * and item rows (registry key collapse: user → id, item → −id−1), read
    * the mean rating from the run's aggregates, apply the clamped predictor
    * formula. `GET /pregel/{id}/predict?user=U&item=I`. */
  private def predict(ex: HttpExchange, id: String): (Int, String, String) = {
    val sub = subs.get(id)
    require(sub != null, s"no submission $id")
    require(sub.state == "COMPLETED" || sub.state == "HALTED",
      s"predict in state ${sub.state}")
    require(sub.algorithm == "svdpp", s"predict requires svdpp, got ${sub.algorithm}")
    val q = query(ex)
    val user = q("user").toLong
    val item = q("item").toLong
    val itemKey = -item - 1
    val rows = sub.model
    require(rows.contains(user), s"no user $user")
    require(rows.contains(itemKey), s"no item $item")
    val uv = rows(user).asInstanceOf[Cf.SvdppValue]
    val iv = rows(itemKey).asInstanceOf[Cf.SvdppValue]
    def rating(key: String, dflt: Float): Float = sub.configs.get(key)
      .map(_.asInstanceOf[Number].floatValue()).getOrElse(dflt)
    val p = Cf.svdppPredictOne(
      Cf.svdppMeanRating(sub.aggregates),
      uv.baseline, uv.factors, iv.baseline, iv.factors,
      rating("min.rating", 0.0f), rating("max.rating", 5.0f))
    (200, "application/json",
      MiniJson.obj("user" -> user, "item" -> item, "predicted" -> p))
  }
}

object RestServer {
  private val NoDelay = "sun.net.httpserver.nodelay"

  /** The JDK server reads this property once, when its first server is
    * created; a value the user set wins. */
  private def enableNoDelay(): Unit = synchronized {
    if (System.getProperty(NoDelay) == null) System.setProperty(NoDelay, "true")
  }
}

/** Minimal JSON used by the REST surface — parse (objects/arrays/strings/
  * numbers/bools/null) and format. No external dependency. */
private[api] object MiniJson {

  /** Pre-rendered JSON passed through `fmt` verbatim (nested objects). */
  case class Raw(json: String)

  def obj(fields: (String, Any)*): String =
    fields.map { case (k, v) => s""""$k":${fmt(v)}""" }.mkString("{", ",", "}")

  private def fmt(v: Any): String = v match {
    case Raw(j) => j
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case n: Int => n.toString
    case n: Long => n.toString
    case n: Double => n.toString
    case n: Float => n.toString
    case b: Boolean => b.toString
    case null => "null"
    case other => fmt(other.toString)
  }

  /** Render an algorithm value for the result stream (maps/tuples/arrays
    * stringify deterministically). */
  def render(v: Any): String = v match {
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => s"$k=$x" }.sorted.mkString("{", ",", "}")
    case (a, b) => s"($a,$b)"
    case arr: Array[_] => arr.mkString("[", ",", "]")
    case other => String.valueOf(other)
  }

  def parse(s: String): Any = new P(s).value()

  private final class P(s: String) {
    private var i = 0
    private def ws(): Unit = while (i < s.length && s(i).isWhitespace) i += 1
    def value(): Any = {
      ws()
      if (i >= s.length) null
      else s(i) match {
        case '{' => objVal()
        case '[' => arrVal()
        case '"' => strVal()
        case 't' => i += 4; true
        case 'f' => i += 5; false
        case 'n' => i += 4; null
        case _   => numVal()
      }
    }
    private def objVal(): Map[String, Any] = {
      i += 1; ws()
      val b = Map.newBuilder[String, Any]
      if (i < s.length && s(i) == '}') { i += 1; return b.result() }
      while (true) {
        ws(); val k = strVal(); ws()
        require(s(i) == ':', s"expected ':' at $i"); i += 1
        b += k -> value(); ws()
        if (s(i) == ',') i += 1
        else { require(s(i) == '}', s"expected '}' at $i"); i += 1; return b.result() }
      }
      b.result()
    }
    private def arrVal(): Seq[Any] = {
      i += 1; ws()
      val b = Seq.newBuilder[Any]
      if (i < s.length && s(i) == ']') { i += 1; return b.result() }
      while (true) {
        b += value(); ws()
        if (s(i) == ',') i += 1
        else { require(s(i) == ']', s"expected ']' at $i"); i += 1; return b.result() }
      }
      b.result()
    }
    private def strVal(): String = {
      require(s(i) == '"', s"expected string at $i"); i += 1
      val sb = new StringBuilder
      while (s(i) != '"') {
        if (s(i) == '\\') {
          i += 1
          s(i) match {
            case 'n' => sb.append('\n'); case 't' => sb.append('\t')
            case 'u' => sb.append(Integer.parseInt(s.substring(i + 1, i + 5), 16).toChar); i += 4
            case c   => sb.append(c)
          }
        } else sb.append(s(i))
        i += 1
      }
      i += 1
      sb.toString
    }
    private def numVal(): Any = {
      val start = i
      while (i < s.length && (s(i).isDigit || "+-.eE".contains(s(i)))) i += 1
      val t = s.substring(start, i)
      if (t.exists(c => c == '.' || c == 'e' || c == 'E')) t.toDouble else t.toLong
    }
  }
}
