package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.api.RestServer

/** End-to-end HTTP lifecycle — the Spark analog of the reference REST app's
  * GraphIntegrationTest (kafka-graphs-rest-app .../GraphIntegrationTest.java):
  * import → prepare → configure → run → poll state → stream result. */
class RestSpec extends SparkSpec {

  private lazy val client = HttpClient.newHttpClient()

  private def post(url: String, body: String = ""): String =
    client.send(HttpRequest.newBuilder(URI.create(url))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString()).body()

  private def get(url: String): String =
    client.send(HttpRequest.newBuilder(URI.create(url)).GET().build(),
      HttpResponse.BodyHandlers.ofString()).body()

  private def field(json: String, key: String): String = {
    val m = ("\"" + key + "\":\"?([^\",}]+)\"?").r.findFirstMatchIn(json)
    assert(m.isDefined, s"no $key in $json")
    m.get.group(1)
  }

  private def delete(url: String): String =
    client.send(HttpRequest.newBuilder(URI.create(url)).DELETE().build(),
      HttpResponse.BodyHandlers.ofString()).body()

  /** Polls the state until terminal; returns the last state JSON. */
  private def awaitTerminal(base: String, id: String): String = {
    var json = ""
    var st = ""
    val deadline = System.currentTimeMillis() + 120000
    while (st != "COMPLETED" && st != "HALTED" && st != "ERROR" &&
           System.currentTimeMillis() < deadline) {
      Thread.sleep(20)
      json = get(s"$base/pregel/$id")
      st = field(json, "state")
    }
    assert(st === "COMPLETED" || st === "HALTED", json)
    json
  }

  private def resultRows(sse: String): Map[Long, String] =
    sse.split("\n\n").filter(_.startsWith("data: "))
      .map(_.stripPrefix("data: "))
      .map(j => field(j, "key").toLong -> field(j, "value")).toMap

  /** Runs one job to its end and returns (state JSON, result body). */
  private def runJob(base: String, algorithm: String, graph: String,
                     numIterations: Int): (String, String) = {
    val id = field(post(s"$base/pregel",
      s"""{"algorithm":"$algorithm","graph":"$graph","configs":{}}"""), "id")
    post(s"$base/pregel/$id", s"""{"numIterations":$numIterations}""")
    val state = awaitTerminal(base, id)
    val body = get(s"$base/pregel/$id/result")
    delete(s"$base/pregel/$id")
    (state, body)
  }

  private def chain(n: Int): String = (0 until n).map(i => s"$i ${i + 1} 1.0").mkString("\n")

  /** Counts the Spark jobs started between two marker jobs run on the test
    * thread. The listener bus delivers events in the order they were
    * posted, so once the closing marker's start is seen, so is every job
    * started before it. */
  private final class JobCounter extends SparkListener {
    val jobs = new AtomicInteger()
    val closed = new CountDownLatch(1)
    @volatile private var counting = false
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).map(_.getProperty("spark.job.description")).orNull match {
        case "rest-spec-open"  => counting = true
        case "rest-spec-close" => counting = false; closed.countDown()
        case _                 => if (counting) jobs.incrementAndGet()
      }
  }

  /** Ids of the cached RDDs. The context holds them weakly, so RDDs other
    * tests dropped can vanish from it at any GC: compare sets, not sizes. */
  private def persistedIds(): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def marker(name: String): Unit = {
    val sc = spark.sparkContext
    sc.setJobDescription(name)
    try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
  }

  test("a prepared wcc job runs N + 1 Spark jobs and releases its cached state") {
    val sc = spark.sparkContext
    val srv = new RestServer(spark).start()
    try {
      val base = s"http://127.0.0.1:${srv.boundPort}"
      // a 21-vertex chain: wcc needs ~20 supersteps, so 4 never converge
      post(s"$base/import?name=j&type=edges", chain(20))
      val prep = post(s"$base/prepare?name=j&partitions=4")
      assert(field(prep, "edges") === "20")
      assert(field(prep, "vertices") === "21")
      val persisted = persistedIds()

      val n = 4
      val counter = new JobCounter
      sc.addSparkListener(counter)
      val id = try {
        marker("rest-spec-open")
        val id = field(post(s"$base/pregel",
          """{"algorithm":"wcc","graph":"j","configs":{}}"""), "id")
        post(s"$base/pregel/$id", s"""{"numIterations":$n}""")
        val state = awaitTerminal(base, id)
        assert(field(state, "superstep") === n.toString)
        val first = get(s"$base/pregel/$id/result")
        val second = get(s"$base/pregel/$id/result")
        assert(first === second)
        // superstep 0 only sends, so labels have moved n − 1 hops
        assert(resultRows(first) ===
          (0 to 20).map(i => i.toLong -> math.max(0, i - n + 1).toString).toMap)
        marker("rest-spec-close")
        assert(counter.closed.await(60, TimeUnit.SECONDS))
        id
      } finally sc.removeSparkListener(counter)
      // one job per superstep plus the result collect; the result GETs and
      // the state polls run none
      assert(counter.jobs.get === n + 1)

      delete(s"$base/pregel/$id")
      assert(get(s"$base/pregel/$id").contains("error"))
      assert(persistedIds() -- persisted === Set.empty)
    } finally srv.stop()
  }

  test("re-import and re-prepare replace the graph and release the old layout") {
    val srv = new RestServer(spark).start()
    try {
      val base = s"http://127.0.0.1:${srv.boundPort}"
      val cachedBefore = persistedIds()
      post(s"$base/import?name=r&type=edges", chain(5))
      post(s"$base/prepare?name=r&partitions=3")
      val first = persistedIds() -- cachedBefore
      assert(first.size === 2) // keyed edges and vertex ids
      val (_, before) = runJob(base, "wcc", "r", 30)
      assert(resultRows(before) === (0 to 5).map(_.toLong -> "0").toMap)

      // same name, different edges: two components {0,1,2} and {3,4,5}
      post(s"$base/import?name=r&type=edges", "0 1 1.0\n1 2 1.0\n3 4 1.0\n4 5 1.0")
      post(s"$base/prepare?name=r&partitions=3")
      val now = persistedIds()
      assert((now & first).isEmpty)
      assert((now -- cachedBefore).size === 2)
      val (_, after) = runJob(base, "wcc", "r", 30)
      assert(resultRows(after) ===
        ((0 to 2).map(_.toLong -> "0") ++ (3 to 5).map(_.toLong -> "3")).toMap)
    } finally srv.stop()
  }

  test("configure round trips do not wait out a delayed ACK") {
    val srv = new RestServer(spark).start()
    try {
      val base = s"http://127.0.0.1:${srv.boundPort}"
      post(s"$base/import?name=n&type=edges", chain(3))
      val ms = (1 to 10).map { _ =>
        val t0 = System.nanoTime()
        field(post(s"$base/pregel", """{"algorithm":"wcc","graph":"n","configs":{}}"""), "id")
        (System.nanoTime() - t0) / 1e6
      }.sorted
      // Linux delays an ACK by at least 40 ms; a response held back by
      // Nagle's algorithm waits for it
      val median = (ms(4) + ms(5)) / 2
      assert(median < 30.0, s"POST /pregel round trips (ms): ${ms.mkString(", ")}")
    } finally srv.stop()
  }

  test("import → prepare → configure → run → state → SSE result over HTTP") {
    val srv = new RestServer(spark).start()
    try {
      val base = s"http://127.0.0.1:${srv.boundPort}"
      // two-chains fixture: components {0..9} and {10..20}
      val edges = ((0 until 9).map(i => s"$i ${i + 1} 1.0") ++
        (10 until 20).map(i => s"$i ${i + 1} 1.0")).mkString("\n")

      val imp = post(s"$base/import?name=g&type=edges", edges)
      assert(field(imp, "edges") === "19")
      val prep = post(s"$base/prepare?name=g&partitions=4")
      assert(field(prep, "partitions") === "4")

      val conf = post(s"$base/pregel",
        """{"algorithm":"wcc","graph":"g","configs":{}}""")
      val id = field(conf, "id")
      assert(field(conf, "state") === "CREATED")

      assert(field(post(s"$base/pregel/$id", """{"numIterations":30}"""),
        "state") === "RUNNING")
      // poll until terminal, like the reference client
      var st = ""
      val deadline = System.currentTimeMillis() + 120000
      while (st != "COMPLETED" && st != "HALTED" && st != "ERROR" &&
             System.currentTimeMillis() < deadline) {
        Thread.sleep(200)
        st = field(get(s"$base/pregel/$id"), "state")
      }
      assert(st === "COMPLETED" || st === "HALTED", get(s"$base/pregel/$id"))
      assert(field(get(s"$base/pregel/$id"), "superstep").toInt > 0)

      val sse = get(s"$base/pregel/$id/result")
      val rows = sse.split("\n\n").filter(_.startsWith("data: "))
        .map(_.stripPrefix("data: "))
        .map(j => field(j, "key").toLong -> field(j, "value").toLong).toMap
      assert(rows.size === 21)
      assert((0L to 9L).forall(rows(_) === 0L))
      assert((10L to 20L).forall(rows(_) === 10L))

      // unknown algorithm rejected; submission deletable
      assert(post(s"$base/pregel",
        """{"algorithm":"nope","graph":"g"}""").contains("error"))
      assert(get(s"$base/pregel/$id").contains("COMPLETED") ||
        get(s"$base/pregel/$id").contains("HALTED"))
      client.send(HttpRequest.newBuilder(URI.create(s"$base/pregel/$id"))
        .DELETE().build(), HttpResponse.BodyHandlers.ofString())
      assert(get(s"$base/pregel/$id").contains("error"))
    } finally srv.stop()
  }

  // no /prepare: the first run lays the graph out lazily
  test("sssp with srcVertexId config over HTTP") {
    val srv = new RestServer(spark).start()
    try {
      val base = s"http://127.0.0.1:${srv.boundPort}"
      post(s"$base/import?name=c&type=edges",
        (0 until 5).map(i => s"$i ${i + 1} 2.0").mkString("\n"))
      val id = field(post(s"$base/pregel",
        """{"algorithm":"sssp","graph":"c","configs":{"srcVertexId":0}}"""), "id")
      post(s"$base/pregel/$id", "{}")
      var st = ""
      val deadline = System.currentTimeMillis() + 120000
      while (st != "COMPLETED" && st != "HALTED" && st != "ERROR" &&
             System.currentTimeMillis() < deadline) {
        Thread.sleep(200)
        st = field(get(s"$base/pregel/$id"), "state")
      }
      val sse = get(s"$base/pregel/$id/result")
      val rows = sse.split("\n\n").filter(_.startsWith("data: "))
        .map(_.stripPrefix("data: "))
        .map(j => field(j, "key").toLong -> field(j, "value").toDouble).toMap
      assert(rows === (0 to 5).map(i => i.toLong -> i * 2.0).toMap)
    } finally srv.stop()
  }

  test("svdpp train + predict verb over HTTP (SvdppPredictor parity)") {
    val srv = new RestServer(spark).start()
    try {
      val base = s"http://127.0.0.1:${srv.boundPort}"
      // bipartite ratings: "user item rating" lines (items get −id−1 keys)
      post(s"$base/import?name=r&type=edges",
        Seq("1 1 1.0", "1 2 2.0", "2 1 2.0", "2 2 4.0", "3 1 3.0", "3 2 5.0")
          .mkString("\n"))
      val id = field(post(s"$base/pregel",
        """{"algorithm":"svdpp","graph":"r",
          |"configs":{"iterations":4,"random.seed":42}}""".stripMargin), "id")
      post(s"$base/pregel/$id", """{"numIterations":12}""")
      var st = ""
      val deadline = System.currentTimeMillis() + 120000
      while (st != "COMPLETED" && st != "HALTED" && st != "ERROR" &&
             System.currentTimeMillis() < deadline) {
        Thread.sleep(200)
        st = field(get(s"$base/pregel/$id"), "state")
      }
      assert(st === "COMPLETED" || st === "HALTED", get(s"$base/pregel/$id"))
      // state carries the final aggregates the reference tool reads
      val stateJson = get(s"$base/pregel/$id")
      assert(stateJson.contains("edge.count.aggregator"))
      assert(stateJson.contains("svd.overall.rating.aggregator"))

      val p = get(s"$base/pregel/$id/predict?user=1&item=2")
      val predicted = field(p, "predicted").toFloat
      assert(predicted >= 0.0f && predicted <= 5.0f, p)
      // deterministic: same factors → same prediction
      assert(field(get(s"$base/pregel/$id/predict?user=1&item=2"), "predicted")
        .toFloat === predicted)
      // unknown user/item rejected
      assert(get(s"$base/pregel/$id/predict?user=99&item=2").contains("error"))
      // configs verb serves the submission's configs (predictor reads
      // min/max.rating from here)
      val cfg = get(s"$base/pregel/$id/configs")
      assert(field(cfg, "iterations").toInt === 4)
      assert(field(cfg, "random.seed").toLong === 42L)
    } finally srv.stop()
  }
}
