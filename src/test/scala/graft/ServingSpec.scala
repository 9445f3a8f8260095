package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import graft.pipeline.{Lottery, Serving}

/** §2.9 REST surface (MartController.java:19-31): /mart/all and
  * /mart/statistic served as JSON snapshots of the pipeline outputs.
  */
class ServingSpec extends SparkSpec {

  test("GET /mart/all and /mart/statistic serve the pipeline outputs as JSON") {
    val res = Lottery.run(spark, getClass.getResource("/lottery").getPath)
    val server = Serving.start(0, Map(
      "/mart/all" -> res.mart,
      "/mart/statistic" -> res.statistic))
    try {
      val port = server.getAddress.getPort
      val client = HttpClient.newHttpClient()
      def get(path: String): HttpResponse[String] =
        client.send(
          HttpRequest.newBuilder(URI.create(s"http://localhost:$port$path")).build(),
          HttpResponse.BodyHandlers.ofString())

      val all = get("/mart/all")
      assert(all.statusCode() === 200)
      assert(all.headers().firstValue("Content-Type").get.startsWith("application/json"))
      // the snapshot is exactly Spark's own JSON rendering of the mart
      assert(all.body() === Serving.snapshot(res.mart))
      assert(all.body().startsWith("[{") && all.body().contains("\"number_value\""))

      val stat = get("/mart/statistic")
      assert(stat.statusCode() === 200)
      assert(stat.body() === Serving.snapshot(res.statistic))

      assert(get("/mart/nope").statusCode() === 404)
    } finally server.stop(0)
  }

  test("GET /mart/find?number_value=N: parameterized point lookup from the keyed snapshot") {
    import spark.implicits._
    val res = Lottery.run(spark, getClass.getResource("/lottery").getPath)
    val server = Serving.start(0, Map.empty,
      lookups = Map("/mart/find" -> (res.mart, "number_value")))
    try {
      val port = server.getAddress.getPort
      val client = HttpClient.newHttpClient()
      def get(path: String): HttpResponse[String] =
        client.send(
          HttpRequest.newBuilder(URI.create(s"http://localhost:$port$path")).build(),
          HttpResponse.BodyHandlers.ofString())

      val someKey = res.mart.select($"number_value".cast("string"))
        .as[String].head()
      val hit = get(s"/mart/find?number_value=$someKey")
      assert(hit.statusCode() === 200)
      assert(hit.body().contains(s""""number_value":"$someKey""""))
      // every returned row is that key's row
      assert(!hit.body().drop(1).dropRight(1).split("\\},\\{")
        .exists(r => !r.contains(s""""number_value":"$someKey"""")))

      assert(get("/mart/find?number_value=no-such-key").body() === "[]")
      assert(get("/mart/find").statusCode() === 400)
      assert(get("/mart/find?wrong=1").statusCode() === 400)

      // extra and reordered params must not change which key is looked
      // up — the query string is parsed as k=v pairs, not prefix-matched
      assert(get(s"/mart/find?number_value=$someKey&x=1").body() === hit.body())
      assert(get(s"/mart/find?x=1&number_value=$someKey").body() === hit.body())

      // loopback default: the bound address is 127.0.0.1, not wildcard
      assert(server.getAddress.getAddress.isLoopbackAddress,
        s"server bound ${server.getAddress} — snapshots exposed beyond loopback")
    } finally server.stop(0)
  }

  test("a route and a lookup over one DataFrame share one collect; bodies match snapshot") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val res = Lottery.run(spark, getClass.getResource("/lottery").getPath)
    // the statistic collects the mart, and the mart dim_date, when first
    // used; computed here, so only Serving.start's own collects are counted
    val statistic = res.statistic
    val collects = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (funcName == "collect") collects.incrementAndGet()
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val server = try {
      val s = Serving.start(0, Map("/mart/all" -> res.mart, "/mart/statistic" -> statistic),
        lookups = Map("/mart/find" -> (res.mart, "number_value")))
      org.apache.spark.scheduler.GraftStageInfoAccess
        .waitUntilListenerBusEmpty(spark.sparkContext, 30000)
      s
    } finally spark.listenerManager.unregister(listener)
    try {
      assert(collects.get === 2, "one collect per distinct DataFrame")
      val port = server.getAddress.getPort
      val client = HttpClient.newHttpClient()
      def get(path: String): String =
        client.send(
          HttpRequest.newBuilder(URI.create(s"http://localhost:$port$path")).build(),
          HttpResponse.BodyHandlers.ofString()).body()
      val all = get("/mart/all")
      assert(all === Serving.snapshot(res.mart))
      assert(get("/mart/statistic") === Serving.snapshot(res.statistic))
      // each lookup serves exactly its row of the shared snapshot
      val byNumber = all.drop(1).dropRight(1).split("(?<=\\}),(?=\\{)")
      assert(byNumber.length === 4)
      byNumber.foreach { row =>
        val key = "\"number_value\":\"(\\d+)\"".r.findFirstMatchIn(row).get.group(1)
        assert(get(s"/mart/find?number_value=$key") === s"[$row]")
      }
    } finally server.stop(0)
  }
}
