package graft.pipeline

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.DataFrame

/** Thin serving layer — the reference's REST surface
  * (MartController.java:19-31: GET /mart/all, GET /mart/statistic)
  * re-expressed over the mart DataFrames, JSON out, zero extra
  * dependencies (JDK `com.sun.net.httpserver`).
  *
  * Serving posture at scale: an HTTP hit must NEVER launch a distributed
  * query. The mart/statistic tables are the pipeline's tiny outputs
  * (≤100 rows — §2.9), so each route is SNAPSHOTTED at registration:
  * one collect per pipeline run, served from driver memory after.
  * Refreshing = re-running the pipeline and re-registering, exactly the
  * reference's precompute-then-serve split (its controller reads a table
  * the ETL job rebuilt). Row JSON comes from `df.toJSON` and its column
  * form `to_json(struct(*))` — Spark's own schema-driven serialization,
  * not hand-rolled rendering.
  *
  * `Pipeline.runAll` returns the mart as a local relation of the rows it
  * just wrote, and `Lottery.statistic` computes its scalars on the driver
  * into another. The optimizer folds each snapshot's projection into its
  * relation, so registering the dashboard runs no Spark job.
  */
object Serving {

  /** One JSON array string per route, computed once (the snapshot). */
  def snapshot(df: DataFrame): String =
    df.toJSON.collect().mkString("[", ",", "]")

  /** Each row's JSON (the same bytes as its `snapshot` entry), in row
    * order, with its values of `keyCols` as strings: ONE collect feeds a
    * DataFrame's whole-table route and all of its keyed lookups. */
  private def keyedRows(df: DataFrame,
                        keyCols: Seq[String]): Array[(Map[String, String], String)] = {
    import org.apache.spark.sql.functions.{col, struct, to_json}
    df.select(keyCols.map(k => col(k).cast("string")) :+
        to_json(struct(df.columns.toIndexedSeq.map(col): _*)): _*)
      .collect()
      .map(r => (keyCols.zipWithIndex.map { case (k, i) => k -> r.getString(i) }.toMap,
        r.getString(keyCols.size)))
  }

  /** Start serving `routes` (path → whole-table snapshot) and `lookups`
    * (path → (DataFrame, keyCol): `GET path?<keyCol>=v` returns v's rows,
    * an empty array for unknown keys, 400 when the key param is absent)
    * on `port` (0 = ephemeral; read the bound port off the returned
    * server). Binds loopback by default — an unauthenticated snapshot
    * server has no business on all interfaces; pass an explicit
    * `bindHost` to expose it deliberately. Caller stops it.
    *
    * Snapshots are taken at registration with one collect per distinct
    * DataFrame (by reference): a route and a lookup over the same mart
    * share it. Every HTTP hit is then a driver-side map get — the serving
    * analog of the S5 point lookup, never a distributed query per request.
    *
    * The JDK server writes headers and body separately, so with Nagle on
    * a kept-alive client's next request waits ~40 ms on the peer's delayed
    * ACK. Run the JVM with `-Dsun.net.httpserver.nodelay=true` to send
    * with TCP_NODELAY; the JDK reads that property once, when the first
    * server in the JVM is created. */
  def start(port: Int, routes: Map[String, DataFrame],
            lookups: Map[String, (DataFrame, String)] = Map.empty,
            bindHost: String = "127.0.0.1"): HttpServer = {
    // one collect per distinct DataFrame (by reference), carrying the key
    // columns of every lookup over it
    val snapshots = new java.util.IdentityHashMap[DataFrame, Array[(Map[String, String], String)]]()
    (routes.values ++ lookups.values.map(_._1)).foreach { df =>
      if (!snapshots.containsKey(df))
        snapshots.put(df, keyedRows(df,
          lookups.values.collect { case (d, k) if d eq df => k }.toSeq.distinct))
    }

    val server = HttpServer.create(new InetSocketAddress(bindHost, port), 0)

    def respond(ex: HttpExchange, status: Int, body: Option[Array[Byte]]): Unit =
      try {
        body match {
          case Some(b) =>
            ex.getResponseHeaders.set("Content-Type", "application/json; charset=utf-8")
            ex.sendResponseHeaders(status, b.length.toLong)
            ex.getResponseBody.write(b)
          case None => ex.sendResponseHeaders(status, -1L)
        }
      } finally ex.close()

    routes.foreach { case (path, df) =>
      val body = snapshots.get(df).map(_._2).mkString("[", ",", "]").getBytes(UTF_8)
      server.createContext(path, (ex: HttpExchange) => {
        if (ex.getRequestMethod == "GET" && ex.getRequestURI.getPath == path)
          respond(ex, 200, Some(body))
        else respond(ex, 404, None)
      })
    }

    lookups.foreach { case (path, (df, keyCol)) =>
      val byKey = snapshots.get(df).groupBy(_._1(keyCol))
        .map { case (k, rows) => k -> rows.map(_._2).mkString("[", ",", "]") }
      server.createContext(path, (ex: HttpExchange) => {
        // real query-string parsing: split on '&', take key=value pairs —
        // extra or reordered params must not change which key is looked
        // up, and 400 means the key param is genuinely absent
        val params = Option(ex.getRequestURI.getQuery).getOrElse("")
          .split("&").iterator
          .map(_.split("=", 2))
          .collect { case Array(k, v) =>
            java.net.URLDecoder.decode(k, "UTF-8") ->
              java.net.URLDecoder.decode(v, "UTF-8")
          }
          .toMap
        if (ex.getRequestMethod != "GET" || ex.getRequestURI.getPath != path)
          respond(ex, 404, None)
        else params.get(keyCol) match {
          case None => respond(ex, 400, None)
          case Some(v) =>
            respond(ex, 200, Some(byKey.getOrElse(v, "[]").getBytes(UTF_8)))
        }
      })
    }

    server.setExecutor(null) // serve on the dispatcher thread; tiny payloads
    server.start()
    server
  }
}
