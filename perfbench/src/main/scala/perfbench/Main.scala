package perfbench

import java.io.File
import java.net.HttpURLConnection
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import com.sun.net.httpserver.HttpServer
import graft.pipeline.{Lottery, Pipeline, Serving}
import org.apache.spark.sql.SparkSession

/** The warehouse workloads, driven through the public entry points
  * (`Pipeline.runAll`, `Lottery.statistic`, `Serving.start`).
  *
  * One op is a refresh: the drop lands, `runAll` loads it, `Serving` is
  * registered on the new mart and statistic, and a GET confirms the newest
  * day is served. Untimed after each op: the served state is dumped for
  * run.py to check against the model, and a fixed batch of dashboard GETs
  * is answered by closed-loop clients.
  *
  *  - wh_backfill: each op is a cold rebuild of the whole drop into a fresh
  *    warehouse root.
  *  - wh_daily: setup builds the history once; each op lands one new day's
  *    CSV and refreshes the same root.
  *
  * Usage (run.py builds the arguments):
  *   Main <workload> <seconds> <trace 0|1> <cpus> <workDir> <dropDir>
  *        <futureDir> <warmups> <requests> <seed> <resultFile>
  */
object Main {

  final case class Args(workload: String, seconds: Double, trace: Boolean, cpus: Int,
                        work: String, drop: String, future: String, warmups: Int,
                        requests: Int, seed: Long, result: String)

  def main(argv: Array[String]): Unit = {
    val a = Args(argv(0), argv(1).toDouble, argv(2) == "1", argv(3).toInt, argv(4),
      argv(5), argv(6), argv(7).toInt, argv(8).toInt, argv(9).toLong, argv(10))
    // the same session confs as graft.Bench, with scratch space kept in the run's directory
    val spark = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val trace = if (a.trace) Some(new Trace(spark)) else None
    trace.foreach { t =>
      spark.sparkContext.addSparkListener(t)
      spark.listenerManager.register(t)
    }
    try Files.writeString(Paths.get(a.result), new Harness(spark, a, trace).run(), UTF_8)
    finally spark.stop()
  }
}

final class Harness(spark: SparkSession, a: Main.Args, trace: Option[Trace]) {

  private def span[T](name: String, layer: String)(body: => T): T =
    trace.fold(body)(_.span(name, layer)(body))

  private val pid = ProcessHandle.current().pid()
  private val rnd = new scala.util.Random(a.seed)
  private val latenciesMs = mutable.ArrayBuffer.empty[Double]
  private val ops = mutable.ArrayBuffer.empty[String]
  private var server: Option[HttpServer] = None
  private var batchSeconds = 0.0
  private var logFiles = 0L
  private var whBytes = -1L
  private var inputBytes = -1L
  private var setupEnd = -1.0

  def run(): String = {
    a.workload match {
      case "wh_backfill" =>
        var i = 0
        loop { measured =>
          i += 1
          val root = s"${a.work}/wh-$pid-$i"
          val seconds = refresh(root, measured, land = ())
          deleteTree(root)
          seconds
        }
      case "wh_daily" =>
        val root = s"${a.work}/wh-$pid"
        // the pre-built history is setup: one cold runAll over the drop
        Pipeline.runAll(spark, a.drop, root).count()
        val days = new File(a.future).listFiles().sortBy(f => dayOf(f.getName)).iterator
        loop { measured =>
          val day = days.next()
          refresh(root, measured,
            land = Files.copy(day.toPath, Paths.get(a.drop, day.getName), StandardCopyOption.REPLACE_EXISTING))
        }
      case w => sys.error(s"unknown workload $w")
    }
    server.foreach(_.stop(0))
    val layers = trace.map(_.report("op") ++ Map(
      "spark.empty_stage_s" -> emptyStageSeconds(),
      "control.log_files" -> logFiles.toDouble)).getOrElse(Map.empty)
    trace.foreach(t => Files.write(Paths.get(a.result + ".spans.jsonl"),
      (t.spansJson().mkString("\n") + "\n").getBytes(UTF_8)))
    Json.obj(
      "setup_end_epoch_s" -> setupEnd,
      "ops" -> ops.map(Json.Raw),
      "latencies_ms" -> latenciesMs,
      "batch_seconds" -> batchSeconds,
      "wh_bytes" -> whBytes,
      "input_bytes" -> inputBytes,
      "rss_peak_mb" -> rssPeakMb(),
      "layers" -> layers)
  }

  /** Warm-up ops, then measured ops until their timed seconds reach
    * `seconds` (at least one). Setup ends when the first measured op
    * starts. */
  private def loop(op: Boolean => Double): Unit = {
    (1 to a.warmups).foreach(_ => op(false))
    setupEnd = System.currentTimeMillis() / 1e3
    var timed = 0.0
    do timed += op(true) while (timed < a.seconds)
  }

  /** One op, then its untimed check dump and request batch. Returns the
    * op's timed seconds. */
  private def refresh(root: String, measured: Boolean, land: => Unit): Double = {
    val t0 = System.nanoTime()
    val (fresh, day, confirmed) = span(if (measured) "op" else "warmup", "driver") {
      land
      val mart = span("runAll", "driver")(Pipeline.runAll(spark, a.drop, root))
      val fresh = span("serving.register", "serving") {
        Serving.start(0, Map("/mart/all" -> mart, "/mart/statistic" -> Lottery.statistic(mart)),
          Map("/mart/number" -> (mart, "number_value")))
      }
      val want = newestDay()
      val stat = get(fresh, "/mart/statistic", keepAlive = false)
      (fresh, want, stat._1 == 200 && stat._2.contains(s""""lastUpdate":"$want""""))
    }
    val seconds = (System.nanoTime() - t0) / 1e9
    server.foreach(_.stop(0))
    server = Some(fresh)

    // untimed: the served state for run.py's model check
    val lookups = (0 until 100).map(k =>
      k.toString -> get(fresh, s"/mart/number?number_value=$k", keepAlive = false)._2)
    val all = get(fresh, "/mart/all", keepAlive = false)._2
    val stat = get(fresh, "/mart/statistic", keepAlive = false)._2
    val facts = countFacts(root)
    if (whBytes < 0 && measured) {
      whBytes = treeBytes(new File(root))
      inputBytes = treeBytes(new File(a.drop))
    }
    logFiles = Option(new File(Pipeline.Layout(root).processLog).listFiles())
      .map(_.count(_.getName.endsWith(".parquet")).toLong).getOrElse(0L)

    val expected = Map("/mart/all" -> all, "/mart/statistic" -> stat) ++
      lookups.map { case (k, b) => s"/mart/number?number_value=$k" -> b }
    // warm-up ops send a short batch: enough to load the request path
    val (lat, failed, wall) = requestBatch(fresh, expected, if (measured) a.requests else 20)
    if (measured) {
      latenciesMs ++= lat
      batchSeconds += wall
    }
    ops += Json.obj("measured" -> measured, "s" -> seconds, "day" -> day,
      "confirmed" -> confirmed, "requests" -> lat.size, "failed" -> failed,
      "all" -> all, "statistic" -> stat, "lookups" -> lookups.toMap, "fact_rows" -> facts)
    seconds
  }

  /** yyyy-MM-dd of a crawler file named xsmb_ddMMyyyy.csv. */
  private def dayOf(name: String): String =
    name.slice(9, 13) + "-" + name.slice(7, 9) + "-" + name.slice(5, 7)

  private def newestDay(): String =
    new File(a.drop).listFiles().map(_.getName).filter(_.endsWith(".csv")).map(dayOf).max

  private def countFacts(root: String): Long =
    if (new File(Pipeline.Layout(root).factPrize).exists())
      spark.read.parquet(Pipeline.Layout(root).factPrize).count()
    else 0L

  /** A fixed batch of dashboard GETs from `cpus` closed-loop clients: each
    * client sends its next request when the previous answer is in. A
    * request fails on a non-200 status or a body that differs from the
    * checked snapshot of its URL. Returns (latencies ms, failed, wall s).
    *
    * The batch repeats a cycle of two dashboard page loads and one number
    * lookup. A page load is one `/mart/all` (the table) and one
    * `/mart/statistic` (the stats card), as SURVEY.md §3.2-3.3 traces the
    * reference front end. The lookup, one in five requests with a seeded
    * key, is an assumption: the reference has no such endpoint. */
  private def requestBatch(s: HttpServer, expected: Map[String, String],
                           n: Int): (Seq[Double], Int, Double) = {
    val urls = (0 until n).map { i =>
      i % 5 match {
        case 0 | 2 => "/mart/all"
        case 1 | 3 => "/mart/statistic"
        case _ => s"/mart/number?number_value=${rnd.nextInt(100)}"
      }
    }
    val lat = new Array[Double](urls.size)
    val next = new AtomicInteger()
    val failed = new AtomicInteger()
    val t0 = System.nanoTime()
    val clients = (1 to a.cpus).map { _ =>
      new Thread(() => {
        var i = next.getAndIncrement()
        while (i < urls.size) {
          val r0 = System.nanoTime()
          val ok = try {
            val (code, body) = get(s, urls(i))
            code == 200 && body == expected(urls(i))
          } catch { case _: java.io.IOException => false }
          lat(i) = (System.nanoTime() - r0) / 1e6
          if (!ok) failed.incrementAndGet()
          i = next.getAndIncrement()
        }
      })
    }
    clients.foreach(_.start())
    clients.foreach(_.join())
    (lat.toSeq, failed.get, (System.nanoTime() - t0) / 1e9)
  }

  /** One GET. Dashboard clients keep connections alive; the harness's own
    * reads close theirs, so they do not wait on a kept-alive connection's
    * delayed ACK. */
  private def get(s: HttpServer, path: String, keepAlive: Boolean = true): (Int, String) = {
    val url = java.net.URI.create(s"http://127.0.0.1:${s.getAddress.getPort}$path").toURL
    val c = url.openConnection().asInstanceOf[HttpURLConnection]
    if (!keepAlive) c.setRequestProperty("Connection", "close")
    val code = c.getResponseCode
    val in = if (code < 400) c.getInputStream else c.getErrorStream
    val body = if (in == null) "" else try new String(in.readAllBytes(), UTF_8) finally in.close()
    (code, body)
  }

  /** Median wall time of an empty stage with one task per core. */
  private def emptyStageSeconds(): Double = {
    val ts = (1 to 7).map { _ =>
      val t0 = System.nanoTime()
      spark.sparkContext.parallelize(0 until a.cpus, a.cpus).foreach(_ => ())
      (System.nanoTime() - t0) / 1e9
    }.sorted
    ts(ts.size / 2)
  }

  private def treeBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(treeBytes).sum).getOrElse(0L) else f.length()

  private def deleteTree(path: String): Unit = {
    val f = new File(path)
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(c => deleteTree(c.getPath)))
    f.delete()
  }

  private def rssPeakMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status"), UTF_8).toArray.map(_.toString)
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
}
