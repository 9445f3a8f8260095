package graft

import graft.streaming.EventStream
import graft.Tables.t
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** Structured Streaming parity: the SAME transforms used by the oracled
  * batch queries (e1/e2) run over a MemoryStream with watermarks and give
  * the same results once the stream is drained (SURVEY §2.8 streaming
  * extension).
  */
case class Ev(event_id: Long, ts: Long, user_id: Long, event_type: String,
              value: Double, props: String)

case class DocRow(doc_id: Long, text: String)
case class VecRow(vec_id: Long, embedding: Seq[Float])

class StreamingSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  // the ANN root lives in a directory of this JVM's own, so two test
  // JVMs on one host never delete each other's roots
  private val tmpRoot = java.nio.file.Files.createTempDirectory("graft_stream").toFile

  override def afterAll(): Unit =
    try org.apache.commons.io.FileUtils.deleteQuietly(tmpRoot)
    finally super.afterAll()

  test("windowed counts: streaming result == batch result") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val batchDf = t(spark, dir, "events")
    val evs = batchDf.as[Ev].collect()

    val stream = MemoryStream[Ev]
    // two micro-batches to exercise incremental state
    val (b1, b2) = evs.splitAt(evs.length / 2)
    stream.addData(b1.toSeq)
    val sdf = stream.toDF()
      .withColumn("tss", EventStream.tsCol)
      .withWatermark("tss", "1 hour")
    val query = EventStream.windowedCounts(sdf)
      .writeStream.format("memory").queryName("wc")
      .outputMode("complete").start()
    try {
      query.processAllAvailable()
      stream.addData(b2.toSeq)
      query.processAllAvailable()
      val streamed = rows(spark.table("wc"))
      val batch = rows(EventStream.windowedCounts(batchDf))
      assert(streamed === batch)
    } finally query.stop()
  }

  test("session windows: streaming (watermarked, append) == batch session_window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val batchDf = t(spark, dir, "events")
    val evs = batchDf.as[Ev].collect()

    def sessions(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(session_window(col("tss"), "30 minutes").as("w"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), col("w.start").as("session_start"),
          col("w.end").as("session_end"), col("n_events"))

    val stream = MemoryStream[Ev]
    // split at the median ts so batch 2 is strictly later data — the
    // realistic arrival order for session state accumulation
    val sorted = evs.sortBy(_.ts)
    val (b1, b2) = sorted.splitAt(sorted.length / 2)
    stream.addData(b1.toSeq)
    val sdf = stream.toDF()
      .withColumn("tss", EventStream.tsCol)
      .withWatermark("tss", "1 hour")
    // append mode: a session row is emitted only once its window closes
    // under the watermark — the production output mode for session aggs
    // (complete mode would re-emit the whole history every micro-batch)
    val query = sessions(sdf)
      .writeStream.format("memory").queryName("sess")
      .outputMode("append").start()
    try {
      query.processAllAvailable()
      stream.addData(b2.toSeq)
      query.processAllAvailable()
      // close out remaining state: advance the watermark past all data
      val last = sorted.last
      stream.addData(Ev(Long.MaxValue, last.ts + 10L * 3600 * 1000000000L,
        -1L, "flush", 0.0, "{}"))
      query.processAllAvailable()
      val streamed = rows(spark.table("sess")
        .filter(col("user_id") =!= -1L))
      val batch = rows(sessions(batchDf.withColumn("tss", EventStream.tsCol)))
      assert(streamed === batch)
    } finally query.stop()
  }

  test("session boundary: an event at EXACTLY the 30-minute gap merges; 1 us past splits") {
    import spark.implicits._
    // Random testdata cannot contain a microsecond-exact 1800 s gap, so
    // the e11 differential can't distinguish > from >= in the oracle's
    // new-session test. Measured (and pinned here): Spark's
    // session_window UNIONS TOUCHING intervals — an event whose time
    // equals the previous session's end (gap == exactly 30:00.000000)
    // MERGES into it; only a strictly larger gap starts a new session.
    // e11's oracle therefore tests `> gap`, and this fixture fails if a
    // future Spark version flips the boundary out from under it.
    val t0 = 1700000000000000L // micros
    val fix = Seq(
      (1L, t0, 7L),
      (2L, t0 + 1800L * 1000000L, 7L), // exactly at A's end → touches → MERGES
      (3L, t0, 8L),
      (4L, t0 + 1800L * 1000000L + 1L, 8L) // 1 us past the gap → NEW session
    ).toDF("event_id", "us", "user_id")
      .select($"event_id", $"user_id", timestamp_micros($"us").as("tss"))
    val sessions = fix
      .groupBy(session_window(col("tss"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select($"user_id", $"n")
      .orderBy($"user_id", $"n")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // user 7: one merged 2-event session; user 8: two singleton sessions
    assert(sessions === Seq((7L, 2L), (8L, 1L), (8L, 1L)),
      "session_window gap-boundary semantics drifted from the pinned " +
        "touch-merges convention (e11's oracle tests strictly > gap)")
  }

  test("UPSTREAM CANARY: count_distinct over session_window over-counts a bridged recurring value") {
    import spark.implicits._
    // a@+0, b@+40min, a@+70min with a 60-min gap: consecutive gaps are
    // 40/30 min → ONE session; true distinct types = {a, b} = 2. Spark
    // 4.1.2's distinct rewrite merges sessions PER DISTINCT VALUE — the
    // two a's are 70 min apart so their fragments never merge, and the
    // final MergingSessions SUMS the fragment counts → 3 (wrong). Found
    // by the T11 session fuzz template, seed 9003 (fz9003_144). If a
    // Spark upgrade makes the first assertion fail, the bug is healed
    // upstream: re-evaluate distinctInSession and the T11 workaround.
    // The broken plan is the MULTI-distinct Expand rewrite (two distinct
    // aggs over different columns) — a single distinct agg takes the
    // distinct-keys-into-partial-agg path, which merges sessions on the
    // full key set and stays correct. Both shapes pinned here.
    val t0 = 1700000000000000L // micros
    // nullable value columns, like a parquet arrival (nullability changes
    // the distinct-rewrite plan — see the assertion messages)
    val fix = Seq(
      (1L, t0, Option("a"), Option(1.0)),
      (2L, t0 + 2400L * 1000000L, Option("b"), Option(2.0)),
      (3L, t0 + 4200L * 1000000L, Option("a"), Option(3.0))
    ).toDF("event_id", "us", "et", "v")
      .select($"event_id", timestamp_micros($"us").as("tss"), $"et", $"v")
      .repartition(2) // distributed input, like a real scan (a collapsed
                      // LocalRelation plans the rewrite differently)
    // NB: select ALL agg columns — pruning the second distinct agg would
    // collapse the plan to the correct single-distinct path and the
    // canary would silently probe the wrong shape
    def agg(nd: org.apache.spark.sql.Column): Seq[(Long, Long)] = fix
      .groupBy(session_window(col("tss"), "60 minutes").as("w"))
      .agg(count(lit(1)).as("n"), nd.as("nd"), countDistinct($"v").as("ndv"))
      .select($"n", $"nd", $"ndv").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(agg(countDistinct($"et")) === Seq((3L, 3L)),
      "Spark's session_window + multi-distinct rewrite now answers differently — " +
        "upstream bug healed or semantics drifted; re-evaluate distinctInSession")
    // the safe set-union form is correct in the SAME multi-distinct plan
    assert(agg(EventStream.distinctInSession($"et")) === Seq((3L, 2L)))
    // and the single-distinct plan is correct even naively (no Expand)
    val single = fix.groupBy(session_window(col("tss"), "60 minutes").as("w"))
      .agg(countDistinct($"et").as("nd")).select($"nd")
      .collect().map(_.getLong(0)).toSeq
    assert(single === Seq(2L))
  }

  test("distinctInSession matches ground truth on the real event stream") {
    import spark.implicits._
    val ev = t(spark, dir, "events")
      .withColumn("tss", timestamp_micros(expr("ts div 1000")))
    // ground truth: lag/gap sessionize (nanos-exact) + exact distinct per sid
    val truth = EventStream.sessionize(t(spark, dir, "events"))
      .groupBy($"user_id", $"session_id")
      .agg(countDistinct($"event_type").as("nd_types"),
           count(lit(1)).as("n_events"))
      .groupBy($"user_id")
      .agg(sum($"nd_types").as("total_nd"), count(lit(1)).as("n_sessions"))
      .orderBy($"user_id")
    val viaWindow = ev
      .groupBy(session_window($"tss", "30 minutes").as("w"), $"user_id")
      .agg(EventStream.distinctInSession($"event_type").as("nd_types"))
      .groupBy($"user_id")
      .agg(sum($"nd_types").as("total_nd"), count(lit(1)).as("n_sessions"))
      .orderBy($"user_id")
    assert(orderedRows(viaWindow) === orderedRows(truth))
  }

  test("hopping windows: streaming result == batch result") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val batchDf = t(spark, dir, "events")
    val evs = batchDf.as[Ev].collect()
    val stream = MemoryStream[Ev]
    val (b1, b2) = evs.splitAt(evs.length / 2)
    stream.addData(b1.toSeq)
    val sdf = stream.toDF()
      .withColumn("tss", EventStream.tsCol)
      .withWatermark("tss", "1 hour")
    val query = EventStream.hoppingCounts(sdf)
      .writeStream.format("memory").queryName("hc")
      .outputMode("complete").start()
    try {
      query.processAllAvailable()
      stream.addData(b2.toSeq)
      query.processAllAvailable()
      assert(rows(spark.table("hc")) === rows(EventStream.hoppingCounts(batchDf)))
    } finally query.stop()
  }

  test("streaming dedupe by event_id within watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = t(spark, dir, "events").as[Ev].take(50)
    val stream = MemoryStream[Ev]
    stream.addData(base.toSeq)
    stream.addData(base.take(20).toSeq) // duplicate replay
    val sdf = stream.toDF()
      .withColumn("tss", EventStream.tsCol)
      .withWatermark("tss", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
    val q = sdf.writeStream.format("memory").queryName("dd")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("dd").count() === 50)
    } finally q.stop()
  }

  test("stream-static dim join: every micro-batch enriches against the static dim, == batch join") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // static dim (event_type → category): in production a broadcast dim
    // re-read per micro-batch; state-free on the stream side, so 100 TB/day
    // throughput costs one broadcast per batch and zero state store
    val dim = Seq(("view", "browse"), ("click", "browse"),
      ("purchase", "convert"), ("signup", "convert")).toDF("event_type", "category")
    val enrich = (df: org.apache.spark.sql.DataFrame) =>
      df.join(broadcast(dim), Seq("event_type"), "left_outer")
        .groupBy(col("category"))
        .agg(count(lit(1)).as("n"), graft.Tables.dsum(col("value"), 2).as("sum_v"))
    val batchDf = t(spark, dir, "events")
    val evs = batchDf.as[Ev].collect()
    val stream = MemoryStream[Ev]
    val (b1, b2) = evs.splitAt(evs.length / 2)
    stream.addData(b1.toSeq)
    val q = enrich(stream.toDF())
      .writeStream.format("memory").queryName("ssj")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      stream.addData(b2.toSeq)
      q.processAllAvailable()
      assert(rows(spark.table("ssj")) === rows(enrich(batchDf)))
    } finally q.stop()
  }

  test("stream-stream interval join == batch interval join") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val batchDf = t(spark, dir, "events").withColumn("tss", EventStream.tsCol)
    val evs = batchDf.drop("tss").as[Ev].collect()

    val sv = MemoryStream[Ev]; val sc = MemoryStream[Ev]
    // both streams carry ALL events (the join filters its side's type) in
    // time order, split into two micro-batches at the median timestamp:
    // views from batch 1 must stay buffered in the join state to meet
    // clicks arriving in batch 2. (Feeding halves in OPPOSITE order per
    // side would instead test watermark LATE-DROP: batch 1 advances the
    // watermark past the old half, and the join correctly discards it.)
    val ordered = evs.sortBy(_.ts)
    val (h1, h2) = ordered.splitAt(ordered.length / 2)
    sv.addData(h1.toSeq); sc.addData(h1.toSeq)
    def wm(s: MemoryStream[Ev]) = s.toDF()
      .withColumn("tss", EventStream.tsCol).withWatermark("tss", "2 hours")
    val q = EventStream.viewClickJoin(wm(sv), wm(sc))
      .writeStream.format("memory").queryName("vcj").outputMode("append").start()
    try {
      q.processAllAvailable()
      sv.addData(h2.toSeq); sc.addData(h2.toSeq)
      q.processAllAvailable()
      val streamed = rows(spark.table("vcj").orderBy("view_event", "click_event"))
      val batch = rows(EventStream.viewClickJoin(batchDf, batchDf)
        .orderBy("view_event", "click_event"))
      assert(batch.nonEmpty)
      assert(streamed === batch)
    } finally q.stop()
  }

  test("stream-stream LEFT OUTER interval join: null rows flush on watermark advance, == batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val batchDf = t(spark, dir, "events").withColumn("tss", EventStream.tsCol)
    val evs = batchDf.drop("tss").as[Ev].collect()
    val ordered = evs.sortBy(_.ts)
    // Flush events advance the watermark past every view's gap so the
    // unmatched (null-click) rows evict from state and emit — the outer
    // join's defining behavior. They must SURVIVE each side's event_type
    // filter: Catalyst pushes that filter BELOW the EventTimeWatermark
    // node, so a row of any other type is discarded before event-time
    // stats collection and advances NOTHING (each side's watermark only
    // ever sees its own type — the global watermark is min(max view ts,
    // max click ts) − delay). The operational lesson for production
    // heartbeats is the same: punctuation rows must be of a type the
    // pipeline doesn't discard pre-watermark. A sentinel user_id keeps
    // them out of the compared output.
    val flushTs = ordered.last.ts + 86400L * 1000000000L
    val flushV = Ev(-1L, flushTs, -1L, "view", 0.0, "")
    val flushC = Ev(-2L, flushTs, -1L, "click", 0.0, "")

    val sv = MemoryStream[Ev]; val sc = MemoryStream[Ev]
    def wm(s: MemoryStream[Ev]) = s.toDF()
      .withColumn("tss", EventStream.tsCol).withWatermark("tss", "2 hours")
    sv.addData(ordered.toSeq); sc.addData(ordered.toSeq)
    val q = EventStream.viewClickAttribution(wm(sv), wm(sc))
      .writeStream.format("memory").queryName("vco").outputMode("append").start()
    try {
      q.processAllAvailable()
      // views newer than the pre-flush watermark minus the gap are still
      // pending in state: their null rows must NOT have emitted yet
      val real = () => spark.table("vco").filter(col("user_id") =!= -1L)
      val nullsBefore = real().filter(col("click_event").isNull).count()
      sv.addData(flushV); sc.addData(flushC)
      q.processAllAvailable()
      val nullsAfter = real().filter(col("click_event").isNull).count()
      assert(nullsAfter > nullsBefore,
        "watermark advance flushed no additional unmatched views")
      val streamed = rows(real())
      val batch = rows(EventStream.viewClickAttribution(batchDf, batchDf))
      assert(batch.exists(_.last == null), "fixture has no unmatched view")
      assert(streamed === batch)
    } finally q.stop()
  }

  test("stream-stream FULL OUTER interval join: both orphan halves emit, == batch") {
    // e19's streaming form: views with no click (click side null, the
    // e17 half) AND clicks attached to no view (view side null — orphan
    // reconciliation) both emit on watermark eviction. Same flush
    // machinery as the left-outer test (rows must survive the
    // pushed-below-watermark type filters).
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val batchDf = t(spark, dir, "events").withColumn("tss", EventStream.tsCol)
    val evs = batchDf.drop("tss").as[Ev].collect().sortBy(_.ts)
    val flushTs = evs.last.ts + 86400L * 1000000000L
    val sv = MemoryStream[Ev]; val sc = MemoryStream[Ev]
    def wm(s: MemoryStream[Ev]) = s.toDF()
      .withColumn("tss", EventStream.tsCol).withWatermark("tss", "2 hours")
    sv.addData(evs.toSeq); sc.addData(evs.toSeq)
    val q = EventStream.viewClickAttribution(wm(sv), wm(sc), joinType = "full_outer")
      .writeStream.format("memory").queryName("vcf").outputMode("append").start()
    try {
      q.processAllAvailable()
      sv.addData(Ev(-1L, flushTs, -1L, "view", 0.0, ""))
      sc.addData(Ev(-2L, flushTs, -1L, "click", 0.0, ""))
      q.processAllAvailable()
      val streamed = rows(spark.table("vcf").filter(col("user_id") =!= -1L))
      val batch = rows(EventStream.viewClickAttribution(batchDf, batchDf,
        joinType = "full_outer"))
      assert(batch.exists(r => r(2) == null), "no unmatched view in fixture")
      assert(batch.exists(r => r(1) == null), "no orphan click in fixture")
      assert(streamed === batch)
    } finally q.stop()
  }

  test("stream-stream LEFT SEMI interval join: converted views emit once, == batch") {
    // e20's streaming form: a view emits on its FIRST match and never
    // again — split the tape at the median ts so some views must wait in
    // state for clicks arriving in batch 2 (e8's buffering shape), and
    // the exactly-once emission shows as set-AND-count equality with the
    // batch semi join.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val batchDf = t(spark, dir, "events").withColumn("tss", EventStream.tsCol)
    val evs = batchDf.drop("tss").as[Ev].collect().sortBy(_.ts)
    val (h1, h2) = evs.splitAt(evs.length / 2)
    val sv = MemoryStream[Ev]; val sc = MemoryStream[Ev]
    def wm(s: MemoryStream[Ev]) = s.toDF()
      .withColumn("tss", EventStream.tsCol).withWatermark("tss", "2 hours")
    sv.addData(h1.toSeq); sc.addData(h1.toSeq)
    val q = EventStream.viewClickConverted(wm(sv), wm(sc))
      .writeStream.format("memory").queryName("vcs").outputMode("append").start()
    try {
      q.processAllAvailable()
      sv.addData(h2.toSeq); sc.addData(h2.toSeq)
      q.processAllAvailable()
      val streamedAll = spark.table("vcs").collect().map(_.toSeq).toSeq
      val batch = rows(EventStream.viewClickConverted(batchDf, batchDf))
      assert(batch.nonEmpty)
      assert(streamedAll.toSet === batch)
      assert(streamedAll.length === batch.size, "a converted view emitted twice")
    } finally q.stop()
  }

  test("stream-stream RIGHT OUTER interval join: orphan clicks emit on watermark eviction, == batch") {
    // e23's streaming form: every click survives; clicks no view preceded
    // within the gap emit null-padded once the watermark passes their
    // potential-match horizon. Same flush machinery as the left-outer arm
    // (sentinel rows survive the pushed-below-watermark type filters).
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val batchDf = t(spark, dir, "events").withColumn("tss", EventStream.tsCol)
    val evs = batchDf.drop("tss").as[Ev].collect().sortBy(_.ts)
    val flushTs = evs.last.ts + 86400L * 1000000000L
    val sv = MemoryStream[Ev]; val sc = MemoryStream[Ev]
    def wm(s: MemoryStream[Ev]) = s.toDF()
      .withColumn("tss", EventStream.tsCol).withWatermark("tss", "2 hours")
    sv.addData(evs.toSeq); sc.addData(evs.toSeq)
    val q = EventStream.viewClickAttribution(wm(sv), wm(sc), joinType = "right_outer")
      .writeStream.format("memory").queryName("vcr").outputMode("append").start()
    try {
      q.processAllAvailable()
      val real = () => spark.table("vcr").filter(col("user_id") =!= -1L)
      val orphansBefore = real().filter(col("view_event").isNull).count()
      sv.addData(Ev(-1L, flushTs, -1L, "view", 0.0, ""))
      sc.addData(Ev(-2L, flushTs, -1L, "click", 0.0, ""))
      q.processAllAvailable()
      val orphansAfter = real().filter(col("view_event").isNull).count()
      assert(orphansAfter > orphansBefore,
        "watermark advance flushed no additional orphan clicks")
      val streamed = rows(real())
      val batch = rows(EventStream.viewClickAttribution(batchDf, batchDf,
        joinType = "right_outer"))
      assert(batch.exists(r => r(1) == null), "no orphan click in fixture")
      assert(streamed === batch)
    } finally q.stop()
  }

  test("dedupeWithinHorizon: streaming dropDuplicatesWithinWatermark == batch shadow, state evicts") {
    // e21's streaming form over a contract-compliant jittered tape: every
    // event re-emitted +10 min later (at-least-once with delay), the
    // COMBINED tape replayed in ts order in chunks. Parity is guaranteed
    // by construction: when a re-emit arrives, every prior chunk's max ts
    // is <= first_ts + 10 min, so the watermark (max − 1 h) cannot have
    // passed first_ts + 1 h — the key's state is still alive and the
    // duplicate drops. The eviction pins are the scale claim: removed > 0
    // (state is NOT append-only) and the post-flush store holds fewer
    // rows than the distinct-id count (old ids left the store).
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val batchDf = t(spark, dir, "events")
    val evs = batchDf.as[Ev].collect()
    val jittered = (evs ++ evs.map(e => e.copy(ts = e.ts + 600000000000L)))
      .sortBy(e => (e.ts, e.event_id))
    val s = MemoryStream[Ev]
    val q = EventStream.dedupeWithinHorizon(s.toDF())
      .writeStream.format("memory").queryName("ddh").outputMode("append").start()
    try {
      jittered.grouped(math.max(1, jittered.length / 4)).foreach { c =>
        s.addData(c.toSeq); q.processAllAvailable()
      }
      val flushTs = jittered.last.ts + 86400L * 1000000000L
      s.addData(Ev(-99L, flushTs, -1L, "view", 0.0, ""))
      q.processAllAvailable()
      val streamed = spark.table("ddh")
        .filter(col("event_id") =!= -99L)
        .select("event_id", "ts", "user_id", "event_type")
      val jitterDf = batchDf.unionAll(
        batchDf.withColumn("ts", col("ts") + lit(600000000000L)))
      val shadow = EventStream.dedupeWithinHorizon(jitterDf)
        .select("event_id", "ts", "user_id", "event_type")
      assert(rows(streamed) === rows(shadow))
      assert(streamed.count() === evs.length.toLong,
        "each id must survive exactly once (the original copy)")
      val progress = q.recentProgress.toSeq
      val removed = progress.flatMap(_.stateOperators.headOption)
        .map(_.numRowsRemoved).sum
      val finalState = progress.flatMap(_.stateOperators.headOption)
        .map(_.numRowsTotal).last
      assert(removed > 0, "dedup key state never evicted — unbounded store")
      assert(finalState < evs.length.toLong,
        s"post-flush state still holds $finalState >= ${evs.length} keys")
    } finally q.stop()
  }

  test("calendarRollup: streaming update mode == batch (exact n/sum, n_users within HLL rsd)") {
    // e22's streaming form: date_trunc month keys cannot close under a
    // watermark (the tag is stripped — see calendarRollup scaladoc), so
    // the stream runs UPDATE mode with key-cardinality-bounded state.
    // The memory sink accumulates every per-trigger update; a key's final
    // row is its max-n update (n is monotone — update mode re-emits a key
    // only when new rows fold in). Two chunks force cross-batch state.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val batchDf = t(spark, dir, "events")
    val evs = batchDf.as[Ev].collect().sortBy(_.ts)
    val (h1, h2) = evs.splitAt(evs.length / 2)
    val s = MemoryStream[Ev]
    val q = EventStream.calendarRollup(s.toDF(), "month")
      .writeStream.format("memory").queryName("cal").outputMode("update").start()
    try {
      s.addData(h1.toSeq); q.processAllAvailable()
      s.addData(h2.toSeq); q.processAllAvailable()
      import org.apache.spark.sql.expressions.Window
      val latest = Window.partitionBy("month_start", "event_type")
        .orderBy(col("n").desc)
      val streamed = spark.table("cal")
        .withColumn("rn", row_number().over(latest))
        .filter(col("rn") === 1).drop("rn")
      val batch = EventStream.calendarRollup(batchDf, "month")
      val joined = streamed.alias("s").join(batch.alias("b"),
        Seq("month_start", "event_type"), "full_outer")
        .select(col("s.n").as("sn"), col("b.n").as("bn"),
          col("s.sum_value").as("ss"), col("b.sum_value").as("bs"),
          col("s.n_users").as("su"), col("b.n_users").as("bu"))
        .collect()
      assert(joined.nonEmpty)
      joined.foreach { r =>
        assert(!r.isNullAt(0) && !r.isNullAt(1), s"key present on one side only: $r")
        assert(r.getLong(0) === r.getLong(1), "streaming n != batch n")
        assert(r.getDouble(2) === r.getDouble(3), "streaming sum != batch sum")
        val (su, bu) = (r.getLong(4).toDouble, r.getLong(5).toDouble)
        assert(math.abs(su - bu) <= math.max(3.0, 0.05 * bu),
          s"HLL n_users estimate $su too far from exact $bu")
      }
    } finally q.stop()
  }

  test("chained stateful aggs: fine window → coarse rollup in ONE append-mode query, == batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val batchDf = t(spark, dir, "events")
    val evs = batchDf.as[Ev].collect().sortBy(_.ts)
    // flush advances the watermark so every fine cell closes, then (same
    // cascade of no-data batches) every coarse window downstream closes.
    // It is NOT filtered out (any filter would be pushed below the
    // EventTimeWatermark node and drop it before stats collection — see
    // the outer-join spec): instead its own fine cell sits a day past
    // everything and never closes, so it never reaches the output.
    val flush = Ev(-1L, evs.last.ts + 86400L * 1000000000L, -1L, "flush", 0.0, "")
    val stream = MemoryStream[Ev]
    val (b1, b2) = evs.splitAt(evs.length / 2)
    stream.addData(b1.toSeq)
    val sdf = stream.toDF()
      .withColumn("tss", EventStream.tsCol).withWatermark("tss", "1 hour")
    val q = EventStream.windowedRollup(sdf)
      .writeStream.format("memory").queryName("rollup")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      stream.addData(b2.toSeq)
      q.processAllAvailable()
      stream.addData(flush)
      q.processAllAvailable()
      val streamed = rows(spark.table("rollup"))
      val batch = rows(EventStream.windowedRollup(batchDf))
      assert(batch.size > 1)
      assert(streamed === batch)
    } finally q.stop()
  }

  test("windowedRollup rejects a non-aligned coarse grain loudly") {
    // 25-min cells straddle hour boundaries: start and end−1µs truncate
    // to different hours, so the rollup row would land in the wrong
    // coarse window — the guard must fire before any plan is built
    val df = t(spark, dir, "events")
    val e = intercept[IllegalArgumentException] {
      EventStream.windowedRollup(df, fine = "25 minutes", coarse = "1 hour")
    }
    assert(e.getMessage.contains("multiple"))
  }

  test("checkpoint restart: dedupe state and source offsets survive a query restart") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = t(spark, dir, "events").orderBy("ts").as[Ev].take(30)
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_ckpt_out").toString

    val stream = MemoryStream[Ev]
    // file sink (memory sink can't recover from a checkpoint)
    def startQuery() = stream.toDF()
      .withColumn("tss", EventStream.tsCol)
      .withWatermark("tss", "30 days") // keep all dedupe state live across the restart
      .dropDuplicatesWithinWatermark("event_id")
      .drop("tss")
      .writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt)
      .outputMode("append").start()

    // run 1: first 20 events
    stream.addData(base.take(20).toSeq)
    val q1 = startQuery()
    try { q1.processAllAvailable() } finally q1.stop()
    assert(spark.read.parquet(outDir).count() === 20)

    // run 2, SAME checkpoint: 10 replayed duplicates + 10 genuinely new
    stream.addData(base.slice(10, 30).toSeq)
    val q2 = startQuery()
    try { q2.processAllAvailable() } finally q2.stop()
    val out = spark.read.parquet(outDir)
    // restored offsets: run-1 batches are not re-written; restored state:
    // the 10 replayed event_ids are dropped — exactly 10 new rows appear
    assert(out.count() === 30)
    val ids = out.select("event_id").as[Long].collect().toSet
    assert(ids === base.map(_.event_id).toSet)
  }

  test("checkpoint restart: the chained dedup→window query resumes BOTH state stores") {
    // e26's chain across a restart: run 1 feeds 60% of the jittered
    // at-least-once tape and stops mid-stream (windows still open,
    // dedup keys still live); run 2 resumes from the SAME checkpoint
    // with the rest — including +10-min re-emits of late run-1 events,
    // which only the RESTORED dedup state can drop — then a flush
    // closes every window. The final file-sink contents must equal the
    // batch composition over the whole tape: a lost dedup key double-
    // counts, a lost window partial undercounts.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val batchDf = t(spark, dir, "events")
    val evs = batchDf.as[Ev].collect()
    val jittered = (evs ++ evs.map(e => e.copy(ts = e.ts + 600000000000L)))
      .sortBy(e => (e.ts, e.event_id))
    val (r1, r2) = jittered.splitAt(jittered.length * 6 / 10)
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt2").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_ckpt2_out").toString

    val stream = MemoryStream[Ev]
    def startQuery() = EventStream.dedupedWindowedCounts(stream.toDF())
      .writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt)
      .outputMode("append").start()

    stream.addData(r1.toSeq)
    val q1 = startQuery()
    try { q1.processAllAvailable() } finally q1.stop()

    stream.addData(r2.toSeq)
    stream.addData(Ev(-99L, jittered.last.ts + 86400L * 1000000000L,
      -1L, "flush", 0.0, ""))
    val q2 = startQuery()
    try { q2.processAllAvailable() } finally q2.stop()

    val streamed = rows(spark.read.parquet(outDir)
      .filter(col("event_type") =!= "flush"))
    val jitterDf = batchDf.unionAll(
      batchDf.withColumn("ts", col("ts") + lit(600000000000L)))
    assert(streamed === rows(EventStream.dedupedWindowedCounts(jitterDf)))
    assert(streamed === rows(EventStream.windowedCounts(batchDf)),
      "restart leaked a duplicate or lost a window partial")
  }

  test("watermark: events older than the advanced watermark are dropped, not double-counted") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ordered = t(spark, dir, "events").orderBy("ts").as[Ev].collect()
    val (old, recent) = ordered.splitAt(ordered.length / 2)

    val stream = MemoryStream[Ev]
    // batch 1: the RECENT half advances the watermark far past the old half
    stream.addData(recent.toSeq)
    val sdf = stream.toDF()
      .withColumn("tss", EventStream.tsCol)
      .withWatermark("tss", "1 minute")
      .dropDuplicatesWithinWatermark("event_id")
    val q = sdf.writeStream.format("memory").queryName("wmld")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val afterRecent = spark.table("wmld").count()
      assert(afterRecent === recent.length)
      // batch 2: the OLD half arrives hours late — every event is behind
      // the watermark and must be discarded by the dedupe state manager
      stream.addData(old.toSeq)
      q.processAllAvailable()
      assert(spark.table("wmld").count() === afterRecent,
        "late events leaked past the watermark")
    } finally q.stop()
  }

  test("RocksDB state store: identical output to the default backend, provider asserted in-progress") {
    // The 100-TB posture claims RocksDB for large keyed state; pin the
    // claim two ways: (a) the SAME stateful aggregation over the SAME
    // two micro-batches produces IDENTICAL rows on both providers — the
    // backend is a storage choice, never a semantics choice; (b) the
    // RocksDB run's progress record carries rocksdb* custom metrics, so
    // the provider was in effect, not silently defaulted.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val evs = t(spark, dir, "events").as[Ev].take(200)

    def run(provider: Option[String], sink: String): (Map[String, Long], Boolean) = {
      val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
      provider.foreach(p =>
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", p))
      try {
        val stream = MemoryStream[Ev]
        val q = stream.toDF()
          .withColumn("tss", EventStream.tsCol)
          .withWatermark("tss", "1 hour")
          .groupBy($"event_type")
          .agg(count(lit(1)).as("n"))
          .writeStream.format("memory").queryName(sink)
          .outputMode("complete").start()
        try {
          val (b1, b2) = evs.splitAt(100)
          stream.addData(b1.toSeq); q.processAllAvailable()
          stream.addData(b2.toSeq); q.processAllAvailable()
          val got = spark.table(sink).collect()
            .map(r => r.getString(0) -> r.getLong(1)).toMap
          val rocksMetrics = q.lastProgress.stateOperators.headOption
            .exists(_.customMetrics.keySet.asScala.exists(_.startsWith("rocksdb")))
          (got, rocksMetrics)
        } finally q.stop()
      } finally prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }

    val (gotDefault, defaultHasRocks) = run(None, "rocks_default")
    val (gotRocks, rocksHasRocks) = run(Some(
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"),
      "rocks_rocksdb")
    val expected = evs.groupBy(_.event_type).map { case (k, v) => k -> v.length.toLong }
    assert(gotDefault === expected)
    assert(gotRocks === gotDefault,
      "state backend changed the query RESULT — providers must be semantics-free")
    assert(rocksHasRocks, "RocksDB run has no rocksdb* custom metrics — provider not in effect")
    assert(!defaultHasRocks, "default run unexpectedly reports rocksdb metrics — conf leaked")
  }

  test("RocksDB provider: chained aggs and the stream-stream outer join match the default backend") {
    // the single-agg cross-provider pin above doesn't cover the two
    // heaviest state users: the dual-stateful chained rollup (two state
    // stores in one query) and the outer interval join (two join state
    // managers + the matched flag the null emission depends on) — pin
    // both so a provider-specific eviction/flag bug can't hide
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val evs = t(spark, dir, "events").as[Ev].collect().sortBy(_.ts)
    val flushTs = evs.last.ts + 86400L * 1000000000L
    val key = "spark.sql.streaming.stateStore.providerClass"

    def withProvider[A](rocks: Boolean)(body: => A): A = {
      val prev = spark.conf.getOption(key)
      if (rocks) spark.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      else spark.conf.unset(key)
      try body finally prev match {
        case Some(p) => spark.conf.set(key, p)
        case None => spark.conf.unset(key)
      }
    }

    def runRollup(sink: String): Set[Seq[Any]] = {
      val stream = MemoryStream[Ev]
      stream.addData(evs.toSeq)
      val q = EventStream.windowedRollup(stream.toDF()
          .withColumn("tss", EventStream.tsCol).withWatermark("tss", "1 hour"))
        .writeStream.format("memory").queryName(sink).outputMode("append").start()
      try {
        q.processAllAvailable()
        stream.addData(Ev(-1L, flushTs, -1L, "flush", 0.0, ""))
        q.processAllAvailable()
        rows(spark.table(sink))
      } finally q.stop()
    }

    def runOuter(sink: String): Set[Seq[Any]] = {
      val sv = MemoryStream[Ev]; val sc = MemoryStream[Ev]
      def wm(s: MemoryStream[Ev]) = s.toDF()
        .withColumn("tss", EventStream.tsCol).withWatermark("tss", "2 hours")
      sv.addData(evs.toSeq); sc.addData(evs.toSeq)
      val q = EventStream.viewClickAttribution(wm(sv), wm(sc))
        .writeStream.format("memory").queryName(sink).outputMode("append").start()
      try {
        q.processAllAvailable()
        sv.addData(Ev(-1L, flushTs, -1L, "view", 0.0, ""))
        sc.addData(Ev(-2L, flushTs, -1L, "click", 0.0, ""))
        q.processAllAvailable()
        rows(spark.table(sink).filter(col("user_id") =!= -1L))
      } finally q.stop()
    }

    val (rollD, outerD) = withProvider(rocks = false) {
      (runRollup("xp_roll_d"), runOuter("xp_outer_d"))
    }
    val (rollR, outerR) = withProvider(rocks = true) {
      (runRollup("xp_roll_r"), runOuter("xp_outer_r"))
    }
    assert(rollD.nonEmpty && outerD.exists(_.last == null))
    assert(rollR === rollD, "chained-agg output differs across state providers")
    assert(outerR === outerD, "outer-join output differs across state providers")
    Seq("xp_roll_d", "xp_outer_d", "xp_roll_r", "xp_outer_r")
      .foreach(v => spark.sql(s"DROP VIEW IF EXISTS $v"))
  }

  test("streaming semantic-dup ingest via foreachBatch == wholesale batch flags") {
    // the ingest-time membership gate (dedup_semantic_ingest's kernel)
    // run as a STREAM: incoming embedding micro-batches probe the
    // STANDING corpus's IVF×PQ index inside a foreachBatch sink. Because
    // each member's verdict depends only on the standing index — never
    // on its batch-mates — any micro-batch split must produce exactly
    // the wholesale call's flags. Tape: the held-out residue split into
    // two micro-batches.
    import spark.implicits._
    import graft.ext.Similarity
    implicit val sqlCtx = spark.sqlContext
    val emb = t(spark, dir, "embeddings")
    val standing = emb.filter(col("vec_id") % 10 =!= 3)
    val held = emb.filter(col("vec_id") % 10 === 3)
      .select($"vec_id", $"embedding").as[VecRow].collect()
    val nl = Similarity.autoNlist(standing.count())
    val np = Similarity.autoNprobe(nl)
    val (cent, cb, idx0) = Similarity.trainAndFuse(standing, nl)
    val idx = idx0.localCheckpoint()
    def flags(df: org.apache.spark.sql.DataFrame): Seq[(Long, Boolean)] =
      Similarity.semanticDupFlags(df, standing, k = 5,
          thresholdE9 = 400000000L, nlist = nl, nprobe = np,
          centroids = Some(cent), codebooks = Some(cb), index = Some(idx))
        .collect().map(r => (r.getLong(0), r.getBoolean(1))).toSeq
    val wholesale = flags(held.toSeq.toDF("vec_id", "embedding"))
    assert(wholesale.exists(_._2) && wholesale.exists(!_._2),
      "fixture should have both dup and non-dup members")

    val got = scala.collection.mutable.ArrayBuffer[(Long, Boolean)]()
    val stream = MemoryStream[VecRow]
    val q = stream.toDF().writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        got.synchronized { got ++= flags(df) }; ()
      }
      .outputMode("append").start()
    try {
      val (b1, b2) = held.splitAt(held.length / 2)
      stream.addData(b1.toSeq); q.processAllAvailable()
      stream.addData(b2.toSeq); q.processAllAvailable()
    } finally q.stop()
    assert(got.sortBy(_._1).toSeq === wholesale.sortBy(_._1),
      "micro-batched flags diverged from the wholesale verdicts")
  }

  test("streaming self-maintaining ANN ingest: the index accretes across micro-batches") {
    // AnnIndex.ingest as the foreachBatch sink — the deployment form of
    // the admission loop: micro-batch 1 is the held-out residue (its
    // survivors are admitted and appended), micro-batch 2 replays two
    // admitted members under fresh ids and must flag them is_dup,
    // which only happens if batch 1's appends are visible to batch 2's
    // probe through the on-disk state.
    import spark.implicits._
    import graft.sources.AnnIndex
    implicit val sqlCtx = spark.sqlContext
    val emb = t(spark, dir, "embeddings")
    val root = new java.io.File(tmpRoot, "graft_annidx_stream_ingest")
    org.apache.commons.io.FileUtils.deleteQuietly(root)
    try {
      AnnIndex.initIngest(emb.filter(col("vec_id") % 10 =!= 3), root.getPath)
      val held = emb.filter(col("vec_id") % 10 === 3)
        .select($"vec_id", $"embedding").as[VecRow].collect()
      val verdicts = scala.collection.mutable.Map[Long, Boolean]()
      val stream = MemoryStream[VecRow]
      val q = stream.toDF().writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          if (!df.isEmpty) {
            val vs = AnnIndex.ingest(root.getPath, df)
              .collect().map(r => r.getLong(0) -> r.getBoolean(1))
            verdicts.synchronized { verdicts ++= vs }
          }
          ()
        }
        .outputMode("append").start()
      try {
        stream.addData(held.toSeq); q.processAllAvailable()
        val admitted = verdicts.synchronized {
          verdicts.filter(!_._2).keys.toSeq.sorted.take(2) }
        assert(admitted.size === 2, "need admitted survivors to replay")
        val copies = held.filter(v => admitted.contains(v.vec_id))
          .map(v => v.copy(vec_id = v.vec_id + 1000000L))
        stream.addData(copies.toSeq); q.processAllAvailable()
        val late = verdicts.synchronized {
          copies.map(c => verdicts(c.vec_id)) }
        assert(late.forall(identity),
          "batch-2 copies of admitted vectors escaped the grown index")
      } finally q.stop()
    } finally org.apache.commons.io.FileUtils.deleteQuietly(root)
  }

  test("foreachBatch idempotent sink: batch-id-keyed writes make replays no-ops") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = t(spark, dir, "events").orderBy("ts").as[Ev].take(40)
    val outDir = java.nio.file.Files.createTempDirectory("graft_fb_out").toFile

    // the exactly-once sink pattern: the batch id keys the write, so a
    // replayed micro-batch (restart re-delivery) lands on an
    // already-committed path and is skipped — at-least-once delivery +
    // idempotent commit = effectively-once output
    def writeBatch(df: org.apache.spark.sql.DataFrame, id: Long): Unit = {
      val dest = new java.io.File(outDir, s"batch_id=$id")
      if (!dest.exists()) df.write.parquet(dest.getPath)
    }

    val stream = MemoryStream[Ev]
    stream.addData(base.take(20).toSeq)
    val q = stream.toDF().writeStream
      .foreachBatch((df: org.apache.spark.sql.DataFrame, id: Long) => writeBatch(df, id))
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      stream.addData(base.drop(20).toSeq)
      q.processAllAvailable()
    } finally q.stop()
    assert(spark.read.parquet(outDir.getPath).count() === 40)

    // simulate the restart re-delivery of batch 0: same data, same id → no-op
    writeBatch(base.take(20).toSeq.toDF(), 0L)
    assert(spark.read.parquet(outDir.getPath).count() === 40)
    // a genuinely new batch id still lands
    writeBatch(base.take(5).toSeq.toDF(), 99L)
    assert(spark.read.parquet(outDir.getPath).count() === 45)
  }

  test("mapGroupsWithState: per-user custom state accumulates across micro-batches") {
    import spark.implicits._
    import graft.streaming.{Event, EventStream}
    implicit val sqlCtx = spark.sqlContext
    val evs = t(spark, dir, "events").as[Event].take(200)
    val stream = MemoryStream[Event]
    val q = EventStream.runningUserStats(stream.toDS())
      .map { case (uid, agg) => (uid, agg.n_events, agg.n_purchases, agg.last_ts) }
      .toDF("user_id", "n_events", "n_purchases", "last_ts")
      .writeStream.format("memory").queryName("us")
      .outputMode("update").start()
    try {
      val (b1, b2) = evs.splitAt(100)
      stream.addData(b1.toSeq); q.processAllAvailable()
      stream.addData(b2.toSeq); q.processAllAvailable()
      // latest state per user (update mode emits one row per batch per key)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("n_events").desc)
      val finalState = spark.table("us")
        .withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
        .select("user_id", "n_events", "n_purchases")
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      // oracle: plain batch aggregation over the same 200 events
      val expected = evs.groupBy(_.user_id).map { case (u, es) =>
        u -> ((es.length.toLong, es.count(_.event_type == "purchase").toLong))
      }
      assert(finalState === expected)
    } finally q.stop()
  }

  test("transformWithState: two independent state vars per user survive micro-batches") {
    // the v2 arbitrary-state API (supersedes mapGroupsWithState): the
    // ValueState counters and the MapState per-type counts are separate
    // state variables under one key — asserted here by replaying two
    // micro-batches and checking BOTH against the plain batch oracle.
    // RocksDB provider is an API requirement for transformWithState.
    import spark.implicits._
    import graft.streaming.{Event, EventStream}
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val evs = t(spark, dir, "events").as[Event].take(200)
      val stream = MemoryStream[Event]
      val q = EventStream.userProfileTws(stream.toDS())
        .toDF("user_id", "event_type", "n_type", "n_total")
        .writeStream.format("memory").queryName("tws")
        .outputMode("update").start()
      try {
        val (b1, b2) = evs.splitAt(100)
        stream.addData(b1.toSeq); q.processAllAvailable()
        stream.addData(b2.toSeq); q.processAllAvailable()
        // latest emission per (user, type) carries the final MapState
        // count; the max n_total per user carries the final ValueState
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id"), col("event_type"))
          .orderBy(col("n_type").desc)
        val gotTypes = spark.table("tws")
          .withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
          .select("user_id", "event_type", "n_type")
          .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
        val gotTotals = spark.table("tws").groupBy(col("user_id"))
          .agg(max(col("n_total")).as("n"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val expTypes = evs.groupBy(e => (e.user_id, e.event_type))
          .map { case (k, es) => k -> es.length.toLong }
        val expTotals = evs.groupBy(_.user_id)
          .map { case (u, es) => u -> es.length.toLong }
        assert(gotTypes === expTypes)
        assert(gotTotals === expTotals)
        // the provider must be IN EFFECT, not merely configured: the
        // progress record's state-operator custom metrics are
        // provider-specific, so a silently-ignored conf (wrong key, typo'd
        // class) would fail here rather than pass on the default backend
        val metrics = q.lastProgress.stateOperators.head.customMetrics
        assert(metrics.keySet.asScala.exists(_.startsWith("rocksdb")),
          s"no rocksdb* custom metric in progress — provider not in effect: ${metrics.keySet}")
      } finally q.stop()
    } finally prev match {
      case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("tws state TTL: an idle key's state expires and restarts; TTLConfig.NONE accumulates") {
    // State TTL is the recency bound for stores whose keys stop arriving
    // (no event-time close to evict by): an expired value reads as
    // absent, so a returning key restarts from zero. Pinned against the
    // NONE arm on the same tape: batch 1 (3 events) → sleep past the
    // TTL → batch 2 (2 events). TTL arm's final emission is 2 (state
    // expired between batches); NONE arm's is 5. The 50 ms TTL against a
    // 1 s sleep keeps the expiry deterministic on any host (expiry is
    // evaluated against the micro-batch's processing timestamp).
    // RocksDB provider (tws API requirement).
    import spark.implicits._
    import graft.streaming.{Event, EventStream}
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val evs = t(spark, dir, "events").as[Event].take(5)
        .map(_.copy(user_id = 1L)) // one key: the arms differ only in TTL
      def emissions(ttlMs: Long, sink: String): Set[Long] = {
        val stream = MemoryStream[Event]
        // NOT processAllAvailable: with TimeMode.ProcessingTime the
        // engine always has another processing-time batch to run
        // (shouldRunAnotherBatch is unconditionally true for
        // processing-time state), so the no-new-data signal it waits on
        // never fires. The processor emits exactly one row per data
        // batch, so bounded row-count polling is the quiescence check.
        def waitRows(atLeast: Int): Unit = {
          val deadline = System.nanoTime() + 120L * 1000000000L
          while (spark.table(sink).count() < atLeast) {
            assert(System.nanoTime() < deadline,
              s"$sink never reached $atLeast emissions")
            Thread.sleep(100)
          }
        }
        val q = EventStream.runningCountsTtl(stream.toDS(), ttlMs)
          .toDF("user_id", "n")
          .writeStream.format("memory").queryName(sink)
          .trigger(org.apache.spark.sql.streaming.Trigger
            .ProcessingTime("100 milliseconds"))
          .outputMode("update").start()
        try {
          stream.addData(evs.take(3).toSeq); waitRows(1)
          Thread.sleep(1000) // >> the 50 ms TTL
          stream.addData(evs.drop(3).toSeq); waitRows(2)
          spark.table(sink).collect().map(_.getLong(1)).toSet
        } finally {
          q.stop(); spark.sql(s"DROP VIEW IF EXISTS $sink")
        }
      }
      // batch 1 emits 3 in both arms; batch 2's emission is the contrast
      assert(emissions(50L, "ttl_on") === Set(3L, 2L),
        "TTL state survived the idle gap — expiry not enforced")
      assert(emissions(0L, "ttl_off") === Set(3L, 5L),
        "NONE state failed to accumulate across batches")
    } finally prev match {
      case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("transformWithState sketch state: incremental fold across micro-batches == one-shot") {
    // The sketch-valued-state processor (e15): user_ids fold into a theta
    // sketch per hour key. Two micro-batches SPLIT WITHIN hours (odd/even
    // event ids, so most hours receive rows in both batches) must end at
    // the same per-hour estimates as the single-batch run — union
    // associativity through the serialized state bytes — and both equal
    // exact COUNT(DISTINCT) because every bucket is in theta's exact
    // regime. RocksDB provider (tws API requirement).
    import spark.implicits._
    import graft.streaming.{Event, EventStream}
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val evs = t(spark, dir, "events").as[Event].take(300)
      val stream = MemoryStream[Event]
      val q = EventStream.hourlyDistinctSketchTws(stream.toDS())
        .toDF("hour_key", "n_users")
        .writeStream.format("memory").queryName("sk_tws")
        .outputMode("update").start()
      try {
        val (b1, b2) = evs.partition(_.event_id % 2 == 0)
        stream.addData(b1.toSeq); q.processAllAvailable()
        stream.addData(b2.toSeq); q.processAllAvailable()
        // estimates only grow (union is monotone): latest == max per key
        val streamed = spark.table("sk_tws").groupBy(col("hour_key"))
          .agg(max(col("n_users")).as("n"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val exact = evs.groupBy(_.ts / 3600000000000L)
          .map { case (h, es) => h -> es.map(_.user_id).distinct.length.toLong }
        assert(streamed === exact,
          "micro-batch sketch fold diverged from exact per-hour distincts")
      } finally q.stop()
    } finally prev match {
      case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("transformWithState KLL state: micro-batch p50 fold stays rank-bounded, n exact") {
    // e16's processor across two micro-batches split within hours: the
    // final per-hour p50 must have exact rank within eps of 0.5 (KLL is
    // internally randomized — the BOUND is the contract, g29's pattern)
    // and the sketch's n must equal the exact per-hour row count (state
    // fold loses nothing). Final emission per hour = the row with max n
    // (n is monotone across batches).
    import spark.implicits._
    import graft.streaming.{Event, EventStream}
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val evs = t(spark, dir, "events").as[Event].take(300)
      val stream = MemoryStream[Event]
      val q = EventStream.hourlyQuantileSketchTws(stream.toDS())
        .toDF("hour_key", "n_sk", "p50")
        .writeStream.format("memory").queryName("kll_tws")
        .outputMode("update").start()
      try {
        val (b1, b2) = evs.partition(_.event_id % 2 == 0)
        stream.addData(b1.toSeq); q.processAllAvailable()
        stream.addData(b2.toSeq); q.processAllAvailable()
        val finals = spark.table("kll_tws")
          .withColumn("rk", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("hour_key")).orderBy(col("n_sk").desc)))
          .filter(col("rk") === 1)
          .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
        val byHour = evs.groupBy(_.ts / 3600000000000L)
        assert(finals.keySet === byHour.keySet)
        byHour.foreach { case (h, es) =>
          val (n, p50) = finals(h)
          assert(n === es.length.toLong, s"hour $h: sketch n=$n != ${es.length}")
          val vals = es.map(_.value)
          val lt = vals.count(_ < p50); val le = vals.count(_ <= p50)
          assert(lt < (0.5 + 0.03) * vals.length && le >= (0.5 - 0.03) * vals.length,
            s"hour $h: p50=$p50 rank interval [$lt,$le] of ${vals.length}")
        }
      } finally q.stop()
    } finally prev match {
      case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("transformWithState initial state: stream warm-starts from the batch backfill") {
    // restart-from-backfill: a batch agg over the FIRST 100 events seeds
    // the state store; the stream replays ONLY the last 100; final state
    // must equal the batch oracle over all 200 — history was never
    // re-streamed. Users absent from the backfill (new today) and users
    // absent from the stream (quiet today) both have to come out right.
    import spark.implicits._
    import graft.streaming.{Event, EventStream}
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val evs = t(spark, dir, "events").orderBy("ts", "event_id")
        .as[Event].take(200)
      val (hist, live) = evs.splitAt(100)
      val backfill = EventStream.profileBackfill(hist.toSeq.toDS())
      val stream = MemoryStream[Event]
      val q = EventStream.userProfileFromBackfill(stream.toDS(), backfill)
        .toDF("user_id", "event_type", "n_type", "n_total")
        .writeStream.format("memory").queryName("twsinit")
        .outputMode("update").start()
      try {
        stream.addData(live.toSeq); q.processAllAvailable()
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id"), col("event_type"))
          .orderBy(col("n_type").desc)
        val gotTypes = spark.table("twsinit")
          .withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
          .select("user_id", "event_type", "n_type")
          .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
        // emissions only happen for (user, type) touched by the stream;
        // assert those reflect history + live combined
        val expAll = evs.groupBy(e => (e.user_id, e.event_type))
          .map { case (k, es) => k -> es.length.toLong }
        val touched = live.map(e => (e.user_id, e.event_type)).toSet
        assert(gotTypes.keySet === touched)
        gotTypes.foreach { case (k, n) =>
          assert(n === expAll(k), s"warm-started count wrong for $k")
        }
        val gotTotals = spark.table("twsinit").groupBy(col("user_id"))
          .agg(max(col("n_total")).as("n"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val expTotals = evs.groupBy(_.user_id)
          .map { case (u, es) => u -> es.length.toLong }
        gotTotals.foreach { case (u, n) =>
          assert(n === expTotals(u), s"warm-started total wrong for user $u")
        }
        // at least one user must genuinely straddle the split, or the
        // warm-start asserted nothing
        assert(live.map(_.user_id).toSet.intersect(hist.map(_.user_id).toSet)
          .nonEmpty, "fixture degenerated: no user straddles the split")
      } finally q.stop()
    } finally prev match {
      case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("state data source: tws state variables are inspectable offline from the checkpoint") {
    // the ops half of arbitrary state: after the job stops, the
    // checkpoint IS a table — spark.read.format(\"statestore\") with
    // stateVarName reads one named state variable without rerunning the
    // stream (debugging / auditing / state migration at 100 TB, where
    // \"rerun and printf\" is not a tool). Asserts the offline read of
    // the `totals` ValueState equals the batch oracle.
    import spark.implicits._
    import graft.streaming.{Event, EventStream}
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val evs = t(spark, dir, "events").as[Event].take(200)
      val ckpt = java.nio.file.Files.createTempDirectory("graft_tws_ckpt").toString
      val stream = MemoryStream[Event]
      val q = EventStream.userProfileTws(stream.toDS())
        .toDF("user_id", "event_type", "n_type", "n_total")
        .writeStream.format("memory").queryName("twsstate")
        .option("checkpointLocation", ckpt)
        .outputMode("update").start()
      try {
        stream.addData(evs.toSeq); q.processAllAvailable()
      } finally q.stop()
      val totals = spark.read.format("statestore")
        .option("path", ckpt).option("stateVarName", "totals").load()
      val got = totals.selectExpr("key.value AS user_id", "value.*")
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      val expected = evs.groupBy(_.user_id).map { case (u, es) =>
        u -> ((es.length.toLong,
          es.map(e => math.floor(e.value * 100 + 0.5).toLong).sum))
      }
      assert(got === expected)
    } finally prev match {
      case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("state data source: e15's persisted sketch BYTES decode offline to exact estimates") {
    // the sketch-state twin of the offline-read test above: after the
    // stream stops, the theta ValueState read from the checkpoint is a
    // column of STANDARD DataSketches bytes — decodable by any consumer
    // (here: heapify on the driver), no stream rerun, no engine-private
    // state format. That is the state-migration/audit contract that
    // makes sketch-valued state usable as an ARTIFACT, not just an
    // implementation detail.
    import spark.implicits._
    import graft.streaming.{Event, EventStream}
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val evs = t(spark, dir, "events").as[Event].take(300)
      val ckpt = java.nio.file.Files.createTempDirectory("graft_sk_ckpt").toString
      val stream = MemoryStream[Event]
      val q = EventStream.hourlyDistinctSketchTws(stream.toDS())
        .toDF("hour_key", "n_users")
        .writeStream.format("memory").queryName("sk_state")
        .option("checkpointLocation", ckpt)
        .outputMode("update").start()
      try {
        stream.addData(evs.toSeq); q.processAllAvailable()
      } finally q.stop()
      val state = spark.read.format("statestore")
        .option("path", ckpt).option("stateVarName", "theta").load()
      val got = state.selectExpr("key.value AS hour_key", "value.value AS sk")
        .collect().map { r =>
          val est = org.apache.datasketches.theta.Sketches.heapifyCompactSketch(
            org.apache.datasketches.memory.Memory.wrap(r.getAs[Array[Byte]](1)))
            .getEstimate
          r.getLong(0) -> math.round(est)
        }.toMap
      val exact = evs.groupBy(_.ts / 3600000000000L)
        .map { case (h, es) => h -> es.map(_.user_id).distinct.length.toLong }
      assert(got === exact,
        "offline-decoded sketch estimates diverged from exact per-hour distincts")
    } finally prev match {
      case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("transformWithState event-time timers: watermark closes sessions, not key-arrival luck") {
    // deterministic fixture in long millis (ts carried as exact nanos):
    //   user 1: 0:00, 0:10 | 1:00, 1:05  -> two sessions at a 30-min gap
    //   user 2: 0:00 | 2:00              -> two single-event sessions
    // batch 1 ends at 1:00; batch 2 carries the rest plus a far-future
    // sentinel (user 99) that drives the watermark past every real
    // timer. Expected: ALL four real sessions emitted — the first three
    // close inline (a later same-user event proves the gap), user 2's
    // last closes ONLY because its timer fired on watermark progress;
    // the sentinel's own session stays open (watermark never passes it).
    import spark.implicits._
    import graft.streaming.{Event, EventStream}
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val t0 = 1704067200000L // 2024-01-01 00:00 UTC, ms
      def ev(id: Long, user: Long, offMin: Long) =
        Event(id, (t0 + offMin * 60000L) * 1000000L, user, "view", 1.0, "{}")
      val b1 = Seq(ev(1, 1, 0), ev(2, 1, 10), ev(3, 2, 0), ev(4, 1, 60))
      val b2 = Seq(ev(5, 1, 65), ev(6, 2, 120),
        ev(99, 99, 100L * 60)) // sentinel: +100 h
      val stream = MemoryStream[Event]
      val input = stream.toDS()
        .withColumn("tss", EventStream.tsCol)
        .withWatermark("tss", "2 hours").as[Event]
      val q = EventStream.sessionCloseTws(input)
        .toDF("user_id", "s_start", "s_end", "n_events")
        .writeStream.format("memory").queryName("twstimer")
        .outputMode("update").start()
      try {
        stream.addData(b1); q.processAllAvailable()
        stream.addData(b2); q.processAllAvailable()
        val got = spark.table("twstimer").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
        def m(off: Long) = t0 + off * 60000L
        val expected = Set(
          (1L, m(0), m(10), 2L),   // inline close (0:10 -> 1:00 gap)
          (1L, m(60), m(65), 2L),  // timer close
          (2L, m(0), m(0), 1L),    // inline close (0:00 -> 2:00 gap)
          (2L, m(120), m(120), 1L)) // timer close
        assert(got === expected)
      } finally q.stop()
    } finally prev match {
      case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("Trigger.AvailableNow: stream drains the backlog as batches then STOPS on its own") {
    // the batch-catchup mode a scheduled pipeline uses: process
    // everything available (respecting maxFilesPerTrigger batching +
    // checkpointed offsets), then terminate — no manual stop, no
    // always-on cluster. awaitTermination returning is the assertion
    // that the trigger self-terminates.
    import graft.pipeline.Lottery
    import org.apache.spark.sql.streaming.Trigger
    val dir = getClass.getResource("/lottery").getPath
    val ckpt = java.nio.file.Files.createTempDirectory("an_ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("an_out").toString + "/o"
    def run(): Unit = {
      val stream = spark.readStream
        .schema(Lottery.crawlSchema)
        .option("maxFilesPerTrigger", 1)
        .option("header", "true")
        .csv(dir)
        .na.drop("any", Seq("prize", "number_value", "full_date"))
        .withColumn("load_timestamp", current_timestamp())
      val q = Lottery.transform(stream)
        .writeStream.format("parquet")
        .option("path", out)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      // stop() is a no-op after normal self-termination but keeps a
      // timed-out query from leaking into the rest of the suite
      try assert(q.awaitTermination(60000), "AvailableNow did not self-terminate")
      finally q.stop()
    }
    run()
    assert(spark.read.parquet(out).count() === 7)
    // second AvailableNow run over the SAME checkpoint: offsets say
    // everything is consumed — drains nothing, still self-terminates
    run()
    assert(spark.read.parquet(out).count() === 7)
  }

  test("lottery transform runs unchanged as a file-source stream") {
    import graft.pipeline.Lottery
    val dir = getClass.getResource("/lottery").getPath
    // same transform code, streaming source (one file per micro-batch)
    val stream = spark.readStream
      .schema(Lottery.crawlSchema)
      .option("maxFilesPerTrigger", 1)
      .option("header", "true")
      .csv(dir)
      .na.drop("any", Seq("prize", "number_value", "full_date"))
      .withColumn("load_timestamp", current_timestamp())
    val q = Lottery.transform(stream)
      .writeStream.format("memory").queryName("lt").outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = rows(spark.table("lt")
        .select("number_value", "full_date", "range_group", "is_weekend", "is_even"))
      val batch = rows(Lottery.transform(Lottery.staging(spark, dir))
        .select("number_value", "full_date", "range_group", "is_weekend", "is_even"))
      assert(streamed === batch)
      assert(spark.table("lt").count() === 7) // dup 09 kept (append stream)
    } finally q.stop()
  }

  test("sessionize: batch nanos-exact form agrees with session_window built-in") {
    import spark.implicits._
    val events = t(spark, dir, "events")
    val viaLag = EventStream.sessionStats(events)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // session_window on the microsecond timestamp; gaps are minutes-scale
    // in this data so µs truncation can't flip a 30-minute boundary here.
    val viaBuiltin = events
      .withColumn("tss", EventStream.tsCol)
      .groupBy(session_window(col("tss"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"), sum(col("n")).as("n_events"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(viaLag === viaBuiltin)
  }

  test("e13: join-aggregate SpGEMM equals a dense driver-side C² reference") {
    // Independent reference: collect the raw events (1k rows at sf0.001),
    // order each user's stream by (ts, event_id) in plain Scala, count
    // transitions, square the dense matrix, and compare against the
    // distributed join-aggregate form the query runs.
    val ev = t(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val c = scala.collection.mutable.Map[(String, String), Long]()
    ev.groupBy(_._1).values.foreach { rows =>
      rows.sortBy(r => (r._2, r._3)).map(_._4)
        .sliding(2).filter(_.size == 2)
        .foreach { p => c((p(0), p(1))) = c.getOrElse((p(0), p(1)), 0L) + 1 }
    }
    val expected = (for {
      ((f, m1), c1) <- c.toSeq
      ((m2, t2), c2) <- c.toSeq if m1 == m2
    } yield ((f, t2), c1 * c2))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
    val got = SparkEntry.queries("e13_transition_matmul")(spark, dir)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == expected, s"SpGEMM mismatch: got $got expected $expected")
  }

  test("chained join→window agg: attribution rollup, two stateful operators, == batch") {
    // e27's streaming form: the inner interval join chained into the
    // tumbling window aggregation in one append query. Flush events on
    // BOTH sides push the watermark past every view's gap AND past the
    // last click-hour, so the join drains and the agg closes every
    // window; the flush pair joins with itself but lands a day out, in a
    // window the batch side excludes by filtering it first.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val batchDf = t(spark, dir, "events").withColumn("tss", EventStream.tsCol)
    val evs = batchDf.drop("tss").as[Ev].collect()
    val ordered = evs.sortBy(_.ts)
    val (h1, h2) = ordered.splitAt(ordered.length / 2)
    val flushTs = ordered.last.ts + 86400L * 1000000000L
    val sv = MemoryStream[Ev]; val sc = MemoryStream[Ev]
    def wm(s: MemoryStream[Ev]) = s.toDF()
      .withColumn("tss", EventStream.tsCol).withWatermark("tss", "2 hours")
    val q = EventStream.attributionRollup(wm(sv), wm(sc))
      .writeStream.format("memory").queryName("arw").outputMode("append").start()
    try {
      sv.addData(h1.toSeq); sc.addData(h1.toSeq); q.processAllAvailable()
      sv.addData(h2.toSeq); sc.addData(h2.toSeq); q.processAllAvailable()
      sv.addData(Ev(-98L, flushTs, -1L, "view", 0.0, ""))
      sc.addData(Ev(-99L, flushTs, -1L, "click", 0.0, ""))
      q.processAllAvailable()
      assert(q.lastProgress.stateOperators.length === 2,
        s"expected join + window agg state operators, got " +
          q.lastProgress.stateOperators.map(_.operatorName).mkString(", "))
      val streamed = rows(spark.table("arw").filter(col("first_view") =!= -98L))
      val batch = rows(EventStream.attributionRollup(batchDf, batchDf))
      assert(batch.nonEmpty)
      assert(streamed === batch)
    } finally q.stop()
  }

  test("chained dedup→window agg: one query, two stateful operators, exactly-once counts") {
    // e26's streaming form: the jittered at-least-once tape through
    // dropDuplicatesWithinWatermark AND the tumbling-window aggregation
    // in ONE append-mode query. Three claims: the progress record shows
    // BOTH stateful operators (the chain is real, not a fused rewrite),
    // the final counts equal the batch composition, and they equal the
    // CLEAN tape's counts (every duplicate died before the aggregation).
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val batchDf = t(spark, dir, "events")
    val evs = batchDf.as[Ev].collect()
    val jittered = (evs ++ evs.map(e => e.copy(ts = e.ts + 600000000000L)))
      .sortBy(e => (e.ts, e.event_id))
    val s = MemoryStream[Ev]
    val q = EventStream.dedupedWindowedCounts(s.toDF())
      .writeStream.format("memory").queryName("ddw").outputMode("append").start()
    try {
      jittered.grouped(math.max(1, jittered.length / 4)).foreach { c =>
        s.addData(c.toSeq); q.processAllAvailable()
      }
      val flushTs = jittered.last.ts + 86400L * 1000000000L
      s.addData(Ev(-99L, flushTs, -1L, "flush", 0.0, ""))
      q.processAllAvailable()
      assert(q.lastProgress.stateOperators.length === 2,
        s"expected dedup + window agg state operators, got " +
          q.lastProgress.stateOperators.map(_.operatorName).mkString(", "))
      val streamed = rows(spark.table("ddw")
        .filter(col("event_type") =!= "flush"))
      val jitterDf = batchDf.unionAll(
        batchDf.withColumn("ts", col("ts") + lit(600000000000L)))
      assert(streamed === rows(EventStream.dedupedWindowedCounts(jitterDf)))
      assert(streamed === rows(EventStream.windowedCounts(batchDf)),
        "chained counts diverged from the clean tape's counts — a duplicate leaked")
    } finally q.stop()
  }

  test("streaming near-dup ingest: first-wins bucket state == batch greedy verdicts") {
    // The ingest-dedup twin (dedup_ingest_greedy's streaming form): the
    // SAME map-only nearDupBuckets transform runs over a MemoryStream of
    // documents, verdicts come from per-bucket first-wins ValueState, and
    // — because the batches are fed in ascending doc_id ranges, the order
    // the greedy batch form fixes — the dropped set must be IDENTICAL.
    // The split is mid-corpus so cross-batch collisions exist (a doc in
    // b2 colliding with a bucket claimed in b1 exercises state, not just
    // within-batch mins). RocksDB provider (tws API requirement).
    import spark.implicits._
    import graft.ext.{BucketHit, Dedup}
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val docs = t(spark, dir, "documents").select("doc_id", "text")
        .as[(Long, String)].collect().map(d => DocRow(d._1, d._2)).sortBy(_.doc_id)
      val stream = MemoryStream[DocRow]
      val hits = Dedup.nearDupBuckets(stream.toDF()).as[BucketHit]
      val q = Dedup.streamingNearDupFlags(hits)
        .toDF("doc_id", "kept_in_bucket")
        .writeStream.format("memory").queryName("neardup")
        .outputMode("update").start()
      try {
        val (b1, b2) = docs.splitAt(docs.length / 2)
        stream.addData(b1.toSeq); q.processAllAvailable()
        stream.addData(b2.toSeq); q.processAllAvailable()
        val droppedStream = spark.table("neardup")
          .filter(!col("kept_in_bucket"))
          .select("doc_id").distinct()
          .collect().map(_.getLong(0)).toSet
        val droppedBatch = Dedup.neardupDropped(t(spark, dir, "documents"))
          .collect().map(_.getLong(0)).toSet
        assert(droppedStream === droppedBatch)
        assert(droppedBatch.nonEmpty, "fixture has no near-dups — differential is vacuous")
        // cross-batch state must actually decide something: at least one
        // dropped doc lives in b2 while the corpus-wide greedy also drops
        // it (its bucket owner may sit in b1)
        assert(droppedBatch.exists(d => b2.exists(_.doc_id == d)),
          "no dropped doc in the second batch — split exercises no state")
      } finally q.stop()
    } finally prev match {
      case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("near-dup bucket TTL: expired buckets re-admit twins; NONE keeps dropping them") {
    // The bounded-store arm of streaming ingest dedup: batch 1 claims
    // every bucket, batch 2 replays the SAME TEXTS under offset doc_ids
    // after an idle gap >> the TTL. With TTL the claims expired, so
    // batch 2 re-plays batch 1's internal greedy outcome as if fresh
    // (dropped set = the batch-greedy dropped set, offset); with NONE
    // every batch-2 twin collides with its batch-1 original's buckets
    // and drops. This is the recall-for-boundedness trade the TTL
    // documents. RocksDB provider (tws API requirement).
    import spark.implicits._
    import graft.ext.{BucketHit, Dedup}
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val texts = t(spark, dir, "documents").select("doc_id", "text")
        .as[(Long, String)].take(10).map(d => DocRow(d._1, d._2))
      val offset = 1000000L
      val twins = texts.map(d => DocRow(d.doc_id + offset, d.text))
      val b1df = texts.toSeq.toDF("doc_id", "text")
      // expected contrasts, computed batch-side
      val sigIds = Dedup.nearDupBuckets(b1df).select("doc_id").distinct()
        .collect().map(_.getLong(0)).toSet
      val greedyDropped = Dedup.neardupDropped(b1df)
        .collect().map(_.getLong(0)).toSet
      val rowsPerBatch = Dedup.nearDupBuckets(b1df).count()

      def droppedTwins(ttlMs: Long, sink: String): Set[Long] = {
        val stream = MemoryStream[DocRow]
        val hits = Dedup.nearDupBuckets(stream.toDF()).as[BucketHit]
        def waitRows(atLeast: Long): Unit = {
          val deadline = System.nanoTime() + 120L * 1000000000L
          while (spark.table(sink).count() < atLeast) {
            assert(System.nanoTime() < deadline,
              s"$sink never reached $atLeast emissions")
            Thread.sleep(100)
          }
        }
        val q = Dedup.streamingNearDupFlags(hits, ttlMs)
          .toDF("doc_id", "kept")
          .writeStream.format("memory").queryName(sink)
          .trigger(org.apache.spark.sql.streaming.Trigger
            .ProcessingTime("100 milliseconds"))
          .outputMode("update").start()
        try {
          stream.addData(texts.toSeq); waitRows(rowsPerBatch)
          // the idle gap must dwarf the TTL (so the TTL arm's claims are
          // certainly expired) while the TTL itself must dwarf batch-1's
          // own processing time (so in-batch claims can't expire mid-batch
          // on a loaded host and shrink the greedy dropped set): 500 ms
          // TTL << 5 s gap, and a 10-doc micro-batch processes in far
          // less than 500 ms even under CI contention
          Thread.sleep(5000)
          stream.addData(twins.toSeq); waitRows(rowsPerBatch * 2)
          spark.table(sink).filter(!col("kept") && col("doc_id") >= offset)
            .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
        } finally {
          q.stop(); spark.sql(s"DROP VIEW IF EXISTS $sink")
        }
      }
      assert(droppedTwins(0L, "nd_ttl_off") === sigIds.map(_ + offset),
        "NONE arm: some twin escaped its original's buckets")
      assert(droppedTwins(500L, "nd_ttl_on") === greedyDropped.map(_ + offset),
        "TTL arm: expired buckets did not re-admit the twins")
    } finally prev match {
      case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("streaming CDC latest-wins: emissions are exactly the per-key prefix maxima") {
    // cdcLatestTws (e25's streaming twin) fed OUT OF ORDER: batch 1 is
    // the LATER half of the timeline, batch 2 the earlier half, so most
    // batch-2 rows are stale and must be ABSORBED (update suppression —
    // no emission), while any batch-2 key unseen in batch 1 must emit.
    // Expected emissions are computed independently per key: one per
    // batch whose (ts, event_id) max strictly advances the state.
    import spark.implicits._
    import graft.streaming.{Event, EventStream}
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val evs = t(spark, dir, "events").as[Event].collect()
        .sortBy(e => (e.ts, e.event_id))
      val (earlier, later) = evs.splitAt(evs.length / 2)
      val stream = MemoryStream[Event]
      val q = EventStream.cdcLatestTws(stream.toDS())
        .toDF("user_id", "ts", "event_id", "value")
        .writeStream.format("memory").queryName("cdc")
        .outputMode("update").start()
      try {
        stream.addData(later.toSeq); q.processAllAvailable()
        stream.addData(earlier.toSeq); q.processAllAvailable()
        val got = spark.table("cdc")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          .groupBy(_._1).view.mapValues(_.map(e => (e._2, e._3)).toSet).toMap
        val expected = evs.map(_.user_id).distinct.map { u =>
          var st = Option.empty[(Long, Long)]
          val out = Seq(later, earlier).flatMap { b =>
            val rows = b.filter(_.user_id == u)
            if (rows.isEmpty) None
            else {
              val m = rows.map(e => (e.ts, e.event_id)).max
              if (st.forall(s => implicitly[Ordering[(Long, Long)]].gt(m, s))) {
                st = Some(m); Some(m)
              } else None
            }
          }.toSet
          u -> out
        }.toMap
        assert(got === expected)
        // the final latest per key equals the batch argmax (e25's form)
        val finals = got.view.mapValues(_.max).toMap
        val batchMax = evs.groupBy(_.user_id)
          .view.mapValues(_.map(e => (e.ts, e.event_id)).max).toMap
        assert(finals === batchMax)
        // stale-absorption is actually exercised: some key present in
        // BOTH batches emits only once (its batch-2 rows all lost to
        // batch-1 state)
        val inBoth = earlier.map(_.user_id).toSet
          .intersect(later.map(_.user_id).toSet)
        assert(inBoth.exists(u => expected(u).size == 1),
          "every two-batch key emitted twice — suppression never exercised")
      } finally q.stop()
    } finally prev match {
      case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }
}
