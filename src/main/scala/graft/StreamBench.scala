package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.{Event, EventStream}

/** Streaming-tier scale evidence: the `e*` queries' 100 TB/day posture is
  * "one shuffle per transform, state bounded by the watermark, eviction
  * keeps the store at the in-horizon working set" — this main turns that
  * from scaladoc into MEASURED curves, the streaming counterpart of
  * ScaleBench's dedup/ANN modes.
  *
  * Input: sf `events` scaled ×factor by copy-offsetting event_id/user_id
  * (ts untouched, so the event-time span and watermark horizon are
  * IDENTICAL at every factor — volume grows, time doesn't). Replayed in
  * event-time order as `chunks` MemoryStream micro-batches (the realistic
  * arrival order the specs use), watermark 1 hour, APPEND mode — the
  * production mode where closed windows/sessions are emitted once and
  * their state is evicted.
  *
  * Two arms per factor:
  *  - windowed_counts: tumbling 1 h × event_type — state keys are
  *    (window, type): the in-horizon working set is CONSTANT in factor;
  *  - sessions: session_window 30 min × user_id — state keys are open
  *    sessions: the working set grows with the ×factor user population
  *    but stays bounded by the horizon, never by total input.
  *
  * Per (arm, factor) one JSON line: input rows, wall seconds, rows/sec,
  * max state rows across micro-batches (the store's high-water mark),
  * state rows removed (eviction actually firing), emitted rows. The
  * PERF.md §streaming table quotes these; the scale claim is
  * max_state_rows ≪ n_input with removals ≈ closed windows/sessions,
  * and per-row cost flat-or-amortizing as volume grows.
  *
  * A third mode (`runMain graft.StreamBench [sfDir] state [factors...]`)
  * measures the DISTINCT-COUNT STATE contrast behind e15: per-hour
  * distinct users kept exactly (streaming dropDuplicates — one state row
  * per distinct (hour, user) pair, so the store grows with user
  * cardinality) vs kept as sketch-valued tws state (one ~KB theta row
  * per hour — CONSTANT in cardinality). Both arms must agree on every
  * per-hour count (the ×16 per-hour cardinality still sits under theta's
  * exact 4096); the reported `max_state_rows` curve is the 100-TB
  * argument in one number.
  *
  * A fourth mode (`runMain graft.StreamBench [sfDir] join [factors...]`)
  * measures the stream-stream LEFT OUTER interval join (e17): both tapes
  * replayed chunked, watermark 1 h, gap 30 min. The store holds only the
  * in-horizon view/click rows of each side (eviction continuous), so
  * `max_state_rows` tracks the horizon's share of the tape — constant in
  * TIME, scaling only with per-horizon volume — while `null_rows` counts
  * the outer emissions that watermark progress flushed.
  *
  * A fifth mode (`runMain graft.StreamBench [sfDir] dedup [factors...]`)
  * measures the e21 ingest-dedup state contrast: a jittered at-least-once
  * tape (every event re-emitted +10 min) through dedupeWithinHorizon
  * (key state bounded by the 1 h horizon, continuous eviction) vs plain
  * dropDuplicates (state = every id ever seen, growing with the factor
  * forever). Identical output both arms; `max_state_rows` is the claim.
  *
  * A sixth mode (`runMain graft.StreamBench [sfDir] cdc [factors...]`)
  * measures the e25 latest-wins apply: events-per-key scaling (the
  * change-feed shape), claims state = O(keys) flat across factors and
  * emitted rows bounded by per-batch prefix maxima (update suppression),
  * with the final per-key latest pinned against the in-driver argmax.
  *
  * A seventh mode (`runMain graft.StreamBench [sfDir] neardup
  * [factors...]`) measures the streaming greedy ingest dedup's actual
  * state store: live buckets (one long each) over the ×factor corpus,
  * dropped set pinned against the batch greedy.
  *
  * The `annins` mode measures the self-maintaining ANN ingest loop on
  * the SATURATION path (exact-copy replays → dup rate ~100% after
  * replay 1: state stops growing, cost ∝ survivors); `anninsgrow` is
  * its GROWTH-path complement (rotated replays, threshold above max
  * cosine → every member admitted: per-batch wall must stay flat while
  * the index grows linearly). PERF.md §annins / §anninsgrow.
  *
  * Usage: runMain graft.StreamBench [sfDir] [factors...] (default 1 4 16)
  */
object StreamBench {

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val stateMode = args.contains("state")
    val joinMode = args.contains("join")
    val factors = {
      val fs = args.drop(1).toSeq
        .filterNot(Set("state", "join", "dedup", "cdc", "neardup", "annins",
          "anninsgrow"))
        .map(_.toInt)
      if (fs.nonEmpty) fs else Seq(1, 4, 16)
    }
    val chunks = 16
    val spark = Session.local(32)
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // one driver-side base collect (100k rows at sf0.1); factor copies are
    // in-driver offsets so every factor replays the same event-time tape
    val base = Tables.t(spark, dir, "events").as[Event].collect().sortBy(_.ts)

    def scaled(f: Int): Array[Event] = {
      val out = Array.ofDim[Event](base.length * f)
      var i = 0
      base.foreach { e =>
        var k = 0
        while (k < f) {
          out(i) = e.copy(event_id = e.event_id + k.toLong * 1000000000L,
            user_id = e.user_id + k.toLong * 1000000L)
          i += 1; k += 1
        }
      }
      out // ts-sorted because base is and copies share each ts
    }

    def sessions(df: DataFrame): DataFrame =
      df.groupBy(session_window(col("tss"), "30 minutes").as("w"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), col("w.start").as("session_start"),
          col("w.end").as("session_end"), col("n_events"))

    def run(arm: String, f: Int, dropFlush: org.apache.spark.sql.Column,
            mk: DataFrame => DataFrame): Unit = {
      val evs = scaled(f)
      val stream = MemoryStream[Event]
      val sdf = stream.toDF()
        .withColumn("tss", EventStream.tsCol)
        .withWatermark("tss", "1 hour")
      val name = s"sb_${arm}_$f"
      val query = mk(sdf)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        val per = math.max(1, evs.length / chunks)
        val t0 = System.nanoTime()
        evs.grouped(per).foreach { chunk =>
          stream.addData(chunk.toSeq)
          query.processAllAvailable()
        }
        // advance the watermark past all data so the tail state closes —
        // the tape's end-of-day flush, excluded from the output below
        stream.addData(Event(Long.MaxValue,
          evs.last.ts + 10L * 3600 * 1000000000L, -1L, "flush", 0.0, "{}"))
        query.processAllAvailable()
        val wall = (System.nanoTime() - t0) / 1e9
        val progress = query.recentProgress.toSeq
        val inputRows = progress.map(_.numInputRows).sum - 1 // minus flush
        val maxState = progress.flatMap(_.stateOperators.headOption)
          .map(_.numRowsTotal).max
        val removed = progress.flatMap(_.stateOperators.headOption)
          .map(_.numRowsRemoved).sum
        val out = spark.table(name).filter(dropFlush).count()
        println(s"""{"op":"stream_$arm","factor":$f,"n_input":$inputRows,""" +
          s""""wall_sec":${Fmt.num(wall, 3)},""" +
          s""""rows_per_sec":${Fmt.num(inputRows / wall, 0)},""" +
          s""""micro_batches":${progress.size},"max_state_rows":$maxState,""" +
          s""""state_rows_removed":$removed,"out_rows":$out}""")
      } finally {
        query.stop()
        spark.sql(s"DROP VIEW IF EXISTS $name")
      }
    }

    // state mode: the exact-vs-sketch distinct state contrast (see
    // object scaladoc). Chunked replay like run(); reports the state
    // high-water mark and asserts the two arms' final per-hour counts
    // agree exactly.
    def runStateArm(f: Int): Unit = {
      val evs = scaled(f)
      val per = math.max(1, evs.length / chunks)

      def drive(arm: String, mkQuery: MemoryStream[Event] =>
          org.apache.spark.sql.streaming.StreamingQuery): (Double, Long, String) = {
        val stream = MemoryStream[Event]
        val q = mkQuery(stream)
        try {
          val t0 = System.nanoTime()
          evs.grouped(per).foreach { c =>
            stream.addData(c.toSeq); q.processAllAvailable()
          }
          val wall = (System.nanoTime() - t0) / 1e9
          val maxState = q.recentProgress.toSeq
            .map(_.stateOperators.map(_.numRowsTotal).sum).max
          (wall, maxState, s"sb_state_${arm}_$f")
        } finally q.stop()
      }

      // exact arm: dropDuplicates on (hour_key, user_id) — the state IS
      // the distinct pair set — then per-hour counts (update mode; the
      // last emission per hour is the final count)
      val (wE, stE, tE) = drive("exact", st => st.toDF()
        .withColumn("tss", EventStream.tsCol)
        .withColumn("hour_key", expr("ts div 3600000000000"))
        .dropDuplicates("hour_key", "user_id")
        .groupBy(col("hour_key")).agg(count(lit(1)).as("n_users"))
        .writeStream.format("memory").queryName(s"sb_state_exact_$f")
        .outputMode("update").start())

      // sketch arm: e15's processor — one theta row per hour in state
      val (wS, stS, tS) = drive("sketch", st =>
        EventStream.hourlyDistinctSketchTws(st.toDS())
          .toDF("hour_key", "n_users")
          .writeStream.format("memory").queryName(s"sb_state_sketch_$f")
          .outputMode("update").start())

      def finalCounts(table: String): Map[Long, Long] =
        spark.table(table).groupBy(col("hour_key"))
          .agg(max(col("n_users")).as("n"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val agree = finalCounts(tE) == finalCounts(tS)
      println(s"""{"op":"state_distinct_exact","factor":$f,""" +
        s""""wall_sec":${Fmt.num(wE, 3)},"max_state_rows":$stE,"agree":$agree}""")
      println(s"""{"op":"state_distinct_sketch","factor":$f,""" +
        s""""wall_sec":${Fmt.num(wS, 3)},"max_state_rows":$stS,"agree":$agree}""")
      spark.sql(s"DROP VIEW IF EXISTS $tE")
      spark.sql(s"DROP VIEW IF EXISTS $tS")
    }

    // join mode: the e17 LEFT OUTER interval join's state curve (see
    // object scaladoc). Both tapes chunk-replayed in lockstep.
    def runJoinArm(f: Int): Unit = {
      val evs = scaled(f)
      val per = math.max(1, evs.length / chunks)
      val sv = MemoryStream[Event]; val sc = MemoryStream[Event]
      def wm(s: MemoryStream[Event]) = s.toDF()
        .withColumn("tss", EventStream.tsCol).withWatermark("tss", "1 hour")
      val name = s"sb_join_$f"
      val q = EventStream.viewClickAttribution(wm(sv), wm(sc))
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        val t0 = System.nanoTime()
        evs.grouped(per).foreach { c =>
          sv.addData(c.toSeq); sc.addData(c.toSeq); q.processAllAvailable()
        }
        // timer stops BEFORE the flush batch so rows_per_sec divides the
        // replayed-row count by the time spent processing exactly those
        // rows (the flush pair is subtracted from inputRows below)
        val wall = (System.nanoTime() - t0) / 1e9
        // the tail flush must SURVIVE each side's event_type filter
        // (Catalyst pushes it below EventTimeWatermark — StreamingSpec's
        // outer-join lesson): a far-future view left, click right, with a
        // sentinel user kept out of the reported output
        val fTs = evs.last.ts + 10L * 3600 * 1000000000L
        sv.addData(Event(Long.MaxValue, fTs, -1L, "view", 0.0, "{}"))
        sc.addData(Event(Long.MaxValue - 1, fTs, -1L, "click", 0.0, "{}"))
        q.processAllAvailable()
        val progress = q.recentProgress.toSeq
        val inputRows = progress.map(_.numInputRows).sum - 2 // minus flush
        val maxState = progress.flatMap(_.stateOperators.headOption)
          .map(_.numRowsTotal).max
        val removed = progress.flatMap(_.stateOperators.headOption)
          .map(_.numRowsRemoved).sum
        val real = spark.table(name).filter(col("user_id") =!= -1L)
        val out = real.count()
        val nulls = real.filter(col("click_event").isNull).count()
        println(s"""{"op":"stream_outer_join","factor":$f,"n_input":$inputRows,""" +
          s""""wall_sec":${Fmt.num(wall, 3)},""" +
          s""""rows_per_sec":${Fmt.num(inputRows / wall, 0)},""" +
          s""""micro_batches":${progress.size},"max_state_rows":$maxState,""" +
          s""""state_rows_removed":$removed,"out_rows":$out,"null_rows":$nulls}""")
      } finally {
        q.stop()
        spark.sql(s"DROP VIEW IF EXISTS $name")
      }
    }

    if (joinMode) {
      factors.foreach(runJoinArm)
      spark.stop(); return
    }

    if (stateMode) {
      val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try factors.foreach(runStateArm)
      finally prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
      spark.stop(); return
    }

    // dedup mode: the e21 ingest-dedup state contrast. The tape is
    // replayed with a +10-min jittered re-emit of every event (2× input),
    // chunked in ts order. Horizon arm: dedupeWithinHorizon — key state
    // holds only ids first seen within the last hour (eviction
    // continuous), so max_state_rows tracks the horizon's share of the
    // tape and is the 100 TB/day argument. Unbounded arm: plain
    // dropDuplicates("event_id") — identical output, but state = EVERY id
    // ever seen, growing with factor forever (the operator e21 exists to
    // replace). Both arms must emit exactly n_ids rows.
    def runDedupArm(f: Int): Unit = {
      val evsBase = scaled(f)
      val evs = (evsBase ++ evsBase.map(e =>
        e.copy(ts = e.ts + 600000000000L))).sortBy(e => (e.ts, e.event_id))
      val nIds = evsBase.length.toLong
      val per = math.max(1, evs.length / chunks)

      def drive(arm: String, mk: DataFrame => DataFrame): Unit = {
        val stream = MemoryStream[Event]
        val name = s"sb_dedup_${arm}_$f"
        val q = mk(stream.toDF())
          .writeStream.format("memory").queryName(name)
          .outputMode("append").start()
        try {
          val t0 = System.nanoTime()
          evs.grouped(per).foreach { c =>
            stream.addData(c.toSeq); q.processAllAvailable()
          }
          val wall = (System.nanoTime() - t0) / 1e9
          stream.addData(Event(Long.MaxValue,
            evs.last.ts + 10L * 3600 * 1000000000L, -1L, "flush", 0.0, "{}"))
          q.processAllAvailable()
          val progress = q.recentProgress.toSeq
          val inputRows = progress.map(_.numInputRows).sum - 1
          val maxState = progress.flatMap(_.stateOperators.headOption)
            .map(_.numRowsTotal).max
          val removed = progress.flatMap(_.stateOperators.headOption)
            .map(_.numRowsRemoved).sum
          val out = spark.table(name).filter(col("user_id") =!= -1L).count()
          println(s"""{"op":"stream_dedup_$arm","factor":$f,"n_input":$inputRows,""" +
            s""""wall_sec":${Fmt.num(wall, 3)},""" +
            s""""rows_per_sec":${Fmt.num(inputRows / wall, 0)},""" +
            s""""max_state_rows":$maxState,"state_rows_removed":$removed,""" +
            s""""out_rows":$out,"out_expected":$nIds,"exact":${out == nIds}}""")
        } finally {
          q.stop()
          spark.sql(s"DROP VIEW IF EXISTS $name")
        }
      }

      drive("horizon", df => EventStream.dedupeWithinHorizon(df))
      drive("unbounded", df => df.withColumn("tss", EventStream.tsCol)
        .withWatermark("tss", "1 hour").dropDuplicates("event_id"))
    }

    if (args.contains("dedup")) {
      factors.foreach(runDedupArm)
      spark.stop(); return
    }

    // cdc mode: the e25 latest-wins apply's state/suppression curve. This
    // mode scales EVENTS PER KEY (same users, new event ids, ts spread by
    // +7 min per copy) — the change-feed shape where a key updates many
    // times — so the measured claim is twofold: max_state_rows stays FLAT
    // at the key cardinality while input grows ×f (state is O(keys), not
    // O(changes)), and n_emitted / n_input falls with f (update
    // suppression: only prefix-maxima per key per micro-batch emit — the
    // downstream sink sees a bounded upsert stream, not the firehose).
    def runCdcArm(f: Int): Unit = {
      val evs = (0 until f).flatMap { k =>
        base.map(e => e.copy(event_id = e.event_id + k.toLong * 1000000000L,
          ts = e.ts + k.toLong * 420000000000L))
      }.sortBy(e => (e.ts, e.event_id)).toArray
      val nKeys = base.map(_.user_id).distinct.length.toLong
      val per = math.max(1, evs.length / chunks)
      val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        val stream = MemoryStream[Event]
        val name = s"sb_cdc_$f"
        val q = EventStream.cdcLatestTws(stream.toDS())
          .toDF("user_id", "ts", "event_id", "value")
          .writeStream.format("memory").queryName(name)
          .outputMode("update").start()
        try {
          val t0 = System.nanoTime()
          evs.grouped(per).foreach { c =>
            stream.addData(c.toSeq); q.processAllAvailable()
          }
          val wall = (System.nanoTime() - t0) / 1e9
          val progress = q.recentProgress.toSeq
          val inputRows = progress.map(_.numInputRows).sum
          val maxState = progress.flatMap(_.stateOperators.headOption)
            .map(_.numRowsTotal).max
          val emitted = spark.table(name).count()
          // correctness inline: final latest per key == batch argmax
          val finalByKey = spark.table(name)
            .groupBy(col("user_id"))
            .agg(max(struct(col("ts"), col("event_id"))).as("m"))
            .select(col("user_id"), col("m.ts"), col("m.event_id"))
            .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
          val exact = evs.groupBy(_.user_id)
            .map { case (u, es) => u -> es.map(e => (e.ts, e.event_id)).max }
          println(s"""{"op":"stream_cdc_latest","factor":$f,"n_input":$inputRows,""" +
            s""""wall_sec":${Fmt.num(wall, 3)},""" +
            s""""rows_per_sec":${Fmt.num(inputRows / wall, 0)},""" +
            s""""max_state_rows":$maxState,"n_keys":$nKeys,""" +
            s""""n_emitted":$emitted,""" +
            s""""suppression":${Fmt.num(1.0 - emitted.toDouble / inputRows, 4)},""" +
            s""""exact":${finalByKey == exact}}""")
        } finally {
          q.stop()
          spark.sql(s"DROP VIEW IF EXISTS $name")
        }
      } finally prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }

    if (args.contains("cdc")) {
      factors.foreach(runCdcArm)
      spark.stop(); return
    }

    // neardup mode: the streaming greedy ingest dedup's ACTUAL store,
    // measured. The ×factor corpus (ScaleBench.scaledDocs — copies are
    // fresh document populations) streams through nearDupBuckets → the
    // first-wins tws in doc_id-ordered chunks; max_state_rows is the
    // live-bucket count (ONE long each — the d²-free near-dup state
    // bound), and the dropped set must equal the batch greedy's
    // (`exact`). State grows linearly with corpus by design: the claim
    // is the CONSTANT (≈16 longs per signed doc), not eviction.
    def runNearDupArm(f: Int): Unit = {
      val docsDf = ScaleBench.scaledDocs(spark,
        Tables.t(spark, dir, "documents"), f)
      val docs = docsDf.select(col("doc_id"), col("text"))
        .as[(Long, String)].collect().sortBy(_._1)
      val expected = graft.ext.Dedup.neardupDropped(docsDf)
        .collect().map(_.getLong(0)).toSet
      val per = math.max(1, docs.length / chunks)
      val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        val stream = MemoryStream[(Long, String)]
        val name = s"sb_nd_$f"
        val hits = graft.ext.Dedup
          .nearDupBuckets(stream.toDS().toDF("doc_id", "text"))
          .as[graft.ext.BucketHit]
        val q = graft.ext.Dedup.streamingNearDupFlags(hits)
          .toDF("doc_id", "kept")
          .writeStream.format("memory").queryName(name)
          .outputMode("update").start()
        try {
          val t0 = System.nanoTime()
          docs.grouped(per).foreach { c =>
            stream.addData(c.toSeq); q.processAllAvailable()
          }
          val wall = (System.nanoTime() - t0) / 1e9
          val progress = q.recentProgress.toSeq
          val inputDocs = progress.map(_.numInputRows).sum
          val maxState = progress.flatMap(_.stateOperators.headOption)
            .map(_.numRowsTotal).max
          val dropped = spark.table(name).filter(!col("kept"))
            .select("doc_id").distinct()
            .collect().map(_.getLong(0)).toSet
          println(s"""{"op":"stream_neardup","factor":$f,"n_docs":${docs.length},""" +
            s""""n_input_docs":$inputDocs,"wall_sec":${Fmt.num(wall, 3)},""" +
            s""""docs_per_sec":${Fmt.num(docs.length / wall, 0)},""" +
            s""""max_state_rows":$maxState,"n_dropped":${dropped.size},""" +
            s""""exact":${dropped == expected}}""")
        } finally {
          q.stop()
          spark.sql(s"DROP VIEW IF EXISTS $name")
        }
      } finally prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }

    if (args.contains("neardup")) {
      factors.foreach(runNearDupArm)
      spark.stop(); return
    }

    // annins mode: the self-maintaining ANN ingest loop's cost and state
    // curve. Standing = 3/4 of the embeddings table (trains the index
    // once); the incoming stream is the held-out quarter replayed
    // `factor` times under fresh ids, fed as micro-batches through
    // AnnIndex.ingest. Replay r>1 consists of EXACT COPIES of replay
    // 1's admitted vectors, so the dup-rate jumps to ~100% after the
    // first replay and admissions (and the on-disk state) SATURATE —
    // the curve shows per-batch wall time staying flat while the index
    // stops growing, i.e. the loop's cost is the batch probe + an
    // append proportional to SURVIVORS, not to the stream length.
    // anninsgrow mode: the GROWTH-path complement of annins. The exact-
    // copy replays of annins saturate by construction (dup rate ~100%
    // after replay 1 — state stops growing, proving cost ∝ survivors);
    // here each replay is FRESH (vectors rotated by the replay number)
    // AND the dup threshold sits above max cosine_e9, so every member is
    // admitted — pure growth: the probe/flag work is identical (the
    // threshold gates after the probe), but index_rows and root_bytes
    // grow by the full batch every step. (At the default 0.4 threshold
    // this corpus flags ~62% of even rotated vectors — its baseline
    // pairwise cosine is high — which would measure a mixed path, not
    // growth.) The curve's claim: per-batch wall stays ~flat (probe is
    // nprobe/nlist of a growing-but-compressed index; appends ∝ batch)
    // while the index grows linearly in the replays. first/last batch
    // walls are emitted so growth-coupled drift is visible in-record.
    if (args.contains("anninsgrow")) {
      import graft.sources.AnnIndex
      val emb = Tables.t(spark, dir, "embeddings")
      for (f <- factors) {
        val root = new java.io.File(System.getProperty("java.io.tmpdir"),
          s"graft_sb_anninsgrow_x$f")
        org.apache.commons.io.FileUtils.deleteQuietly(root)
        AnnIndex.initIngest(emb.filter(col("vec_id") % 4 =!= 0), root.getPath)
        val held = emb.filter(col("vec_id") % 4 === 0)
          .select(col("vec_id"), col("embedding")).localCheckpoint()
        val heldN = held.count()
        var totalDup = 0L; var totalN = 0L
        val t0 = System.nanoTime()
        val batchWalls = (0 until f).flatMap { r =>
          val rot = r % 64
          val fresh =
            if (rot == 0) col("embedding")
            else expr(s"""concat(
              slice(embedding, ${rot + 1}, size(embedding) - $rot),
              slice(embedding, 1, $rot))""")
          val replay = held.select(
            (col("vec_id") + lit(r.toLong * 10000000L)).as("vec_id"),
            fresh.as("embedding"))
          (0 until 4).map { b =>
            val batch = replay.filter(pmod(expr("vec_id div 4"), lit(4)) === b)
            val tb = System.nanoTime()
            val flags = AnnIndex.ingest(root.getPath, batch,
              thresholdE9 = 1000000001L)
            totalDup += flags.filter(col("is_dup")).count()
            totalN += flags.count()
            (System.nanoTime() - tb) / 1e9
          }
        }
        val wall = (System.nanoTime() - t0) / 1e9
        val bytes = org.apache.commons.io.FileUtils.sizeOfDirectory(root)
        val idxRows = spark.read.parquet(s"$root/index").count()
        println(s"""{"op":"stream_anninsgrow","factor":$f,"n_input":$totalN,""" +
          s""""held":$heldN,"batches":${batchWalls.size},""" +
          s""""wall_sec":${Fmt.num(wall, 3)},""" +
          s""""batch_sec_first":${Fmt.num(batchWalls.head, 3)},""" +
          s""""batch_sec_last":${Fmt.num(batchWalls.last, 3)},""" +
          s""""batch_sec_min":${Fmt.num(batchWalls.min, 3)},""" +
          s""""batch_sec_max":${Fmt.num(batchWalls.max, 3)},""" +
          s""""n_dup":$totalDup,"index_rows":$idxRows,""" +
          s""""root_bytes":$bytes}""")
        org.apache.commons.io.FileUtils.deleteQuietly(root)
      }
      spark.stop(); return
    }

    if (args.contains("annins")) {
      import graft.sources.AnnIndex
      val emb = Tables.t(spark, dir, "embeddings")
      for (f <- factors) {
        val root = new java.io.File(System.getProperty("java.io.tmpdir"),
          s"graft_sb_annins_x$f")
        org.apache.commons.io.FileUtils.deleteQuietly(root)
        AnnIndex.initIngest(emb.filter(col("vec_id") % 4 =!= 0), root.getPath)
        val held = emb.filter(col("vec_id") % 4 === 0)
          .select(col("vec_id"), col("embedding")).localCheckpoint()
        val heldN = held.count()
        var totalDup = 0L; var totalN = 0L
        val t0 = System.nanoTime()
        val batchWalls = (0 until f).flatMap { r =>
          val replay = held.select((col("vec_id") + lit(r.toLong * 10000000L))
            .as("vec_id"), col("embedding"))
          // 4 micro-batches per replay (vec_id ends in 0,4,8,2,6 — split
          // by a rotating residue to keep batches deterministic)
          (0 until 4).map { b =>
            // INTEGER division (`div`): Column./ is double division, and
            // the residue class would only split exactly while ids stay
            // ≡0 (mod 4) and the offset divisible by 4 — a changed
            // residue would produce fractional pmod values matching no
            // batch and silently drop rows from the stream
            val batch = replay.filter(pmod(expr("vec_id div 4"), lit(4)) === b)
            val tb = System.nanoTime()
            val flags = AnnIndex.ingest(root.getPath, batch)
            val dup = flags.filter(col("is_dup")).count()
            val n = flags.count()
            totalDup += dup; totalN += n
            (System.nanoTime() - tb) / 1e9
          }
        }
        val wall = (System.nanoTime() - t0) / 1e9
        val bytes = org.apache.commons.io.FileUtils.sizeOfDirectory(root)
        val idxRows = spark.read.parquet(s"$root/index").count()
        println(s"""{"op":"stream_annins","factor":$f,"n_input":$totalN,""" +
          s""""held":$heldN,"batches":${batchWalls.size},""" +
          s""""wall_sec":${Fmt.num(wall, 3)},""" +
          s""""batch_sec_min":${Fmt.num(batchWalls.min, 3)},""" +
          s""""batch_sec_max":${Fmt.num(batchWalls.max, 3)},""" +
          s""""n_dup":$totalDup,"index_rows":$idxRows,""" +
          s""""root_bytes":$bytes}""")
        org.apache.commons.io.FileUtils.deleteQuietly(root)
      }
      spark.stop(); return
    }

    for (f <- factors) {
      run("windowed_counts", f, col("event_type") =!= "flush",
        df => EventStream.windowedCounts(df))
      run("sessions", f, col("user_id") =!= -1L, sessions)
    }
    spark.stop()
  }
}
