package graft

import graft.pipeline.{Control, Lottery, Pipeline, Serving}
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

/** SURVEY §3.1 end-to-end: gated P2→P4+mart orchestration into a parquet
  * warehouse, crash-safe re-runs (idempotent loads), run-log trail. */
class PipelineOrchestrationSpec extends SparkSpec {

  /** Write one crawler file for `day` with one Giải Bảy row per number. */
  private def writeDay(drop: java.nio.file.Path, day: java.time.LocalDate,
                       numbers: Seq[String]): java.nio.file.Path = {
    val d = day.format(java.time.format.DateTimeFormatter.ofPattern("dd-MM-yyyy"))
    Files.write(drop.resolve(s"xsmb_${d.replace("-", "")}.csv"),
      ("\uFEFFprize,number_value,full_date,created_at\n" +
        numbers.map(n => s"Giải Bảy,$n,$d,${day}T19:05:00.000Z\n").mkString)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  private def fixtureFiles(resource: String): Seq[java.io.File] =
    new java.io.File(getClass.getResource(resource).getPath).listFiles().toSeq.sortBy(_.getName)

  /** A table's rows with their counts. */
  private def bag(df: org.apache.spark.sql.DataFrame): Map[Seq[Any], Int] =
    df.collect().map(_.toSeq).groupBy(identity).map { case (r, rs) => r -> rs.length }

  /** Every table of a warehouse, comparable across warehouses: staging and
    * transform without `load_timestamp` and the batch number; the fact
    * and dim_number rows with the surrogate number_key resolved to its
    * number_value (keys follow arrival order). */
  private def tables(root: String): Map[String, Map[Seq[Any], Int]] = {
    val lay = Pipeline.Layout(root)
    val dn = spark.read.parquet(lay.dimNumber)
    Map(
      "staging" -> bag(spark.read.parquet(lay.staging).drop("load_timestamp", "batch")),
      "transform" -> bag(spark.read.parquet(lay.transform).drop("load_timestamp", "batch")),
      "dim_date" -> bag(spark.read.parquet(lay.dimDate)),
      "dim_number" -> bag(dn.drop("number_key")),
      "fact_prize" -> bag(spark.read.parquet(lay.factPrize).join(dn.select("number_key", "number_value"),
        "number_key").drop("number_key")),
      "mart" -> bag(spark.read.parquet(lay.mart)))
  }

  /** The SQL executions of `body` that ran a Spark job, in start order,
    * each as the files its leaf scans read. */
  private def jobExecutionReads(body: => Any): Seq[Seq[String]] = {
    import org.apache.spark.scheduler.{GraftStageInfoAccess, SparkListener, SparkListenerEvent,
      SparkListenerJobStart}
    import org.apache.spark.sql.GraftSqlExecutionAccess
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
    val withJobs = new java.util.concurrent.ConcurrentSkipListSet[java.lang.Long]()
    val reads = new java.util.concurrent.ConcurrentHashMap[Long, Seq[String]]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .foreach(id => withJobs.add(id.toLong))
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case end: SparkListenerSQLExecutionEnd =>
          Option(GraftSqlExecutionAccess.queryExecution(end)).foreach(qe =>
            reads.put(end.executionId, qe.analyzed.collect {
              case LogicalRelation(h: HadoopFsRelation, _, _, _, _) => h.location.inputFiles.toSeq
            }.flatten))
        case _ =>
      }
    }
    GraftStageInfoAccess.waitUntilListenerBusEmpty(spark.sparkContext, 30000)
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      GraftStageInfoAccess.waitUntilListenerBusEmpty(spark.sparkContext, 30000)
    } finally spark.sparkContext.removeSparkListener(listener)
    withJobs.asScala.toSeq.map { id =>
      assert(reads.containsKey(id), s"execution $id ran a job but reported no plan")
      reads.get(id)
    }
  }

  private def readsFacts(files: Seq[String]) = files.exists(_.contains("/fact_prize/"))

  /** SUCCESS messages of the latest run of each stage. */
  private def messages(root: String): Map[String, String] = {
    import org.apache.spark.sql.functions.col
    spark.read.schema(Control.processLogSchema).parquet(Pipeline.Layout(root).processLog)
      .filter(col("status") === "SUCCESS").collect()
      .groupBy(_.getAs[String]("process_code"))
      .map { case (code, rs) => code -> rs.maxBy(_.getAs[Long]("process_id")).getAs[String]("message") }
  }

  test("runAll builds the warehouse, re-run is a no-op, log trail complete") {
    val csvDir = getClass.getResource("/lottery").getPath
    val root = Files.createTempDirectory("wh").toString + "/wh"

    val mart1 = Pipeline.runAll(spark, csvDir, root)
    assert(mart1.count() === 4) // numbers 9, 33, 45, 78

    val lay = Pipeline.Layout(root)
    val factCount = spark.read.parquet(lay.factPrize).count()
    assert(factCount === 6)

    // second run over the SAME csvs: idempotent (A1-A3 contract end-to-end)
    val mart2 = Pipeline.runAll(spark, csvDir, root)
    assert(mart2.count() === 4)
    assert(spark.read.parquet(lay.factPrize).count() === factCount)
    assert(spark.read.parquet(lay.dimDate).count() === 3)

    // log trail: every stage incl. the P1 crawler-drop gate has a
    // SUCCESS; gates see it — the reference's four-stage story, 4/4
    Seq("P1", "P2", "P3", "P4", "MART").foreach { st =>
      assert(Control.lastStatusIsSuccess(spark, lay.processLog, st), st)
    }
    // run correlation survives in the log: every process_id appears as a
    // RUNNING + terminal pair with a consistent source_id
    val log = spark.read.schema(Control.processLogSchema).parquet(lay.processLog)
    val byId = log.collect().groupBy(_.getAs[Long]("process_id"))
    byId.foreach { case (id, rows) =>
      assert(rows.length === 2, s"process_id $id has ${rows.length} rows")
      assert(rows.map(_.getAs[String]("status")).contains("RUNNING"), id)
      assert(rows.map(_.getAs[Int]("source_id")).distinct.length === 1, id)
    }
  }

  test("P4 appends a new day into the tables it reads; a re-run appends nothing") {
    import org.apache.spark.sql.functions._
    val base = Files.createTempDirectory("wh4")
    val drop = base.resolve("drop")
    Files.createDirectories(drop)
    def copyIn(resource: String): Unit =
      new java.io.File(getClass.getResource(resource).getPath).listFiles()
        .foreach(f => Files.copy(f.toPath, drop.resolve(f.getName)))
    val root = base.resolve("wh").toString
    val lay = Pipeline.Layout(root)

    copyIn("/lottery")
    Pipeline.runAll(spark, drop.toString, root)
    copyIn("/lottery_next") // a 4th day lands in the drop
    // 51 is a new number that sorts below 78: 78 keeps its number_key, so
    // its earlier facts stay 78's and are not appended again under a new key
    val mart = Pipeline.runAll(spark, drop.toString, root)
    assert(mart.collect().map(r => r.getAs[String]("number_value") ->
        r.getAs[java.math.BigDecimal]("total_occurrences").intValue).toMap ===
      Map("9" -> 5, "33" -> 1, "45" -> 1, "51" -> 1, "78" -> 3))

    // the truth, derived without the warehouse: distinct (day, number)
    // pairs of the 4 days' transformed rows — 6 from the first 3 days,
    // 3 from the 4th (09 drawn twice)
    val pairs = Lottery.transform(Lottery.staging(spark, drop.toString))
      .select("full_date", "number_value").distinct().count()
    assert(pairs === 9)
    def facts = spark.read.parquet(lay.factPrize)
    assert(spark.read.parquet(lay.dimDate).count() === 4)
    assert(facts.groupBy("date_key", "number_key").count()
      .filter(col("count") > 1).count() === 0, "duplicate fact grain")
    assert(facts.count() === pairs)

    // same files again: nothing new, so nothing appended
    val before = orderedRows(facts.orderBy("date_key", "number_key"))
    Pipeline.runAll(spark, drop.toString, root)
    assert(orderedRows(facts.orderBy("date_key", "number_key")) === before)
    assert(spark.read.parquet(lay.dimDate).count() === 4)
  }

  test("a repeat runAll runs no Spark job outside a SQL execution; serving its mart runs none") {
    import org.apache.spark.scheduler.{GraftStageInfoAccess, SparkListener, SparkListenerJobStart}
    val base = Files.createTempDirectory("whjobs")
    val csvDir = Files.createDirectories(base.resolve("drop")).toString
    val root = base.resolve("wh").toString
    fixtureFiles("/lottery").foreach(f => Files.copy(f.toPath, java.nio.file.Paths.get(csvDir, f.getName)))
    Pipeline.runAll(spark, csvDir, root)
    // the repeat run lands a 4th day: a run with nothing new runs no job
    fixtureFiles("/lottery_next").foreach(f => Files.copy(f.toPath, java.nio.file.Paths.get(csvDir, f.getName)))
    // a first load of more than 32 files: Spark lists more than 32 paths
    // with a job of its own, so no stage may read files path by path
    val bigDrop = Files.createTempDirectory("whjobs40")
    (1 to 40).foreach(i => writeDay(bigDrop, java.time.LocalDate.of(2025, 1, 1).plusDays(i),
      Seq(f"${i % 100}%02d", f"${(i * 7) % 100}%02d")))

    val jobs, outside = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        // a parquet schema inference, for one, runs its job outside
        if (Option(e.properties).forall(_.getProperty("spark.sql.execution.id") == null))
          outside.incrementAndGet()
      }
    }
    def counted[T](body: => T): (T, Int, Int) = {
      GraftStageInfoAccess.waitUntilListenerBusEmpty(spark.sparkContext, 30000)
      jobs.set(0); outside.set(0)
      val out = body
      GraftStageInfoAccess.waitUntilListenerBusEmpty(spark.sparkContext, 30000)
      (out, jobs.get, outside.get)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val (_, bigJobs, bigOutside) = counted(
        Pipeline.runAll(spark, bigDrop.toString, bigDrop.resolveSibling("whjobs40-wh").toString))
      assert(bigOutside === 0, s"$bigOutside of $bigJobs jobs of a 40-file load ran outside an execution")
      val (mart, runJobs, runOutside) = counted(Pipeline.runAll(spark, csvDir, root))
      // an in-order day runs none at all
      assert(runJobs === 0, s"$runJobs jobs ran, $runOutside of them outside an execution")
      // the returned mart is the rows MART wrote, held by the driver
      val (server, serveJobs, _) = counted(Serving.start(0, Map("/mart/all" -> mart),
        Map("/mart/number" -> (mart, "number_value"))))
      server.stop(0)
      assert(serveJobs === 0, "the mart snapshot ran a Spark job")
      // the listener sees jobs: the check's own read runs some
      val (stored, readJobs, _) = counted(rows(spark.read.parquet(Pipeline.Layout(root).mart)))
      assert(readJobs > 0)
      assert(rows(mart) === stored)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def dataFiles(dir: String) = new java.io.File(dir).listFiles()
    .filterNot(f => f.getName.startsWith(".") || f.getName.startsWith("_"))

  /** The parquet schema and key-value metadata of the first data file in
    * `dir`. */
  private def footer(dir: String) = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sparkContext.hadoopConfiguration
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(dataFiles(dir).head.getPath), conf))
    try {
      val meta = reader.getFooter.getFileMetaData
      (meta.getSchema, meta.getKeyValueMetaData)
    } finally reader.close()
  }

  test("driver-written dim_number and mart are one parquet file each, as Spark would write it") {
    val csvDir = getClass.getResource("/lottery").getPath
    val base = Files.createTempDirectory("whfile")
    val lay = Pipeline.Layout(base.resolve("wh").toString)
    Pipeline.runAll(spark, csvDir, lay.root)
    val wh = Lottery.run(spark, csvDir)
    Seq((lay.dimNumber, wh.dimNumber), (lay.mart, wh.mart)).foreach { case (dir, df) =>
      val sparkWritten = base.resolve(new java.io.File(dir).getName).toString
      df.coalesce(1).write.parquet(sparkWritten)
      assert(dataFiles(dir).length === 1, dir)
      assert(footer(dir) === footer(sparkWritten), dir)
      assert(spark.read.parquet(dir).schema === spark.read.parquet(sparkWritten).schema)
      assert(rows(spark.read.parquet(dir)) === rows(df), dir)
    }
  }

  test("a batch's facts are one driver-written file, as Spark would write them; a mixed table reads as one") {
    val csvDir = getClass.getResource("/lottery").getPath
    val base = Files.createTempDirectory("whfacts")
    val lay = Pipeline.Layout(base.resolve("wh").toString)
    Pipeline.runAll(spark, csvDir, lay.root)
    val wh = Lottery.run(spark, csvDir)
    val sparkWritten = base.resolve("fact_prize").toString
    wh.factPrize.coalesce(1).write.parquet(sparkWritten)
    // named after the batch, with no checksum or _SUCCESS beside it
    assert(new java.io.File(lay.factPrize).list().toSeq
      .forall(_.matches("""batch-\d+\.snappy\.parquet""")), lay.factPrize)
    assert(dataFiles(lay.factPrize).length === 1)
    assert(footer(lay.factPrize) === footer(sparkWritten))
    assert(rows(spark.read.parquet(lay.factPrize)) === rows(wh.factPrize))
    // a warehouse the Spark fact plan appended to holds files whose
    // columns are all optional: read with no declared schema, the old
    // file and the driver's are one table
    spark.createDataFrame(wh.factPrize.collectAsList(), Pipeline.Schemas.fact)
      .coalesce(1).write.mode("append").parquet(lay.factPrize)
    assert(dataFiles(lay.factPrize).length === 2)
    assert(orderedRows(spark.read.parquet(lay.factPrize).orderBy("date_key", "number_key")) ===
      orderedRows(wh.factPrize.orderBy("date_key", "number_key")).flatMap(r => Seq(r, r)))
  }

  test("the declared read schemas are the stage functions' output schemas, read back nullable") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.StructType
    def nullable(s: StructType) = StructType(s.map(_.copy(nullable = true)))
    val stg = spark.createDataFrame(java.util.List.of[Row](), Pipeline.Schemas.staging)
    val tr = Lottery.transform(stg)
    assert(nullable(tr.schema) === Pipeline.Schemas.transform)
    val draws = Map(7 -> java.time.LocalDate.of(2025, 10, 26))
    val dateRows = Lottery.dimDateRows(draws.values)
    val numberRows = Lottery.dimNumberRows(draws, Map.empty)
    assert(dateRows.head.schema === Lottery.dimDateSchema)
    assert(numberRows.head.schema === Lottery.dimNumberSchema)
    assert(nullable(Lottery.dimDateSchema) === Pipeline.Schemas.date)
    assert(nullable(Lottery.dimNumberSchema) === Pipeline.Schemas.number)
    val factRows = Lottery.factRows(Map((7, draws(7)) -> 1), Lottery.numberKeys(numberRows), Nil)
    assert(factRows.head.schema === Lottery.factSchema)
    assert(nullable(Lottery.factSchema) === Pipeline.Schemas.fact)
    assert(nullable(Lottery.staging(spark, getClass.getResource("/lottery").getPath).schema)
      === Pipeline.Schemas.staging)
    // P2's and P3's driver builders
    val staged = Lottery.stagingRows(spark.sparkContext.hadoopConfiguration,
      fixtureFiles("/lottery").map(_.toPath), new java.sql.Timestamp(0L))
    assert(staged.head.schema === Lottery.stagingSchema)
    assert(nullable(Lottery.stagingSchema) === Pipeline.Schemas.staging)
    val transformed = Lottery.transformRows(staged)
    assert(transformed.head.schema === Lottery.transformSchema)
    assert(nullable(Lottery.transformSchema) === Pipeline.Schemas.transform)
  }

  test("fixture days landed one at a time equal one cold build, table by table") {
    val days = fixtureFiles("/lottery") ++ fixtureFiles("/lottery_next")
    val base = Files.createTempDirectory("whdaily")
    val drop = Files.createDirectories(base.resolve("drop"))
    val daily = base.resolve("daily").toString
    days.foreach { f =>
      Files.copy(f.toPath, drop.resolve(f.getName))
      Pipeline.runAll(spark, drop.toString, daily)
    }
    val cold = base.resolve("cold").toString
    Pipeline.runAll(spark, drop.toString, cold)
    val (got, want) = (tables(daily), tables(cold))
    want.keys.foreach(t => assert(got(t) === want(t), t))
    // four batches, one per landing; the cold build is one
    assert(new java.io.File(Pipeline.Layout(daily).staging).list().count(_.startsWith("batch=")) === 4)
  }

  test("a late, older day gets the cold build's facts for that day; no stored fact changes") {
    val days = fixtureFiles("/lottery") ++ fixtureFiles("/lottery_next")
    val late = days.find(_.getName == "xsmb_25102025.csv").get
    val base = Files.createTempDirectory("whlate")
    val drop = Files.createDirectories(base.resolve("drop"))
    val root = base.resolve("wh").toString
    days.filterNot(_ == late).foreach(f => Files.copy(f.toPath, drop.resolve(f.getName)))
    Pipeline.runAll(spark, drop.toString, root)
    def facts = spark.read.parquet(Pipeline.Layout(root).factPrize)
      .join(spark.read.parquet(Pipeline.Layout(root).dimNumber).select("number_key", "number_value"),
        "number_key").drop("number_key")
    val before = bag(facts)
    Files.copy(late.toPath, drop.resolve(late.getName))
    Pipeline.runAll(spark, drop.toString, root)
    val after = bag(facts)
    val cold = base.resolve("cold").toString
    Pipeline.runAll(spark, drop.toString, cold)
    def ofDay(b: Map[Seq[Any], Int]) = b.filter(_._1.head == 20251025)
    assert(ofDay(after).nonEmpty)
    assert(ofDay(after) === ofDay(bag(spark.read.parquet(Pipeline.Layout(cold).factPrize)
      .join(spark.read.parquet(Pipeline.Layout(cold).dimNumber).select("number_key", "number_value"),
        "number_key").drop("number_key"))))
    assert(after -- ofDay(after).keys === before, "a stored fact changed")
  }

  test("a rewritten crawler file is staged again and appends no duplicate fact grain") {
    import org.apache.spark.sql.functions._
    val base = Files.createTempDirectory("whrewrite")
    val drop = Files.createDirectories(base.resolve("drop"))
    val root = base.resolve("wh").toString
    val lay = Pipeline.Layout(root)
    fixtureFiles("/lottery").foreach(f => Files.copy(f.toPath, drop.resolve(f.getName)))
    Pipeline.runAll(spark, drop.toString, root)
    def facts = spark.read.parquet(lay.factPrize)
    def noDuplicateGrain() = assert(facts.groupBy("date_key", "number_key").count()
      .filter(col("count") > 1).count() === 0, "duplicate fact grain")
    val stagedRows = spark.read.parquet(lay.staging).count()

    // the same bytes with a new modification time
    val day = drop.resolve("xsmb_26102025.csv").toFile
    assert(day.setLastModified(day.lastModified() - 60000))
    Pipeline.runAll(spark, drop.toString, root)
    assert(messages(root)("P2").endsWith("staged 1 files"), messages(root)("P2"))
    assert(spark.read.parquet(lay.staging).count() === stagedRows + 1)
    noDuplicateGrain()
    assert(facts.count() === 6)

    // a new length: one more row for that day
    Files.write(day.toPath, "Giải Bảy,45,26-10-2025,2025-10-26T19:05:09.456Z\n"
      .getBytes(java.nio.charset.StandardCharsets.UTF_8), java.nio.file.StandardOpenOption.APPEND)
    Pipeline.runAll(spark, drop.toString, root)
    noDuplicateGrain()
    assert(facts.count() === 7)
    assert(facts.filter(col("date_key") === 20251026).count() === 2)
  }

  /** The Spark jobs and SQL executions `body` starts, counted by a
    * listener. */
  private def sparkWork(body: => Any): (Int, Int) = {
    import org.apache.spark.scheduler.{GraftStageInfoAccess, SparkListener, SparkListenerEvent,
      SparkListenerJobStart}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val jobs, executions = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionStart => executions.incrementAndGet()
        case _ =>
      }
    }
    GraftStageInfoAccess.waitUntilListenerBusEmpty(spark.sparkContext, 30000)
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      GraftStageInfoAccess.waitUntilListenerBusEmpty(spark.sparkContext, 30000)
    } finally spark.sparkContext.removeSparkListener(listener)
    (jobs.get, executions.get)
  }

  test("an in-order daily runAll runs no Spark execution and no Spark job") {
    val base = Files.createTempDirectory("whinorder")
    val drop = Files.createDirectories(base.resolve("drop"))
    val root = base.resolve("wh").toString
    fixtureFiles("/lottery").foreach(f => Files.copy(f.toPath, drop.resolve(f.getName)))
    Pipeline.runAll(spark, drop.toString, root)
    fixtureFiles("/lottery_next").foreach(f => Files.copy(f.toPath, drop.resolve(f.getName)))
    // P2 stages and P3 transforms the day on the driver, P4 builds the
    // dims and the facts, and MART the mart, there too
    assert(sparkWork(Pipeline.runAll(spark, drop.toString, root)) === ((0, 0)))
    // the listener counts: the check's own read runs one of each at least
    val (jobs, executions) = sparkWork(spark.read.parquet(Pipeline.Layout(root).staging).count())
    assert(jobs > 0 && executions > 0)
  }

  test("a late day takes the fact history on the driver: its facts and the mart are a cold build's") {
    val days = fixtureFiles("/lottery") ++ fixtureFiles("/lottery_next")
    val late = days.find(_.getName == "xsmb_25102025.csv").get
    val base = Files.createTempDirectory("whlatereads")
    val drop = Files.createDirectories(base.resolve("drop"))
    val root = base.resolve("wh").toString
    days.filterNot(_ == late).foreach(f => Files.copy(f.toPath, drop.resolve(f.getName)))
    Pipeline.runAll(spark, drop.toString, root)
    Files.copy(late.toPath, drop.resolve(late.getName))
    val execs = jobExecutionReads(Pipeline.runAll(spark, drop.toString, root))
    // P4 reads the stored facts' keys on the driver. The late day was not
    // stored, so MART adds its rows to the stored totals
    assert(!execs.exists(f => readsFacts(f) || f.exists(_.contains("/transform/"))), execs)
    val cold = base.resolve("cold").toString
    Pipeline.runAll(spark, drop.toString, cold)
    assert(tables(root)("mart") === tables(cold)("mart"))
    def ofDay(b: Map[Seq[Any], Int]) = b.filter(_._1.head == 20251025)
    assert(ofDay(tables(root)("fact_prize")).nonEmpty)
    assert(ofDay(tables(root)("fact_prize")) === ofDay(tables(cold)("fact_prize")))
  }

  test("an in-order day's P4 and MART read as many files on a 60-day warehouse as on a 3-day one") {
    def landed(name: String, history: Seq[Seq[java.nio.file.Path => Unit]]): (Int, Int) = {
      val base = Files.createTempDirectory(name)
      val drop = Files.createDirectories(base.resolve("drop"))
      val root = base.resolve("wh").toString
      history.foreach { run =>
        run.foreach(_(drop))
        Pipeline.runAll(spark, drop.toString, root)
      }
      fixtureFiles("/lottery_next").foreach(f => Files.copy(f.toPath, drop.resolve(f.getName)))
      // the job-running executions, and the files past staging they read:
      // every stage runs on the driver, so none
      val execs = jobExecutionReads(Pipeline.runAll(spark, drop.toString, root))
      (execs.size, execs.flatten.count(f => f.contains(s"$root/") && !f.contains("/staging/")))
    }
    val fixture = fixtureFiles("/lottery").map(f => (d: java.nio.file.Path) =>
      { Files.copy(f.toPath, d.resolve(f.getName)); () })
    // 57 generated days before the fixture's, in two runs, then the
    // fixture: fact_prize holds three files
    val generated = (1 to 57).map(i => (d: java.nio.file.Path) => {
      writeDay(d, java.time.LocalDate.of(2025, 10, 22).minusDays(57 - i),
        Seq(f"${i % 100}%02d", f"${(i * 37) % 100}%02d", f"${(i * 11) % 100}%02d", "09")); ()
    })
    val small = landed("whsmall", Seq(fixture))
    val big = landed("whbig", Seq(generated.take(30), generated.drop(30), fixture))
    assert(small === ((0, 0)) && big === small)
  }

  test("storedRows reads the dims, the mart and staging and transform batches as spark.read does, nulls included") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.StructType
    def d(s: String) = java.sql.Date.valueOf(s)
    def dec(s: String) = new java.math.BigDecimal(s)
    def check(name: String, schema: StructType, rows: Seq[Row]): Unit = {
      val dir = Files.createTempDirectory("stored").resolve(name).toString
      spark.createDataFrame(rows.asJava, schema).coalesce(1).write.parquet(dir)
      assert(Pipeline.storedRows(spark, dir, schema).map(_.toSeq) ===
        spark.read.schema(schema).parquet(dir).collect().toSeq.map(_.toSeq), name)
    }
    check("dim_date", Pipeline.Schemas.date, Seq(
      Row(20251023, d("2025-10-23"), 23, 10, 2025, "2025-10", "Thứ 5", 0),
      Row(null, null, null, null, null, null, null, null)))
    check("dim_number", Pipeline.Schemas.number, Seq(
      Row(1, "9", 0, 9, d("2025-10-25")), Row(null, null, null, null, null)))
    check("mart", Lottery.martSchema, Seq(
      Row("9", dec("3"), 3, dec("1.0000"), d("2025-10-25"), 1),
      Row("78", dec("99999999999999999999999999999999"), 7, dec("-1234567890123456789012345678901.2345"),
        d("1970-01-01"), -5),
      Row(null, null, 0, null, null, null)))
    // timestamps, which Spark writes as INT96: microseconds, and before
    // the epoch
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    check("staging", Pipeline.Schemas.staging, Seq(
      Row("Giải Bảy", "07", "26-10-2025", "2025-10-26T19:05:00.000Z", ts("2025-10-26 19:05:00.123456")),
      Row("Giải Bảy", " 7", "31-12-1969", "", ts("1969-12-31 23:59:59.999999")),
      Row(null, null, null, null, null)))
    check("transform", Pipeline.Schemas.transform, Seq(
      Row(7, d("2025-10-26"), "00-09", 1, 0, ts("2025-10-26 19:05:00.123456")),
      Row(-5, d("1900-03-01"), "-1--1", 0, 0, ts("1900-03-01 00:00:00")),
      Row(null, null, null, null, null, null)))
  }

  test("batches Spark wrote stay one table with the driver's; a pending one replays with its timestamps") {
    import org.apache.commons.io.FileUtils
    import org.apache.spark.sql.functions.lit
    import org.apache.spark.sql.types.IntegerType
    val base = Files.createTempDirectory("whupgrade")
    val drop = Files.createDirectories(base.resolve("drop"))
    fixtureFiles("/lottery").foreach(f => Files.copy(f.toPath, drop.resolve(f.getName)))
    val root = base.resolve("wh").toString
    val lay = Pipeline.Layout(root)
    // the fixture's days staged, then a crash before P3: the batch is pending
    try {
      Pipeline.crashHook = step => if (step == "staging.committed") throw new RuntimeException(step)
      intercept[RuntimeException](Pipeline.runAll(spark, drop.toString, root))
    } finally Pipeline.crashHook = _ => ()
    val b = new java.io.File(lay.staging).list().toSeq match { case Seq(d) => d.stripPrefix("batch=") }
    // in its place, the batch as Spark's staging write left it: part
    // files with checksums, `_SUCCESS` at the table's root
    val loaded = java.sql.Timestamp.valueOf("2025-10-26 20:00:00.123456")
    def sparkWrite(df: org.apache.spark.sql.DataFrame, table: String): Unit = {
      FileUtils.deleteDirectory(new java.io.File(table))
      df.withColumn("batch", lit(b)).repartition(3).write.partitionBy("batch").parquet(table)
      assert(dataFiles(s"$table/batch=$b").length === 3, table)
      assert(new java.io.File(s"$table/batch=$b").list().exists(_.endsWith(".crc")), table)
      assert(new java.io.File(table, "_SUCCESS").exists(), table)
    }
    sparkWrite(Lottery.staging(spark, drop.toString).withColumn("load_timestamp", lit(loaded)), lay.staging)
    // the replay transforms it from the rows read back on the driver
    Pipeline.runAll(spark, drop.toString, root)
    assert(rows(spark.read.parquet(s"${lay.transform}/batch=$b").select("load_timestamp")) ===
      Set(Seq(loaded)))
    // the transform batch as Spark's write left it, then a day lands
    sparkWrite(Lottery.transform(spark.read.schema(Pipeline.Schemas.staging).parquet(s"${lay.staging}/batch=$b")),
      lay.transform)
    fixtureFiles("/lottery_next").foreach(f => Files.copy(f.toPath, drop.resolve(f.getName)))
    Pipeline.runAll(spark, drop.toString, root)
    // each table reads as one, the batch discovered as a partition column
    Seq(lay.staging, lay.transform).foreach { table =>
      val df = spark.read.parquet(table)
      assert(df.schema("batch").dataType === IntegerType, table)
      val batches = new java.io.File(table).list().filter(_.startsWith("batch=")).toSeq
      assert(batches.size === 2 && batches.contains(s"batch=$b"), table)
      val added = batches.filterNot(_ == s"batch=$b").head
      assert(new java.io.File(table, added).list().toSeq === Seq("part-00000.snappy.parquet"), table)
      assert(rows(df.select("batch")).size === 2, table)
    }
    val cold = base.resolve("cold").toString
    Pipeline.runAll(spark, drop.toString, cold)
    val (got, want) = (tables(root), tables(cold))
    want.keys.foreach(t => assert(got(t) === want(t), t))
  }

  test("a run with nothing new writes no file before MART and runs no Spark job before it") {
    import org.apache.spark.scheduler.{GraftStageInfoAccess, SparkListener, SparkListenerJobStart}
    val csvDir = getClass.getResource("/lottery").getPath
    val root = Files.createTempDirectory("whidle").toString + "/wh"
    val lay = Pipeline.Layout(root)
    Pipeline.runAll(spark, csvDir, root)
    def files(): Map[String, (Long, Long)] = Seq(lay.staging, lay.transform, lay.dimDate,
        lay.dimNumber, lay.factPrize, lay.mart, lay.batches).flatMap { dir =>
      Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala.toSeq
        .map(p => p.toString -> (p.toFile.lastModified(), p.toFile.length()))
    }.toMap
    val before = files()

    val jobStarts = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobStarts.add(e.time)
    }
    GraftStageInfoAccess.waitUntilListenerBusEmpty(spark.sparkContext, 30000)
    spark.sparkContext.addSparkListener(listener)
    val mart = try {
      val mart = Pipeline.runAll(spark, csvDir, root)
      GraftStageInfoAccess.waitUntilListenerBusEmpty(spark.sparkContext, 30000)
      mart
    } finally spark.sparkContext.removeSparkListener(listener)
    // MART too: it returns the stored mart, read on the driver
    assert(files() === before)
    assert(jobStarts.isEmpty, s"${jobStarts.size} Spark jobs ran")
    Seq("P2", "P3", "P4", "MART").foreach(st => assert(messages(root)(st) === s"$st: nothing new", st))
    assert(rows(mart) === rows(spark.read.parquet(lay.mart)))
  }

  test("a daily runAll runs no codegen compile") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val base = Files.createTempDirectory("whcodegen")
    val drop = Files.createDirectories(base.resolve("drop"))
    val root = base.resolve("wh").toString
    fixtureFiles("/lottery").foreach(f => Files.copy(f.toPath, drop.resolve(f.getName)))
    Pipeline.runAll(spark, drop.toString, root)
    // three days, each its own run: none generates code, warmed or not
    val compiled = (1 to 3).map { i =>
      writeDay(drop, java.time.LocalDate.of(2025, 10, 26).plusDays(i), Seq("09", f"${i * 17}%02d", "78", "51"))
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      Pipeline.runAll(spark, drop.toString, root)
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    assert(compiled === Seq(0, 0, 0), s"codegen compiles per daily runAll: $compiled")
  }

  test("each stage's SUCCESS row says what it did") {
    val base = Files.createTempDirectory("whmsg")
    val drop = Files.createDirectories(base.resolve("drop"))
    val root = base.resolve("wh").toString
    fixtureFiles("/lottery").foreach(f => Files.copy(f.toPath, drop.resolve(f.getName)))
    Pipeline.runAll(spark, drop.toString, root)
    val cold = messages(root)
    val batch = """P2: batch (\d+): staged 3 files""".r
    val b = cold("P2") match { case batch(id) => id; case m => fail(m) }
    assert(cold("P3") === s"P3: transformed batches $b")
    assert(cold("P4") === s"P4: loaded batches $b: 3 days, 6 facts")

    fixtureFiles("/lottery_next").foreach(f => Files.copy(f.toPath, drop.resolve(f.getName)))
    Pipeline.runAll(spark, drop.toString, root)
    val daily = messages(root)
    val b2 = daily("P2") match { case batch(_) => fail("3 files"); case m => m }
    assert(b2.matches("""P2: batch \d+: staged 1 files"""), b2)
    val id = b2.split(' ')(2).stripSuffix(":")
    assert(id.toLong > b.toLong)
    assert(daily("P3") === s"P3: transformed batches $id")
    // the 4th day: 09 (twice), 51 and 78 → 3 facts
    assert(daily("P4") === s"P4: loaded batches $id: 1 days, 3 facts")
    assert(daily("MART") === "MART: 5 numbers")
  }

  test("Observation: stage metrics ride the write pass itself — no second count job") {
    // the production shape for the run-log's row counts: attach an
    // Observation to the stage's plan and read the metrics after the
    // SAME action that materialized the stage, instead of a separate
    // df.count() that re-runs the scan (at 100 TB a metrics-only rescan
    // is a real cost). Exactness: the observed count/sum must equal the
    // ground truth computed independently.
    import org.apache.spark.sql.Observation
    import org.apache.spark.sql.functions._
    val df = Tables.t(spark, "/root/testdata/sf0.001", "orders")
    val obs = Observation("stage_metrics")
    val out = java.nio.file.Files.createTempDirectory("obs").toString + "/o"
    df.observe(obs,
        count(lit(1)).as("n_rows"),
        sum(col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .as("total_price"))
      .write.parquet(out)
    val m = obs.get
    assert(m("n_rows") === df.count())
    assert(m("total_price") ===
      df.agg(sum(col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(18, 2))))
        .head().getDecimal(0))
    // and the written stage is intact
    assert(spark.read.parquet(out).count() === m("n_rows"))
  }

  test("P2 is gated on P1: an empty crawler drop fails at P1, nothing downstream runs") {
    val emptyDrop = Files.createTempDirectory("emptydrop").toString
    val root = Files.createTempDirectory("wh").toString + "/wh"
    val e = intercept[Exception](Pipeline.runAll(spark, emptyDrop, root))
    assert(e.getMessage.contains("P1"), e.getMessage)
    val lay = Pipeline.Layout(root)
    assert(!Control.lastStatusIsSuccess(spark, lay.processLog, "P1"))
    // P2 never started: its stage row is absent entirely
    val log = spark.read.schema(Control.processLogSchema).parquet(lay.processLog)
    assert(log.filter(org.apache.spark.sql.functions.col("process_code") === "P2").count() === 0)
  }
}
