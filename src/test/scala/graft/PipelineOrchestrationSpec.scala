package graft

import graft.pipeline.{Control, Lottery, Pipeline, Serving}
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

/** SURVEY §3.1 end-to-end: gated P2→P4+mart orchestration into a parquet
  * warehouse, crash-safe re-runs (idempotent loads), run-log trail. */
class PipelineOrchestrationSpec extends SparkSpec {

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
    val csvDir = getClass.getResource("/lottery").getPath
    val root = Files.createTempDirectory("whjobs").toString + "/wh"
    Pipeline.runAll(spark, csvDir, root)

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
      val (mart, runJobs, runOutside) = counted(Pipeline.runAll(spark, csvDir, root))
      assert(runJobs > 0)
      assert(runOutside === 0, s"$runOutside of $runJobs jobs ran outside an execution")
      // the returned mart is the rows MART wrote, held by the driver
      val (server, serveJobs, _) = counted(Serving.start(0, Map("/mart/all" -> mart),
        Map("/mart/number" -> (mart, "number_value"))))
      server.stop(0)
      assert(serveJobs === 0, "the mart snapshot ran a Spark job")
      assert(rows(mart) === rows(spark.read.parquet(Pipeline.Layout(root).mart)))
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("driver-written dim_number and mart are one parquet file each, as Spark would write it") {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val csvDir = getClass.getResource("/lottery").getPath
    val base = Files.createTempDirectory("whfile")
    val lay = Pipeline.Layout(base.resolve("wh").toString)
    Pipeline.runAll(spark, csvDir, lay.root)
    val wh = Lottery.run(spark, csvDir)
    def dataFiles(dir: String) = new java.io.File(dir).listFiles()
      .filterNot(f => f.getName.startsWith(".") || f.getName.startsWith("_"))
    def footer(dir: String) = {
      val conf = spark.sparkContext.hadoopConfiguration
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(dataFiles(dir).head.getPath), conf))
      try {
        val meta = reader.getFooter.getFileMetaData
        (meta.getSchema, meta.getKeyValueMetaData)
      } finally reader.close()
    }
    Seq((lay.dimNumber, wh.dimNumber), (lay.mart, wh.mart)).foreach { case (dir, df) =>
      val sparkWritten = base.resolve(new java.io.File(dir).getName).toString
      df.coalesce(1).write.parquet(sparkWritten)
      assert(dataFiles(dir).length === 1, dir)
      assert(footer(dir) === footer(sparkWritten), dir)
      assert(spark.read.parquet(dir).schema === spark.read.parquet(sparkWritten).schema)
      assert(rows(spark.read.parquet(dir)) === rows(df), dir)
    }
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
