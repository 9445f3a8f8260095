package graft.pipeline

import graft.sources.Upsert
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Orchestration of the full P2→P4+mart chain (SURVEY §3.1 restatement):
  * one SparkSession, one lazy DAG per stage, parquet between stages,
  * process_log-style gating via Control.
  *
  * The reference runs four separate JVMs coordinated by polling a MySQL
  * `process_log`; here the stages are function calls, the gate survives as
  * an explicit precondition (so a failed run can be diagnosed and re-run),
  * and every load is idempotent (anti-join upserts), so re-running after a
  * crash is safe — the property the reference's gating exists to protect.
  *
  * Each stage is one Spark execution (P4: one per table) and nothing
  * else: the run log is written by the driver, one small parquet file per
  * status row, and the gates read only the log's directory listing (see
  * `Control.logStatus`), so bookkeeping runs no Spark job.
  */
object Pipeline {

  final case class Layout(root: String) {
    val staging = s"$root/staging"
    val transform = s"$root/transform"
    val dimDate = s"$root/dim_date"
    val dimNumber = s"$root/dim_number"
    val factPrize = s"$root/fact_prize"
    val mart = s"$root/mart_two_digit_probability"
    val processLog = s"$root/process_log"
  }

  private def readOrEmpty(spark: SparkSession, path: String, like: DataFrame): DataFrame =
    if (new java.io.File(path).exists())
      spark.read.schema(like.schema).parquet(path)
    else like.limit(0)

  /** number_value → number_key of a stored dim_number, read on the driver
    * (≤100 rows, no Spark job), so the recompute that overwrites the
    * directory does not read it. Empty when there is none yet. */
  private def storedNumberKeys(spark: SparkSession, dir: String): Map[String, Int] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val path = new Path(dir)
    val fs = path.getFileSystem(conf)
    if (!fs.exists(path)) Map.empty
    else fs.listStatus(path).iterator
      .map(_.getPath).filterNot(p => p.getName.startsWith("_") || p.getName.startsWith("."))
      .flatMap { file =>
        val reader = ParquetReader.builder(new GroupReadSupport(), file).withConf(conf).build()
        try Iterator.continually(reader.read()).takeWhile(_ != null)
          .map(g => g.getString("number_value", 0) -> g.getInteger("number_key", 0)).toList
        finally reader.close()
      }.toMap
  }

  /** Run the whole chain from a crawler-CSV directory into a parquet
    * warehouse. Dims/facts are loaded idempotently (A1-A3); mart is a full
    * recompute (it is an aggregate view, SURVEY §2.9). Returns the mart. */
  def runAll(spark: SparkSession, csvDir: String, warehouseRoot: String): DataFrame = {
    val lay = Layout(warehouseRoot)
    // source_id mirrors the reference's processCode = "P" + sourceId
    // convention (ETLMain.java:157-158); MART has no crawl source → 0
    def sourceOf(stage: String): Int =
      if (stage.matches("P\\d")) stage.drop(1).toInt else 0
    def gate(stage: String)(body: => Unit): Unit = {
      val started = new java.sql.Timestamp(System.currentTimeMillis())
      // RUNNING append allocates the process_id; the terminal append
      // reuses it — the reference's generated-key INSERT→UPDATE pair
      // (ETLMain.java:164-190) in append-only form
      val pid = Control.logStatus(spark, lay.processLog, stage, "RUNNING",
        s"$stage start", started, sourceOf(stage))
      try {
        body
        Control.logStatus(spark, lay.processLog, stage, "SUCCESS",
          s"$stage done", started, sourceOf(stage), pid)
      } catch {
        case e: Throwable =>
          Control.logStatus(spark, lay.processLog, stage, "FAIL",
            s"$stage: ${e.getMessage}", started, sourceOf(stage), pid)
          throw e
      }
    }

    // P1 = crawler drop (the CSV directory stands in for the reference's
    // web crawl): validate the drop exists and is non-empty, and write
    // the gate row P2 depends on (StagingController.java:41-67 gates P2
    // on P1 SUCCESS — without this row the four-stage log story is 3/4)
    gate("P1") {
      val drop = new java.io.File(csvDir)
      require(drop.isDirectory && drop.listFiles().exists(_.getName.endsWith(".csv")),
        s"P1: no crawler CSVs in $csvDir")
    }
    require(Control.lastStatusIsSuccess(spark, lay.processLog, "P1"),
      "P1 gate failed (StagingController.java:41-44 semantics)")

    gate("P2") {
      Lottery.staging(spark, csvDir).write.mode("overwrite").parquet(lay.staging)
    }
    require(Control.lastStatusIsSuccess(spark, lay.processLog, "P2"),
      "P2 gate failed (StagingController.java:41-67 semantics)")

    gate("P3") {
      Lottery.transform(spark.read.parquet(lay.staging))
        .write.mode("overwrite").parquet(lay.transform)
    }
    require(Control.lastStatusIsSuccess(spark, lay.processLog, "P3"),
      "P3 gate failed (LotteryTransform.java:26-40 semantics)")

    gate("P4") {
      // Each append reads the directory it writes to, with no cache in
      // between: the input file list is fixed when the query is planned,
      // and the anti-join's stages finish before the job commits its new
      // files, so a load never sees its own output.
      val tr = spark.read.parquet(lay.transform)
      val dd = Lottery.dimDate(tr)
      Upsert.newRows(readOrEmpty(spark, lay.dimDate, dd), dd, Seq("date_key"))
        .write.mode("append").parquet(lay.dimDate)
      // dim_number is a full aggregate (last_appeared_date moves) →
      // deterministic recompute, the K4-update canonicalization, except
      // that a number keeps the key the appended facts already carry
      val dn = Lottery.keepNumberKeys(storedNumberKeys(spark, lay.dimNumber),
        Lottery.dimNumber(tr))
      dn.write.mode("overwrite").parquet(lay.dimNumber)
      val fp = Lottery.factPrize(tr, dn)
      // fact-sized key set: shuffled anti-join, never broadcast (at scale
      // the existing-facts projection is itself fact-sized)
      Upsert.newRows(readOrEmpty(spark, lay.factPrize, fp), fp,
        Seq("date_key", "number_key"), broadcastExisting = false)
        .write.mode("append").parquet(lay.factPrize)
    }

    gate("MART") {
      Lottery.mart(
        spark.read.parquet(lay.factPrize),
        spark.read.parquet(lay.dimNumber),
        spark.read.parquet(lay.dimDate))
        .write.mode("overwrite").parquet(lay.mart)
    }
    spark.read.parquet(lay.mart)
  }
}
