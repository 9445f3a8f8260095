package graft.pipeline

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import graft.sources.Upsert
import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

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
  * Spark executions per run: one per stage for P2 and P3, one per append
  * for dim_date and fact_prize, and one collect each for dim_number and
  * the mart. Those two are ≤100 rows by construction, so the driver
  * writes them (`replaceTable`) and passes them on as local relations:
  * fact_prize and the mart join the held dim_number, and the returned
  * mart is the held mart, which `Serving` snapshots without a Spark job.
  * Every other re-read of a table the run wrote is given its writer's
  * schema, so no read runs a schema-inference job. The run log is written
  * by the driver, one small parquet file per status row, and the gates
  * read only the log's directory listing (see `Control.logStatus`), so
  * bookkeeping runs no Spark job either.
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

  /** Called at each P4 boundary and inside `replaceTable`: "dim_date",
    * "dim_number.tmp" (temp file written, not moved in), "dim_number.moved"
    * (moved in, old files not yet deleted), "dim_number", "fact_prize",
    * and the mart's "mart_two_digit_probability.tmp"/".moved". Tests throw
    * from it to crash a run there. */
  private[graft] var crashHook: String => Unit = _ => ()

  private def readOrEmpty(spark: SparkSession, path: String, like: DataFrame): DataFrame =
    if (new java.io.File(path).exists())
      spark.read.schema(like.schema).parquet(path)
    else like.limit(0)

  /** number_value → number_key of a stored dim_number, read on the driver
    * (≤100 rows, no Spark job), so the recompute that replaces the
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

  /** Replace the table at `dir` with `rows` (≤100 by construction), written
    * on the driver as one parquet file through Spark's own parquet writer:
    * the confs `ParquetFileFormat.prepareWrite` sets and its
    * `ParquetWriteSupport`, so types and footer are a Spark write's, and no
    * Spark job runs. Returns the rows as a local relation.
    *
    * Crash-safe: the file is written under a hidden temp name in `dir` and
    * renamed onto a fixed name, which replaces the old file atomically;
    * only then are the table's other files deleted (old data files,
    * checksums, `_SUCCESS`, temp files of a crashed run). So `dir` always
    * holds a complete table. The old checksum goes before the rename and
    * the new one comes after it: a file without a checksum is read
    * unverified, a file with a stale one is not read at all. */
  private def replaceTable(spark: SparkSession, dir: String, schema: StructType,
                           rows: Seq[Row]): DataFrame = {
    val job = Job.getInstance(spark.sparkContext.hadoopConfiguration)
    val files = new ParquetFileFormat().prepareWrite(spark, job, Map.empty, schema)
    val task = new TaskAttemptContextImpl(job.getConfiguration, new TaskAttemptID())
    val table = Paths.get(dir)
    Files.createDirectories(table)
    val target = table.resolve(s"part-00000${files.getFileExtension(task)}")
    val tmp = table.resolve(s".tmp-${java.util.UUID.randomUUID()}-${target.getFileName}")
    def crc(p: java.nio.file.Path) = p.resolveSibling(s".${p.getFileName}.crc")

    val writer = files.newInstance(tmp.toString, schema, task)
    val toInternal = CatalystTypeConverters.createToCatalystConverter(schema)
    try rows.foreach(r => writer.write(toInternal(r).asInstanceOf[InternalRow]))
    finally writer.close()
    crashHook(s"${table.getFileName}.tmp")

    Files.deleteIfExists(crc(target))
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
    if (Files.exists(crc(tmp))) Files.move(crc(tmp), crc(target), StandardCopyOption.ATOMIC_MOVE)
    crashHook(s"${table.getFileName}.moved")

    val keep = Set(target, crc(target)).map(_.getFileName.toString)
    table.toFile.listFiles().filterNot(f => keep(f.getName)).foreach { f =>
      require(FileUtil.fullyDelete(f), s"$dir: could not delete ${f.getName}")
    }
    spark.createDataFrame(rows.asJava, schema)
  }

  /** Run the whole chain from a crawler-CSV directory into a parquet
    * warehouse. Dims/facts are loaded idempotently (A1-A3); mart is a full
    * recompute (it is an aggregate view, SURVEY §2.9). Returns the mart, as
    * a local relation of the rows just written. */
  def runAll(spark: SparkSession, csvDir: String, warehouseRoot: String): DataFrame = {
    val lay = Layout(warehouseRoot)
    // source_id mirrors the reference's processCode = "P" + sourceId
    // convention (ETLMain.java:157-158); MART has no crawl source → 0
    def sourceOf(stage: String): Int =
      if (stage.matches("P\\d")) stage.drop(1).toInt else 0
    def gate[T](stage: String)(body: => T): T = {
      val started = new java.sql.Timestamp(System.currentTimeMillis())
      // RUNNING append allocates the process_id; the terminal append
      // reuses it — the reference's generated-key INSERT→UPDATE pair
      // (ETLMain.java:164-190) in append-only form
      val pid = Control.logStatus(spark, lay.processLog, stage, "RUNNING",
        s"$stage start", started, sourceOf(stage))
      try {
        val out = body
        Control.logStatus(spark, lay.processLog, stage, "SUCCESS",
          s"$stage done", started, sourceOf(stage), pid)
        out
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

    // Each stage returns the schema it wrote. A table this run wrote is
    // read back with that schema, so the read runs no schema-inference
    // job (a file source reads every column as nullable either way).
    val stagingSchema = gate("P2") {
      val stg = Lottery.staging(spark, csvDir)
      stg.write.mode("overwrite").parquet(lay.staging)
      stg.schema
    }
    require(Control.lastStatusIsSuccess(spark, lay.processLog, "P2"),
      "P2 gate failed (StagingController.java:41-67 semantics)")

    val transformSchema = gate("P3") {
      val tr = Lottery.transform(spark.read.schema(stagingSchema).parquet(lay.staging))
      tr.write.mode("overwrite").parquet(lay.transform)
      tr.schema
    }
    require(Control.lastStatusIsSuccess(spark, lay.processLog, "P3"),
      "P3 gate failed (LotteryTransform.java:26-40 semantics)")

    val (dn, dimDateSchema, factSchema) = gate("P4") {
      // Each append reads the directory it writes to, with no cache in
      // between: the input file list is fixed when the query is planned,
      // and the anti-join's stages finish before the job commits its new
      // files, so a load never sees its own output.
      val tr = spark.read.schema(transformSchema).parquet(lay.transform)
      val dd = Lottery.dimDate(tr)
      Upsert.newRows(readOrEmpty(spark, lay.dimDate, dd), dd, Seq("date_key"))
        .write.mode("append").parquet(lay.dimDate)
      crashHook("dim_date")
      // dim_number is a full aggregate (last_appeared_date moves) →
      // deterministic recompute, the K4-update canonicalization, except
      // that a number keeps the key the appended facts already carry;
      // ≤100 rows, so the keys are assigned and the table written on the
      // driver, and the facts join the rows it holds
      val fresh = Lottery.dimNumber(tr)
      val dn = replaceTable(spark, lay.dimNumber, fresh.schema,
        Lottery.keepNumberKeys(storedNumberKeys(spark, lay.dimNumber), fresh.collect().toSeq))
      crashHook("dim_number")
      val fp = Lottery.factPrize(tr, dn)
      // fact-sized key set: shuffled anti-join, never broadcast (at scale
      // the existing-facts projection is itself fact-sized)
      Upsert.newRows(readOrEmpty(spark, lay.factPrize, fp), fp,
        Seq("date_key", "number_key"), broadcastExisting = false)
        .write.mode("append").parquet(lay.factPrize)
      crashHook("fact_prize")
      (dn, dd.schema, fp.schema)
    }

    // the mart is ≤100 rows (one per two-digit number): collected once,
    // written by the driver, and returned as the rows it holds
    gate("MART") {
      val mart = Lottery.mart(spark.read.schema(factSchema).parquet(lay.factPrize), dn,
        spark.read.schema(dimDateSchema).parquet(lay.dimDate))
      replaceTable(spark, lay.mart, mart.schema, mart.collect().toSeq)
    }
  }
}
