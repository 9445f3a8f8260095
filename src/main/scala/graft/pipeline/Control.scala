package graft.pipeline

import java.nio.file.{FileAlreadyExistsException, Files, Paths, StandardCopyOption}

import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.{MessageType, MessageTypeParser}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's `control` database surface (SURVEY §0, §2.1-§2.2):
  * key-value config (S6) and the process_log run log (K5), re-expressed as
  * a config map + an append-only parquet run log. The log is a local
  * directory of single-row parquet files written by the driver; its gates
  * read the directory listing only (see `logStatus`).
  */
object Control {

  /** S6: key-value config scan → Map (Util.java:7-21 reads config_database
    * into a HashMap; config is driver-side by nature, so a collect is
    * correct here — this is the ONE place a collect belongs). */
  def configMap(kv: DataFrame): Map[String, String] =
    kv.select(col("config_key").cast("string"), col("config_value").cast("string"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap

  /** X13: parse the reference's "host: x, port: y" flat config string
    * (transform_staging/Util.java:14-28). */
  def parseKvString(cfg: String): Map[String, String] =
    cfg.split(",").iterator
      .map(_.split(":", 2))
      .collect { case Array(k, v) => k.trim -> v.trim }
      .toMap

  /** The connection fields the reference's XML config carries
    * (crawl_data/src/main/java/python2/XMLConfigReader.java:23-27). */
  val xmlConfigKeys: Seq[String] =
    Seq("host", "port", "database", "username", "password")

  /** S6 (XML form): read the reference's `control.xml` connection config
    * (XMLConfigReader.java:12-33 — DOM parse, one text value per tag).
    * Returns None for a missing file, mirroring the reference's null;
    * absent tags are simply absent keys (the reference would NPE — a
    * missing key here surfaces at use-site with a real error instead).
    * Driver-side JDK DOM, config-sized by nature — no Spark involved. */
  def readXmlConfig(xmlFilePath: String): Option[Map[String, String]] = {
    val f = new java.io.File(xmlFilePath)
    if (!f.exists()) None
    else {
      val doc = javax.xml.parsers.DocumentBuilderFactory.newInstance()
        .newDocumentBuilder().parse(f)
      doc.getDocumentElement.normalize()
      Some(xmlConfigKeys.flatMap { k =>
        val nodes = doc.getElementsByTagName(k)
        if (nodes.getLength > 0) Some(k -> nodes.item(0).getTextContent)
        else None
      }.toMap)
    }
  }

  /** Full reference schema (SURVEY §1.3): `process_id BIGINT AI,
    * source_id INT, process_code, status, started_at, ended_at, message`
    * (ETLMain.java:164-167). */
  val processLogSchema: StructType = StructType(Seq(
    StructField("process_id", LongType),      // AUTO_INCREMENT analog
    StructField("source_id", IntegerType),
    StructField("process_code", StringType),  // 'P1'..'P4'
    StructField("status", StringType),        // RUNNING/SUCCESS/FAIL
    StructField("started_at", TimestampType),
    StructField("ended_at", TimestampType),
    StructField("message", StringType)))

  /** `processLogSchema` as the parquet schema of one log file: the types
    * Spark's own writer would pick, timestamps as UTC-adjusted micros. */
  private val logFileSchema: MessageType = MessageTypeParser.parseMessageType(
    """message spark_schema {
      |  optional int64 process_id;
      |  optional int32 source_id;
      |  optional binary process_code (STRING);
      |  optional binary status (STRING);
      |  optional int64 started_at (TIMESTAMP(MICROS,true));
      |  optional int64 ended_at (TIMESTAMP(MICROS,true));
      |  optional binary message (STRING);
      |}""".stripMargin)

  /** One log file's name: `<ended_at millis>-<process_id>-<process_code>-<status>.parquet`.
    * Everything the gates need is in the name, so they read a listing and
    * never open a file. */
  private val logFileName = """(\d+)-(\d+)-(\w+)-(\w+)\.parquet""".r

  private final case class LogEntry(endedMs: Long, processId: Long, code: String,
                                    status: String) {
    /** Latest-row order: ended_at, then process_id, then a terminal row
      * over its own RUNNING row logged in the same millisecond. */
    def order: (Long, Long, Int) = (endedMs, processId, if (status == "RUNNING") 0 else 1)
  }

  /** An in-flight id claim: created with CREATE_NEW before the RUNNING row
    * is written, deleted once that row's file is in place. The leading
    * `_` hides it from Spark's file listing. */
  private val claimName = """_claim-(\d+)""".r

  /** One directory listing: the log entries and the claimed ids. Spark's
    * hidden files (`.`/`_` prefixes: temp files, checksums, claims) are
    * not rows; any other name that does not parse fails loudly rather than
    * being skipped by a gate. */
  private def listLog(logDir: String): (Seq[LogEntry], Seq[Long]) = {
    val names = Option(new java.io.File(logDir).list()).map(_.toSeq).getOrElse(Nil)
    val entries = names.filterNot(n => n.startsWith(".") || n.startsWith("_")).map {
      case logFileName(ms, id, code, status) => LogEntry(ms.toLong, id.toLong, code, status)
      case other => throw new IllegalStateException(
        s"process_log $logDir: unrecognised file $other")
    }
    (entries, names.collect { case claimName(id) => id.toLong })
  }

  /** Generated-key analog (ETLMain.java:177-178 reads the AUTO_INCREMENT
    * key back): claim max(listed ids, claimed ids) + 1. The claim file is
    * created with CREATE_NEW, so of two orchestrators racing for one id
    * exactly one wins; the loser re-lists and tries the next. A winner
    * also re-lists: an id whose claim was already released has its
    * RUNNING file in place by then, so it is seen and skipped. Returns
    * the id and its claim file, which the caller deletes once the RUNNING
    * file is written (a crash in between leaves a claim that only burns
    * its id). */
  private def claimProcessId(logDir: String): (Long, java.nio.file.Path) = {
    Files.createDirectories(Paths.get(logDir))
    @scala.annotation.tailrec
    def attempt(tries: Int): (Long, java.nio.file.Path) = {
      require(tries < 1000, s"process_log $logDir: no process_id claimed in $tries tries")
      val (entries, claimed) = listLog(logDir)
      val id = (entries.map(_.processId) ++ claimed).foldLeft(0L)(math.max) + 1
      val claim = Paths.get(logDir, s"_claim-$id")
      val won =
        try { Files.createFile(claim); true }
        catch { case _: FileAlreadyExistsException => false }
      if (won && !listLog(logDir)._1.exists(_.processId == id)) (id, claim)
      else {
        if (won) Files.delete(claim)
        attempt(tries + 1)
      }
    }
    attempt(0)
  }

  private def micros(ts: java.sql.Timestamp): Long =
    Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000

  /** Write one row as `logDir/name`: parquet written by the driver through
    * java.nio (parquet's `LocalOutputFile`, no Hadoop FileSystem and so no
    * `.crc`) to a hidden temp name, then moved in with one atomic rename. A
    * reader never sees a partial file. */
  private def writeLogFile(spark: SparkSession, logDir: String, name: String,
                           row: Group): Unit = {
    val tmp = Paths.get(logDir, s".tmp-${java.util.UUID.randomUUID()}.parquet")
    // one row per file: a dictionary page would only add bytes
    val writer = ExampleParquetWriter.builder(new LocalOutputFile(tmp))
      .withConf(spark.sparkContext.hadoopConfiguration)
      .withType(logFileSchema).withDictionaryEncoding(false).build()
    try writer.write(row) finally writer.close()
    Files.move(tmp, Paths.get(logDir, name), StandardCopyOption.ATOMIC_MOVE)
  }

  /** K5/process_log analog: append one status row. The reference INSERTs
    * a RUNNING row, reads back its generated process_id, and later
    * UPDATEs that row by key (ETLMain.java:164-190); append-only form:
    * the RUNNING append allocates and RETURNS the process_id, and the
    * terminal SUCCESS/FAIL append passes it back in — same correlation,
    * immutable rows (current status = latest row per process_code, S7's
    * gate below).
    *
    * Storage: one single-row parquet file per call, written by the driver
    * (no Spark job) and named by `logFileName`, so
    * `spark.read.schema(processLogSchema).parquet(logDir)` reads the whole
    * log while the gates read only the directory listing. `processCode`
    * and `status` are word characters (`\w+`): they are part of the name. */
  def logStatus(spark: SparkSession, logDir: String, processCode: String,
                status: String, message: String,
                startedAt: java.sql.Timestamp = null,
                sourceId: Int = 0, processId: Long = -1L): Long = {
    require(processCode.matches("\\w+") && status.matches("\\w+"),
      s"process_code and status must be word characters: $processCode, $status")
    val claim = if (processId >= 0) None else Some(claimProcessId(logDir))
    val id = claim.fold(processId)(_._1)
    val now = new java.sql.Timestamp(System.currentTimeMillis())
    val row = new SimpleGroupFactory(logFileSchema).newGroup()
      .append("process_id", id)
      .append("source_id", sourceId)
      .append("process_code", processCode)
      .append("status", status)
      .append("started_at", micros(Option(startedAt).getOrElse(now)))
      .append("ended_at", micros(now))
    Option(message).foreach(row.append("message", _))
    writeLogFile(spark, logDir, s"${now.getTime}-$id-$processCode-$status.parquet", row)
    claim.foreach { case (_, path) => Files.delete(path) }
    id
  }

  /** S7: stage-dependency gate — latest status of `processCode` is SUCCESS
    * (StagingController.java:41-67 / ETLMain.java:98-111 gating). Reads
    * one directory listing; `spark` is unused and kept so the log's
    * functions share one signature. */
  def lastStatusIsSuccess(spark: SparkSession, logDir: String,
                          processCode: String): Boolean =
    listLog(logDir)._1.filter(_.code == processCode).maxByOption(_.order)
      .exists(_.status == "SUCCESS")
}
