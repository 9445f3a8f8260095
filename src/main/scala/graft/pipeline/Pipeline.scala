package graft.pipeline

import java.net.URLEncoder
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{FileAlreadyExistsException, Files, Paths, StandardCopyOption}
import java.nio.file.attribute.BasicFileAttributes

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileUtil
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.conf.HadoopParquetConfiguration
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.{ParquetOutputFormat, ParquetReader, ParquetWriter}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.io.{LocalInputFile, LocalOutputFile}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetWriteSupport}
import org.apache.spark.sql.types._

/** Orchestration of the full P2→P4+mart chain (SURVEY §3.1 restatement):
  * one SparkSession, the stages as driver functions over held rows,
  * parquet between stages, process_log-style gating via Control.
  *
  * The reference runs four separate JVMs coordinated by polling a MySQL
  * `process_log`; here the stages are function calls, the gate survives as
  * an explicit precondition (so a failed run can be diagnosed and re-run),
  * and every load is idempotent (batch markers, and facts appended only
  * for the pairs not stored), so re-running after a crash is safe — the
  * property the reference's gating exists to protect.
  *
  * A run loads only what is new. The crawler files not yet staged become
  * one batch, numbered by P2's process_id: P2 stages them into
  * `staging/batch=<b>`, P3 transforms that batch into `transform/batch=<b>`,
  * and P4 adds its days, numbers and facts to the star schema. P3 and P4
  * also take the batches a crashed run left pending, one at a time in
  * batch order. Each stage commits a batch with a zero-byte marker in
  * `_batches` (`Marks`), so a run does work in proportion to the new
  * files, not to history. A batch directory is read by its path, never
  * through its table's root, and a run that finds nothing new writes
  * nothing.
  *
  * A run with new files, in order, runs no Spark job. P2 parses the new
  * files on the driver with Spark's own CSV classes (`Lottery.stagingRows`)
  * and P3 maps the rows P2 holds (`Lottery.transformRows`); each writes
  * its batch as one file. P4 builds both dims and the facts on the
  * driver. A batch in order (every day of it later than every day stored
  * before it, as a daily crawl's is) reads no stored fact: its per-number
  * gap continues from the held dim_number's last appearances. A late day
  * takes the stored facts' (date_key, number_key) pairs, read on the
  * driver, as its gap history. MART runs none when no day of any new
  * batch was stored before: every row of such a batch is a new fact, so
  * the mart's totals are the stored mart's plus the batch's rows per
  * number. A re-crawled day makes MART recompute the totals from all the
  * facts, one Spark aggregate; so does any loaded batch the stored mart
  * may not count (`marted-` marks). A run with nothing new returns the
  * stored mart.
  *
  * A load's batch (27 staging rows per draw day), the dims, a batch's
  * facts and the mart are small by construction (dim_date one row per
  * draw day, ≤100 facts per draw day, dim_number and mart ≤100 rows), so
  * the driver builds them (`Lottery.stagingRows`, `Lottery.transformRows`,
  * `Lottery.dimDateRows`, `Lottery.dimNumberRows`, `Lottery.factRows`),
  * writes them (`writeFile`, `replaceTable`) and passes them on: P3 and
  * P4 take the rows the stage before holds, the next load reads the
  * stored dims on the driver, the facts take their keys from the held
  * dim_number, the mart is computed on the driver from held rows
  * (`Lottery.mart`), and the returned mart is the held mart, which
  * `Serving` snapshots without a Spark job. Every re-read of a table is
  * given its declared schema (`Schemas`), so no read runs a
  * schema-inference job. The run log is written by the driver, one small
  * parquet file per status row, and the gates read only the log's
  * directory listing (see `Control.logStatus`), so bookkeeping runs no
  * Spark job either.
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
    /** Batch markers, hidden from Spark's listings by the leading `_`. */
    val batches = s"$root/_batches"
  }

  /** Called at each stage's commit points and inside `writeFile` and
    * `replaceTable`: "staging.tmp"/"transform.tmp" (a batch's temp file
    * written, not moved in), "staging"/"transform" (a batch written, not
    * committed) and "staging.committed"/"transform.committed";
    * "<table>.tmp" (temp file written, not moved in) and "<table>.moved"
    * (moved in, old files not yet deleted) for dim_date, dim_number and
    * the mart; "fact_prize.tmp" (a batch's facts written, not moved in);
    * "dim_date" and "dim_number" (replaced); "fact_prize" (facts
    * appended, batch not marked loaded), "loaded" and "marted" (the mart
    * replaced, its batches not marked). Tests throw from it to crash a
    * run there. */
  private[graft] var crashHook: String => Unit = _ => ()

  private def hidden(name: String): Boolean = name.startsWith(".") || name.startsWith("_")

  /** The batch bookkeeping: one listing of `_batches`. Each marker is a
    * zero-byte file whose name is all it says, so it adds no byte to the
    * warehouse and reading it opens no file.
    *
    *  - `file-<b>-<identity>`: a crawler file staged in batch `b`, where a
    *    file's identity is its length, modification time and (encoded)
    *    name, so a re-crawled file is staged again;
    *  - `<stage>-<b>` for stage staged, transformed and loaded: batch `b`
    *    passed that stage. Creating it is the stage's one atomic commit;
    *  - `marted-<b>`: the stored mart counts batch `b`'s facts. MART
    *    creates it after it replaces the mart, for every loaded batch.
    *
    * A file marker counts only once its batch is staged: P2 creates the
    * file markers before it writes the batch, and a run that finds markers
    * of an unstaged batch deletes them with the batch's staging data. */
  private final case class Marks(dir: String, files: Seq[(Long, String)],
                                 done: Map[String, Set[Long]]) {
    def passed(stage: String): Set[Long] = done.getOrElse(stage, Set.empty)

    /** Batches past `from` and not yet past `to`, in batch order. */
    def pending(from: String, to: String): Seq[Long] = (passed(from) -- passed(to)).toSeq.sorted

    def mark(stage: String, batch: Long): Marks = {
      create(s"$stage-$batch")
      copy(done = done.updated(stage, passed(stage) + batch))
    }

    def create(name: String): Unit =
      try Files.createFile(Paths.get(dir, name))
      catch { case _: FileAlreadyExistsException => }
  }

  private val stageMark = """(staged|transformed|loaded|marted)-(\d+)""".r
  private val fileMark = """file-(\d+)-(.+)""".r

  private def marks(dir: String): Marks = {
    Files.createDirectories(Paths.get(dir))
    val names = Option(new java.io.File(dir).list()).toSeq.flatten
    Marks(dir,
      names.collect { case fileMark(b, id) => b.toLong -> id },
      names.collect { case stageMark(stage, b) => stage -> b.toLong }
        .groupMap(_._1)(_._2).map { case (k, v) => k -> v.toSet })
  }

  /** A crawler file's identity: length, modification time and name. */
  private def identity(name: String, attrs: BasicFileAttributes): String =
    s"${attrs.size}-${attrs.lastModifiedTime.toMillis}-${URLEncoder.encode(name, UTF_8)}"

  private def deleteTree(path: String): Unit = {
    val f = new java.io.File(path)
    if (f.exists()) require(FileUtil.fullyDelete(f), s"could not delete $path")
  }

  /** The parquet table at `path` read with `schema`, or an empty relation
    * of that schema when there is none yet. */
  private def readTable(spark: SparkSession, path: String, schema: StructType): DataFrame =
    if (new java.io.File(path).exists()) spark.read.schema(schema).parquet(path)
    else local(spark, schema, Nil)

  private def local(spark: SparkSession, schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  /** The rows of the table at `dir`, read on the driver (no Spark job)
    * through java.nio in `schema`'s columns, which are ints, strings,
    * dates, timestamps (which Spark writes as INT96) or decimals of more
    * than 18 digits (which Spark writes as fixed-length byte arrays). For
    * the small tables `replaceTable` writes, a batch's staging (27 rows
    * per draw day) or transform (4 rows per draw day) and, for a late
    * batch, the stored facts' keys (≤100 per draw day), whether the
    * driver or Spark wrote them. Empty when there is none. */
  private[graft] def storedRows(spark: SparkSession, dir: String, schema: StructType): Seq[Row] = {
    val conf = new HadoopParquetConfiguration(spark.sparkContext.hadoopConfiguration)
    def value(g: Group, f: StructField): Any =
      if (g.getFieldRepetitionCount(f.name) == 0) null
      else f.dataType match {
        case IntegerType => g.getInteger(f.name, 0)
        case StringType => g.getString(f.name, 0)
        case DateType => java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(g.getInteger(f.name, 0)))
        case TimestampType =>
          // INT96: the nanoseconds of the day, then the Julian day, little-endian
          val int96 = g.getInt96(f.name, 0).toByteBuffer.order(java.nio.ByteOrder.LITTLE_ENDIAN)
          val nanos = int96.getLong
          DateTimeUtils.toJavaTimestamp(DateTimeUtils.fromJulianDay(int96.getInt, nanos))
        case t: DecimalType if t.precision > Decimal.MAX_LONG_DIGITS =>
          new java.math.BigDecimal(new java.math.BigInteger(g.getBinary(f.name, 0).getBytes), t.scale)
        case t => throw new IllegalArgumentException(s"$dir: no driver read of ${f.name}: $t")
      }
    Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .filterNot(f => hidden(f.getName)).sortBy(_.getName)
      .flatMap { file =>
        val reader = new ParquetReader.Builder[Group](new LocalInputFile(file.toPath), conf) {
          override def getReadSupport() = new GroupReadSupport()
        }.build()
        try Iterator.continually(reader.read()).takeWhile(_ != null)
          .map(g => new GenericRowWithSchema(schema.map(value(g, _)).toArray, schema): Row).toList
        finally reader.close()
      }
  }

  /** The tables' schemas as a file source reads them back (every column
    * nullable), declared so that a re-read runs no schema inference and a
    * run analyses no plan to learn them. Each is its driver builder's
    * schema, read back (`PipelineOrchestrationSpec` checks it). */
  private[graft] object Schemas {
    private def nullable(s: StructType) = StructType(s.map(_.copy(nullable = true)))
    val staging: StructType = nullable(Lottery.stagingSchema)
    val transform: StructType = nullable(Lottery.transformSchema)
    /** The transform columns P4 reads on the driver: each draw's number
      * and day. */
    val draws: StructType = StructType(transform.take(2))
    val date: StructType = Lottery.dimDateSchema
    val number: StructType = nullable(Lottery.dimNumberSchema)
    val fact: StructType = nullable(Lottery.factSchema)
    /** The fact columns a late batch reads on the driver as its gap
      * history: each stored fact's (date_key, number_key). */
    val factKeys: StructType = StructType(fact.take(2))
  }

  /** Spark's parquet write support for a file parquet opens itself. */
  private final class RowWriter(file: LocalOutputFile)
      extends ParquetWriter.Builder[InternalRow, RowWriter](file) {
    override def self(): RowWriter = this
    override def getWriteSupport(conf: Configuration): WriteSupport[InternalRow] =
      new ParquetWriteSupport()
  }

  /** Write `rows` (small by construction) on the driver as the one
    * parquet file `<stem><extension>` in `dir`, through Spark's own write
    * support: the confs `ParquetFileFormat.prepareWrite` sets and its
    * `ParquetWriteSupport`, so types and footer are a Spark write's, and no
    * Spark job runs. The file goes through java.nio (parquet's
    * `LocalOutputFile`), not Hadoop's FileSystem, so it has no `.crc`.
    * Returns the file's path.
    *
    * Crash-safe: the file is written under a hidden temp name in `dir` and
    * renamed onto its name, which replaces a file of that name atomically,
    * so the name never holds a partial file. A checksum left by a Hadoop
    * write of the same name goes before the rename: a stale one would
    * fail the read. */
  private def writeFile(spark: SparkSession, dir: String, stem: String, schema: StructType,
                        rows: Seq[Row]): java.nio.file.Path = {
    val job = Job.getInstance(spark.sparkContext.hadoopConfiguration)
    val files = new ParquetFileFormat().prepareWrite(spark, job, Map.empty, schema)
    val conf = job.getConfiguration
    val table = Paths.get(dir)
    Files.createDirectories(table)
    val target = table.resolve(
      s"$stem${files.getFileExtension(new TaskAttemptContextImpl(conf, new TaskAttemptID()))}")
    val tmp = table.resolve(s".tmp-${java.util.UUID.randomUUID()}-${target.getFileName}")

    val writer = new RowWriter(new LocalOutputFile(tmp)).withConf(conf)
      .withCompressionCodec(ParquetOutputFormat.getCompression(conf)).build()
    val toInternal = CatalystTypeConverters.createToCatalystConverter(schema)
    try rows.foreach(r => writer.write(toInternal(r).asInstanceOf[InternalRow]))
    finally writer.close()
    // the crash point names the table, also for a batch directory
    val name = table.getFileName.toString
    crashHook(s"${if (name.startsWith("batch=")) table.getParent.getFileName else name}.tmp")

    Files.deleteIfExists(target.resolveSibling(s".${target.getFileName}.crc"))
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
    target
  }

  /** Replace the table at `dir` with `rows`, written by `writeFile` onto a
    * fixed name; only then are the table's other files deleted (old data
    * files, checksums, `_SUCCESS`, temp files of a crashed run). So `dir`
    * always holds a complete table. Returns the rows as a local relation. */
  private def replaceTable(spark: SparkSession, dir: String, schema: StructType,
                           rows: Seq[Row]): DataFrame = {
    val target = writeFile(spark, dir, "part-00000", schema, rows)
    crashHook(s"${target.getParent.getFileName}.moved")
    target.getParent.toFile.listFiles().filterNot(_.getName == target.getFileName.toString).foreach { f =>
      require(FileUtil.fullyDelete(f), s"$dir: could not delete ${f.getName}")
    }
    spark.createDataFrame(rows.asJava, schema)
  }

  /** One batch's load: dim_number's and dim_date's rows after it, the days
    * it added, the facts it appended and, when none of its days was stored
    * before, its transform rows per number_value. */
  private final case class Load(numbers: Seq[Row], dates: Seq[Row], days: Int, facts: Int,
                                newDayRows: Option[Map[String, Long]])

  /** Run the whole chain from a crawler-CSV directory into a parquet
    * warehouse, loading the files not loaded before. Dims/facts are loaded
    * idempotently (A1-A3); the mart is an aggregate view (SURVEY §2.9),
    * maintained from the batches of new days and otherwise recomputed.
    * Returns the mart, as a local relation of the rows it holds.
    *
    * With files landed in date order, every table equals one build over
    * the whole drop (staging and transform up to `load_timestamp`, which
    * records each row's first load); `Lottery.factRows` documents the
    * cases that differ. */
  def runAll(spark: SparkSession, csvDir: String, warehouseRoot: String): DataFrame = {
    val lay = Layout(warehouseRoot)
    // source_id mirrors the reference's processCode = "P" + sourceId
    // convention (ETLMain.java:157-158); MART has no crawl source → 0
    def sourceOf(stage: String): Int =
      if (stage.matches("P\\d")) stage.drop(1).toInt else 0
    // the body gets the stage's process_id and returns its value and the
    // SUCCESS row's message
    def gate[T](stage: String)(body: Long => (T, String)): T = {
      val started = new java.sql.Timestamp(System.currentTimeMillis())
      // RUNNING append allocates the process_id; the terminal append
      // reuses it — the reference's generated-key INSERT→UPDATE pair
      // (ETLMain.java:164-190) in append-only form
      val pid = Control.logStatus(spark, lay.processLog, stage, "RUNNING",
        s"$stage start", started, sourceOf(stage))
      try {
        val (out, message) = body(pid)
        Control.logStatus(spark, lay.processLog, stage, "SUCCESS",
          s"$stage: $message", started, sourceOf(stage), pid)
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
    // on P1 SUCCESS — without this row the four-stage log story is 3/4).
    // Its listing, name → identity, is what P2 stages from.
    val drop = gate("P1") { _ =>
      val dir = Paths.get(csvDir)
      val files =
        if (!Files.isDirectory(dir)) Nil
        else {
          val stream = Files.newDirectoryStream(dir, "*.csv")
          try stream.asScala.toSeq.flatMap { p =>
            val name = p.getFileName.toString
            val attrs = Files.readAttributes(p, classOf[BasicFileAttributes])
            Option.when(!hidden(name) && attrs.isRegularFile)(name -> identity(name, attrs))
          } finally stream.close()
        }
      require(files.nonEmpty, s"P1: no crawler CSVs in $csvDir")
      (files, s"${files.size} crawler files")
    }
    require(Control.lastStatusIsSuccess(spark, lay.processLog, "P1"),
      "P1 gate failed (StagingController.java:41-44 semantics)")

    var mk = marks(lay.batches)

    // P2: the drop's files whose identity no staged batch holds become one
    // batch, parsed on the driver and written as one file with one
    // load_timestamp. A batch that never committed (a crash between its
    // file markers and its staged marker) is deleted first, markers
    // included. The staged rows are held for P3.
    val stagedRows = gate("P2") { pid =>
      val staged = mk.passed("staged")
      mk.files.collect { case (b, _) if !staged(b) => b }.distinct.foreach { b =>
        deleteTree(s"${lay.staging}/batch=$b")
        mk.files.collect { case (`b`, id) => id }.foreach(id =>
          Files.delete(Paths.get(lay.batches, s"file-$b-$id")))
      }
      mk = mk.copy(files = mk.files.filter { case (b, _) => staged(b) })
      val known = mk.files.map(_._2).toSet
      val fresh = drop.filterNot { case (_, id) => known(id) }
      if (fresh.isEmpty) (Map.empty[Long, Seq[Row]], "nothing new")
      else {
        fresh.foreach { case (_, id) => mk.create(s"file-$pid-$id") }
        // by name, also on a cold build: a file that lands after P1's
        // listing has no marker, so it must wait for the next run
        val rows = Lottery.stagingRows(spark.sparkContext.hadoopConfiguration,
          fresh.map { case (name, _) => Paths.get(csvDir, name) }.sortBy(_.toString),
          DateTimeUtils.toJavaTimestamp(DateTimeUtils.instantToMicros(java.time.Instant.now())))
        writeFile(spark, s"${lay.staging}/batch=$pid", "part-00000", Lottery.stagingSchema, rows)
        crashHook("staging")
        mk = mk.mark("staged", pid)
        crashHook("staging.committed")
        (Map(pid -> rows), s"batch $pid: staged ${fresh.size} files")
      }
    }
    require(Control.lastStatusIsSuccess(spark, lay.processLog, "P2"),
      "P2 gate failed (StagingController.java:41-67 semantics)")

    // P3: each staged batch not yet transformed, normally just P2's, whose
    // rows P2 holds; a batch a crashed run left is read back. Each is
    // transformed on the driver and written as one file, replacing a
    // crashed transform of it. The transformed rows are held for P4.
    val transformedRows = gate("P3") { _ =>
      val pending = mk.pending("staged", "transformed")
      val out = pending.map { b =>
        deleteTree(s"${lay.transform}/batch=$b")
        val rows = Lottery.transformRows(stagedRows.getOrElse(b,
          storedRows(spark, s"${lay.staging}/batch=$b", Schemas.staging)))
        writeFile(spark, s"${lay.transform}/batch=$b", "part-00000", Lottery.transformSchema, rows)
        crashHook("transform")
        mk = mk.mark("transformed", b)
        crashHook("transform.committed")
        b -> rows
      }.toMap
      (out, if (pending.isEmpty) "nothing new" else s"transformed batches ${pending.mkString(",")}")
    }
    require(Control.lastStatusIsSuccess(spark, lay.processLog, "P3"),
      "P3 gate failed (LotteryTransform.java:26-40 semantics)")

    // P4: the transformed batches not yet loaded, one at a time in batch
    // order, so a day that a later batch stages again (a re-crawled file)
    // meets the earlier batch's stored facts, as it does when the two
    // batches load on separate runs. The star schema is small, so the
    // stored dims are read on the driver, and so are the batch's draws
    // (each draw's number and day, 4 rows per draw day) unless P3 holds
    // them, and the dims and the facts are built there: dim_date from
    // the stored days and the batch's, dim_number from each number's
    // latest draw, stored or in the batch, with the stored keys kept, and
    // the facts from the batch's draws. The batch's days also decide
    // whether it is in order and whether any of them was stored, and its
    // draws are counted per number for the mart. P4 runs no Spark job.
    //
    // A load writes dim_date, then dim_number, then the facts, and keeps
    // that order: once any of a batch's state is stored, the stored
    // dim_date holds the batch's days, so a replay of the batch is never
    // in order (it takes the fact history) and its days are not new (MART
    // recomputes).
    def load(b: Long): Load = {
      val storedDates = storedRows(spark, lay.dimDate, Schemas.date)
      val storedNumbers = storedRows(spark, lay.dimNumber, Schemas.number)
      val batchRows =
        transformedRows.getOrElse(b, storedRows(spark, s"${lay.transform}/batch=$b", Schemas.draws))
      def day(r: Row, c: String = "full_date") = r.getAs[java.sql.Date](c).toLocalDate
      val storedDays = storedDates.map(day(_)).toSet
      val batchDays = batchRows.map(day(_))
      // in order: every batch day is later than every stored day; new
      // days: no batch day is a stored one, so no stored fact shares a
      // pair with the batch
      val inOrder = storedDays.maxOption.forall(last => batchDays.forall(_.isAfter(last)))
      val newDays = !batchDays.exists(storedDays)

      val dateRows = Lottery.dimDateRows(storedDays ++ batchDays)
      replaceTable(spark, lay.dimDate, Lottery.dimDateSchema, dateRows)
      crashHook("dim_date")
      // each number's latest draw, stored or in the batch; a stored
      // number keeps the key the appended facts already carry
      def number(r: Row) = r.getAs[String]("number_value").toInt
      val lastSeen = (storedNumbers.map(r => number(r) -> day(r, "last_appeared_date")) ++
        batchRows.map(r => r.getAs[Int]("number_value") -> day(r)))
        .groupMapReduce(_._1)(_._2)((x, y) => if (x.isAfter(y)) x else y)
      val numberRows = Lottery.dimNumberRows(lastSeen, Lottery.numberKeys(storedNumbers))
      replaceTable(spark, lay.dimNumber, Lottery.dimNumberSchema, numberRows)
      crashHook("dim_number")
      // the history of the per-number gap: in order, each stored number's
      // last appearance; otherwise the stored facts' keys, whose pairs
      // already stored (a crashed load's, a re-crawled day's) are not
      // appended again
      val history =
        if (inOrder) storedNumbers.map(r =>
          Lottery.dateKey(day(r, "last_appeared_date")) -> r.getAs[Int]("number_key"))
        else storedRows(spark, lay.factPrize, Schemas.factKeys).map(r => r.getInt(0) -> r.getInt(1))
      val facts = Lottery.factRows(
        batchRows.groupMapReduce(r => (r.getAs[Int]("number_value"), day(r)))(_ => 1)(_ + _),
        Lottery.numberKeys(numberRows), history)
      // one file per batch, named after it, so writing a batch's facts
      // twice would replace the file, not add a copy; a replay finds them
      // in its history and writes none, as does any load with no new
      // pair. A crashed write's temp file goes first
      Option(new java.io.File(lay.factPrize).listFiles()).toSeq.flatten
        .filter(_.getName.startsWith(".tmp-")).foreach(f => Files.delete(f.toPath))
      if (facts.nonEmpty) writeFile(spark, lay.factPrize, s"batch-$b", Lottery.factSchema, facts)
      crashHook("fact_prize")
      mk = mk.mark("loaded", b)
      crashHook("loaded")
      Load(numberRows, dateRows, dateRows.size - storedDates.size, facts.size,
        Option.when(newDays)(batchRows.groupMapReduce(_.getInt(0).toString)(_ => 1L)(_ + _)))
    }
    val loads = gate("P4") { _ =>
      val pending = mk.pending("transformed", "loaded")
      val loads = pending.map(b => b -> load(b))
      (loads, if (pending.isEmpty) "nothing new" else s"loaded batches ${pending.mkString(",")}: " +
        s"${loads.map(_._2.days).sum} days, ${loads.map(_._2.facts).sum} facts")
    }

    // the mart is ≤100 rows (one per two-digit number): computed on the
    // driver, written by it, and returned as the rows it holds. When every
    // batch it lacks was loaded by this run with no day stored before, its
    // totals are the stored ones plus those batches' rows per number, and
    // no fact is read; any other state (a batch with a day stored before,
    // or loaded by a crashed run, or a warehouse with no `marted-` marks)
    // recomputes them from all the facts. With nothing unmarted it is the
    // stored mart.
    gate("MART") { _ =>
      val unmarted = mk.pending("loaded", "marted")
      if (unmarted.isEmpty)
        (local(spark, Lottery.martSchema, storedRows(spark, lay.mart, Lottery.martSchema)), "nothing new")
      else {
        val (numberRows, dateRows) = loads.lastOption.fold(
          (storedRows(spark, lay.dimNumber, Schemas.number), storedRows(spark, lay.dimDate, Schemas.date)))(
          l => (l._2.numbers, l._2.dates))
        val folded = loads.collect { case (b, Load(_, _, _, _, Some(rows))) => b -> rows }.toMap
        // unmarted, all loaded with new days now: the stored mart counts
        // every batch loaded before (and there is one, or there was none)
        val totals =
          if (unmarted.toSet == folded.keySet &&
              (new java.io.File(lay.mart).exists() || mk.passed("marted").isEmpty)) {
            val stored = storedRows(spark, lay.mart, Lottery.martSchema)
              .map(r => r.getString(0) -> r.getDecimal(1)).toMap
            val added = folded.values.toSeq.flatten.groupMapReduce(_._1)(_._2)(_ + _)
            numberRows.flatMap { n =>
              val v = n.getAs[String]("number_value")
              (stored.get(v) ++ added.get(v).map(java.math.BigDecimal.valueOf)).reduceOption(_ add _)
                .map(n.getAs[Int]("number_key") -> _)
            }.toMap
          } else Lottery.occurrences(readTable(spark, lay.factPrize, Schemas.fact))
        val rows = Lottery.mart(totals, numberRows, dateRows)
        val mart = replaceTable(spark, lay.mart, Lottery.martSchema, rows)
        crashHook("marted")
        unmarted.foreach(b => mk = mk.mark("marted", b))
        (mart, s"${rows.size} numbers")
      }
    }
  }
}
