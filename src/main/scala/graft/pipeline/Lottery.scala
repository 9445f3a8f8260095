package graft.pipeline

import java.nio.file.Files
import java.time.{DayOfWeek, LocalDate}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.csv.{CSVHeaderChecker, CSVOptions, UnivocityParser}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.catalyst.util.{DateTimeUtils, LegacyDateFormats, TimestampFormatter}
import org.apache.spark.sql.execution.datasources.{HadoopFileLinesReader, PartitionedFile}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shims
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The reference's complete warehouse pipeline (P2→P4 + mart + serving):
  * the stage functions `Pipeline` runs, each plain driver code over the
  * rows a load holds, plus the Spark forms that stay for the oracled CSV
  * scan, the streaming path and the tests (SURVEY.md §3.1 restatement).
  *
  * Stage semantics follow the reference exactly, except the four
  * canonicalizations documented in SURVEY §7.2:
  *  - days_since_last over full history (not within-batch);
  *  - fact grain (date_key, number_key) with intra-batch dedupe,
  *    occurrence_count carrying the day's multiplicity;
  *  - argmax/argmin tie-break = lowest numeric value;
  *  - deterministic surrogate keys (numeric order, not AUTO_INCREMENT).
  *
  * Scale posture: a load is one crawl drop's new files (27 rows per draw
  * day), transform is a pure map, and the star schema is small by
  * construction (≤100 numbers, 1 row per draw day, ≤100 facts per draw
  * day). So staging parses the new files with Spark's own CSV classes on
  * the driver (`stagingRows`), transform maps those rows there
  * (`transformRows`), and the dims and the facts are built there too
  * (`dimDateRows`, `dimNumberRows`, `factRows`) from each draw's number
  * and day. At 100 TB these would be Spark plans, the fact build written
  * `partitionBy(year)` on date: `staging` and `transform` are the Spark
  * forms of the first two. `Pipeline` runs the driver functions over each
  * load's new files plus the stored rows they depend on (see `factRows`'
  * `history` and `mart`'s `totals`).
  */
object Lottery {

  /** Crawler CSV schema — all strings on the wire
    * (crawl_data/.../LotteryCrawler.java:301 header, :357-359 rows). */
  val crawlSchema: StructType = StructType(Seq(
    StructField("prize", StringType),
    StructField("number_value", StringType),
    StructField("full_date", StringType),
    StructField("created_at", StringType)))

  /** The options of P2's CSV parse, the same for Spark's scan (`staging`)
    * and the driver's (`stagingRows`): a header line, UTF-8, `*.csv`
    * files only (the files P1's gate and the reference's S2 scan accept).
    * A crawler file is ~1 KB, so the parser's read buffer is 4K chars, not
    * univocity's default 1M per file (the buffer bounds one read, not a
    * field: longer fields still parse). */
  private val csvOptions = Map("header" -> "true", "encoding" -> "UTF-8",
    "pathGlobFilter" -> "*.csv", "inputBufferSize" -> "4096")

  /** staging's columns: the crawl's strings and the batch's load time,
    * never null, as Spark's staging plan writes them. */
  val stagingSchema: StructType =
    crawlSchema.add(StructField("load_timestamp", TimestampType, nullable = false))

  /** P2 staging load (StagingDW/.../CsvLoader.java:8-50) as a Spark plan:
    * directory CSV scan, header skip, short-row drop (F3), ingest
    * timestamp. Spark's CSV reader natively scans the directory and
    * tolerates the crawler's UTF-8 BOM. `Pipeline` stages on the driver
    * (`stagingRows`); this plan is the oracled `s2_csv_dir_scan` query's
    * body and the tests' reference. */
  def staging(spark: SparkSession, csvDir: String): DataFrame =
    spark.read.options(csvOptions).schema(crawlSchema).csv(csvDir)
      .na.drop("any", Seq("prize", "number_value", "full_date"))
      .withColumn("load_timestamp", current_timestamp())

  /** P2 on the driver: the rows of the crawler CSV `files`, each with
    * `loadTimestamp`, in `stagingSchema`. Each file is parsed as Spark's
    * CSV scan parses one (`TextInputCSVDataSource.readFile`): Hadoop's
    * line reader (`\n`, `\r\n` or a lone `\r` ends a line, so a quoted
    * newline splits its record; a UTF-8 BOM is skipped), the first
    * non-blank line dropped as the header, blank lines skipped, and
    * univocity under `staging`'s options, which null-pads a short row and
    * truncates a long one. So the rows are `staging`'s over the same
    * files. A row with no prize, number or date is dropped, as `staging`
    * drops it. */
  def stagingRows(conf: Configuration, files: Seq[java.nio.file.Path],
                  loadTimestamp: java.sql.Timestamp): Seq[Row] = {
    val options = new CSVOptions(csvOptions, true, SQLConf.get.sessionLocalTimeZone)
    val parser = new UnivocityParser(crawlSchema, options)
    files.flatMap { path =>
      val file = PartitionedFile(InternalRow.empty, SparkPath.fromUri(path.toUri), 0, Files.size(path))
      val lines = new HadoopFileLinesReader(file, options.lineSeparatorInRead, conf)
      try Shims.parseCsvLines(
          lines.map(line => new String(line.getBytes, 0, line.getLength, options.charset)), parser,
          new CSVHeaderChecker(crawlSchema, options, s"CSV file: $path", true), crawlSchema)
        .filterNot(r => r.isNullAt(0) || r.isNullAt(1) || r.isNullAt(2))
        .map { r =>
          val fields = (0 until 4).map(i => if (r.isNullAt(i)) null else r.getUTF8String(i).toString)
          new GenericRowWithSchema((fields :+ loadTimestamp).toArray[Any], stagingSchema): Row
        }
        .toList
      finally lines.close()
    }
  }

  /** P3 transform (transform_staging/.../LotteryTransform.java:112-159)
    * as a Spark plan: keep 7th-prize rows (F2), require ≥2 chars (F4),
    * last-two-digits (X1), decile range_group (X2), dd-MM-yyyy parse (X3)
    * with cast-null quarantine of unparseable rows (F6), weekend/parity
    * flags (X7, X8). `Pipeline` transforms on the driver
    * (`transformRows`); this plan serves the streaming HTML path and is
    * the tests' reference. */
  def transform(stagingDf: DataFrame): DataFrame = {
    // try_-variants: ANSI mode (Spark 4 default) would otherwise throw on
    // the quarantine rows instead of null-ing them (F6 cast-null pattern).
    val num = trim(col("number_value"))
    val n = expr("try_cast(substring(trim(number_value), -2, 2) AS int)")
    val d = expr("try_to_date(trim(full_date), 'dd-MM-yyyy')")
    val lo = (floor(n / 10) * 10).cast("int")
    stagingDf
      .filter(col("prize") === "Giải Bảy")
      .filter(length(num) >= 2)
      .select(n.as("number_value"), d.as("full_date"),
        concat(lpad(lo.cast("string"), 2, "0"), lit("-"),
               lpad((lo + 9).cast("string"), 2, "0")).as("range_group"),
        when(dayofweek(d).isin(1, 7), 1).otherwise(0).as("is_weekend"),
        when(n % 2 === 0, 1).otherwise(0).as("is_even"),
        col("load_timestamp"))
      .filter(col("number_value").isNotNull && col("full_date").isNotNull)
  }

  /** transform's columns, as Spark's transform plan writes them from a
    * staging batch read back: the flags are never null. */
  val transformSchema: StructType = StructType(Seq(
    StructField("number_value", IntegerType),
    StructField("full_date", DateType),
    StructField("range_group", StringType),
    StructField("is_weekend", IntegerType, nullable = false),
    StructField("is_even", IntegerType, nullable = false),
    StructField("load_timestamp", TimestampType)))

  /** P3 on the driver: `transform`'s rules over staging rows, in
    * `transformSchema`, each step the function Spark evaluates: the trim
    * of spaces, the length in characters, the last two characters
    * (`substring(…, -2, 2)`), the int parse of `try_cast` (null unless
    * the whole trimmed string is an int), the date parse of
    * `try_to_date(…, 'dd-MM-yyyy')` (Spark's timestamp formatter in the
    * session time zone), the `lpad` of the decile bounds (which truncates
    * "-10" to "-1") and the day of the week. Plain driver code: 4 rows per
    * draw day. */
  def transformRows(staging: Seq[Row]): Seq[Row] = {
    val zone = DateTimeUtils.getZoneId(SQLConf.get.sessionLocalTimeZone)
    val dates = TimestampFormatter("dd-MM-yyyy", zone, LegacyDateFormats.SIMPLE_DATE_FORMAT, isParsing = true)
    def trimmed(c: String, r: Row) = Option(r.getAs[String](c)).map(v => UTF8String.fromString(v).trim())
    def orNull[T](parse: => T): Option[T] =
      try Some(parse)
      catch { case _: NumberFormatException | _: java.time.DateTimeException | _: java.text.ParseException => None }
    def pad(v: Int) = UTF8String.fromString(v.toString).lpad(2, UTF8String.fromString("0")).toString
    staging.flatMap { r =>
      for {
        prize <- Option(r.getAs[String]("prize")) if prize == "Giải Bảy"
        number <- trimmed("number_value", r) if number.numChars >= 2
        n <- orNull(number.substringSQL(-2, 2).toIntExact)
        date <- trimmed("full_date", r)
        day <- orNull(DateTimeUtils.microsToDays(dates.parse(date.toString), zone))
      } yield {
        val lo = Math.floorDiv(n, 10) * 10
        val weekday = LocalDate.ofEpochDay(day).getDayOfWeek
        new GenericRowWithSchema(Array(n, DateTimeUtils.toJavaDate(day), s"${pad(lo)}-${pad(lo + 9)}",
          if (weekday == DayOfWeek.SATURDAY || weekday == DayOfWeek.SUNDAY) 1 else 0,
          if (n % 2 == 0) 1 else 0, r.getAs[java.sql.Timestamp]("load_timestamp")), transformSchema): Row
      }
    }
  }

  /** A day's date_key, the int yyyyMMdd (X4). */
  def dateKey(d: LocalDate): Int = d.getYear * 10000 + d.getMonthValue * 100 + d.getDayOfMonth

  /** dim_date's columns, as `dimDateRows` fills them. */
  val dimDateSchema: StructType = StructType(Seq(
    StructField("date_key", IntegerType),
    StructField("full_date", DateType),
    StructField("day_of_month", IntegerType),
    StructField("month_of_year", IntegerType),
    StructField("year_value", IntegerType),
    StructField("year_month_value", StringType),
    StructField("day_name", StringType),
    StructField("is_weekend", IntegerType)))

  /** dim_date (ETLMain.java:233-285): one row per distinct draw day,
    * ordered by date_key = yyyyMMdd int (X4), with the calendar parts
    * (X5), the Vietnamese day name (X6: Mon..Sat = "Thứ 2".."Thứ 7",
    * Sun = "Chủ nhật", ETLMain.java:275-285) and the weekend flag (X7).
    * Plain driver code: one row per day. */
  def dimDateRows(days: Iterable[LocalDate]): Seq[Row] =
    days.toSeq.distinct.sortBy(_.toEpochDay).map { d =>
      val dayOfWeek = d.getDayOfWeek.getValue % 7 + 1 // 1 = Sunday .. 7 = Saturday
      new GenericRowWithSchema(Array(
        dateKey(d), java.sql.Date.valueOf(d), d.getDayOfMonth, d.getMonthValue, d.getYear,
        f"${d.getYear}%04d-${d.getMonthValue}%02d",
        if (dayOfWeek == 1) "Chủ nhật" else s"Thứ $dayOfWeek",
        if (dayOfWeek == 1 || dayOfWeek == 7) 1 else 0), dimDateSchema)
    }

  /** dim_number's columns, as `dimNumberRows` fills them: the key, parity
    * and last digit are never null. */
  val dimNumberSchema: StructType = StructType(Seq(
    StructField("number_key", IntegerType, nullable = false),
    StructField("number_value", StringType),
    StructField("is_even", IntegerType, nullable = false),
    StructField("last_digit", IntegerType, nullable = false),
    StructField("last_appeared_date", DateType)))

  /** dim_number (ETLMain.java:288-340,419-429): one row per number of
    * `lastSeen` (number → its latest draw day, G6/W3), ordered by
    * number_key, with the number as a string (X10: the int round-trip
    * strips leading zeros), parity (X8) and last_digit (X9, negative for a
    * negative number).
    *
    * A number in `keptKeys` (number → its stored number_key, each one a
    * number of `lastSeen`) keeps its key, since the facts appended so far
    * reference it; the other numbers get the keys after the largest kept
    * one, in numeric order. So with nothing kept the keys are 1..n in
    * numeric order (SURVEY §7.2: deterministic, unlike the reference's
    * insertion-order AUTO_INCREMENT), and a load never moves a stored key
    * (the reference's keys never move either). Plain driver code: ≤100
    * rows, one per two-digit number. */
  def dimNumberRows(lastSeen: Map[Int, LocalDate], keptKeys: Map[Int, Int]): Seq[Row] = {
    val next = keptKeys.values.maxOption.getOrElse(0) + 1
    val added = lastSeen.keys.filterNot(keptKeys.contains).toSeq.sorted
    (keptKeys.toSeq ++ added.zipWithIndex.map { case (n, i) => n -> (next + i) })
      .sortBy(_._2).map { case (n, key) =>
        new GenericRowWithSchema(Array(key, n.toString, if (n % 2 == 0) 1 else 0, n % 10,
          java.sql.Date.valueOf(lastSeen(n))), dimNumberSchema)
      }
  }

  /** Each number of dim_number's rows → its number_key. */
  def numberKeys(numberRows: Seq[Row]): Map[Int, Int] =
    numberRows.map(r => r.getAs[String]("number_value").toInt -> r.getAs[Int]("number_key")).toMap

  /** fact_prize's columns, as `factRows` fills them: the key and the two
    * counts are never null. */
  val factSchema: StructType = StructType(Seq(
    StructField("date_key", IntegerType),
    StructField("number_key", IntegerType, nullable = false),
    StructField("occurrence_count", IntegerType, nullable = false),
    StructField("total_draws", IntegerType, nullable = false),
    StructField("probability_value", DecimalType(38, 10)),
    StructField("days_since_last", IntegerType)))

  /** A fact's probability_value, 1/total_draws as DECIMAL(38,10): Spark's
    * `(1.0 / n) cast DECIMAL(38,10)`, which takes the double quotient's
    * shortest decimal form (`Double.toString`) and rounds it half-up. */
  private[graft] def drawProbability(totalDraws: Int): java.math.BigDecimal =
    java.math.BigDecimal.valueOf(1.0 / totalDraws).setScale(10, java.math.RoundingMode.HALF_UP)

  /** fact_prize (ETLMain.java:342-416): grain (date_key, number_key);
    * total_draws = transform rows that day (G1, the probability denominator
    * ETLMain.java:363-368); probability = 1/total_draws per draw (X11);
    * days_since_last = full-history per-number gap (W2 canonicalized);
    * occurrence_count = same-day multiplicity (A3 canonicalized: the
    * reference would double-insert; we dedupe and count).
    *
    * `draws` is the transform's (number_value, day) pairs, each with its
    * count of rows that day, and `numberKeys` maps each of its numbers to
    * its number_key (dim_number's rows). `history` is (date_key,
    * number_key) pairs for a load of new days into an existing warehouse:
    * the facts already stored, or, when every day of `draws` is later than
    * every stored day, one pair per stored number at its last appearance
    * (dim_number's `last_appeared_date`), which is all the gap needs then.
    * A pair's gap is the days since the latest earlier day of its number
    * in the history or `draws`, and only the pairs the history lacks are
    * emitted, ordered by (number_key, date_key), so that a number's facts
    * sit together in the file and compress best. Plain driver code: ≤100
    * facts per draw day, as the reference's row loop computes them.
    *
    * `total_draws` counts `draws`' rows of a day. So with days landed in
    * date order, each day in one load, the facts equal those of one build
    * over everything. A day split across two loads is the exception: the
    * second load's total_draws counts only its own rows of that day, and
    * its pairs already stored are not appended again. A day landed after
    * later days gets its gap from the earlier history, while the stored
    * fact of the number's next appearance keeps its gap. `draws` must hold
    * each day's rows once: a day in two of `Pipeline`'s batches (a
    * re-crawled file) is loaded one batch at a time, so the later batch's
    * pairs meet the earlier one's stored facts. */
  def factRows(draws: Map[(Int, LocalDate), Int], numberKeys: Map[Int, Int],
               history: Iterable[(Int, Int)]): Seq[Row] = {
    val totals = draws.groupMapReduce(_._1._2)(_._2)(_ + _)
    val known = history.toSet
    // each number_key's days, history and draws together, ascending
    val days = (history.map { case (k, n) =>
        n -> LocalDate.of(k / 10000, k / 100 % 100, k % 100).toEpochDay } ++
      draws.keys.map { case (v, d) => numberKeys(v) -> d.toEpochDay })
      .groupMap(_._1)(_._2).map { case (n, ds) => n -> ds.toArray.distinct.sorted }
    draws.toSeq.map { case ((v, d), count) => (dateKey(d), numberKeys(v), d, count) }
      .filterNot { case (k, n, _, _) => known((k, n)) }
      .sortBy { case (k, n, _, _) => (n, k) }
      .map { case (k, n, d, count) =>
        val ds = days(n)
        val i = java.util.Arrays.binarySearch(ds, d.toEpochDay)
        val gap = if (i > 0) Int.box((ds(i) - ds(i - 1)).toInt) else null
        new GenericRowWithSchema(Array(k, n, count, totals(d), drawProbability(totals(d)), gap),
          factSchema)
      }
  }

  /** Each number's `total_occurrences` (number_key → the sum of its facts'
    * occurrence_count, as DECIMAL(32,0)): the mart's one aggregate over the
    * facts, collected (≤100 rows, one per number_key). */
  def occurrences(factDf: DataFrame): Map[Int, java.math.BigDecimal] =
    factDf.groupBy(col("number_key"))
      .agg(sum(col("occurrence_count")).cast(DecimalType(32, 0)).as("total_occurrences"))
      .collect().map(r => r.getInt(0) -> r.getDecimal(1)).toMap

  /** mart_two_digit_probability's columns, as `mart` fills them. */
  val martSchema: StructType = StructType(Seq(
    StructField("number_value", StringType),
    StructField("total_occurrences", DecimalType(32, 0)),
    StructField("total_draws", IntegerType, nullable = false),
    StructField("probability", DecimalType(38, 4)),
    StructField("last_appeared_date", DateType),
    StructField("days_since_last", IntegerType)))

  /** A mart probability: `total / draws` rounded half-up to DECIMAL(38,4).
    * Equal to Spark's `(total cast DECIMAL(20,10) / draws) cast
    * DECIMAL(38,4)`: Spark first rounds the quotient half-up to 21
    * places, and no quotient of two integers below 10¹⁶ lies within
    * 10⁻²¹ of a rounding boundary without being on it. */
  private[graft] def probability(total: java.math.BigDecimal, draws: Int): java.math.BigDecimal =
    total.divide(java.math.BigDecimal.valueOf(draws.toLong), 4, java.math.RoundingMode.HALF_UP)

  /** mart_two_digit_probability (SURVEY §2.9 G7 reconstruction from
    * Backend/.../entity/Mart.java:14-34): per number — total occurrences,
    * global distinct-draw-day denominator, DECIMAL(38,4) probability,
    * last appearance and recency vs the latest draw date.
    *
    * Plain driver arithmetic over rows the caller holds, in `martSchema`:
    * `totals` is number_key → total_occurrences (`occurrences`, or a
    * stored mart's totals plus a batch's rows per number), and a number
    * gets a mart row when it has a total, in `numberRows`' order
    * (dim_number's rows). The two draw-day totals come from `dateRows`,
    * dim_date's rows (one per draw day, ≤366 per year of history). */
  def mart(totals: Map[Int, java.math.BigDecimal], numberRows: Seq[Row],
           dateRows: Seq[Row]): Seq[Row] = {
    val totalDraws = dateRows.map(_.getAs[Int]("date_key")).distinct.size
    val globalLast = dateRows.map(_.getAs[java.sql.Date]("full_date").toLocalDate).maxOption
    numberRows.flatMap { n =>
      totals.get(n.getAs[Int]("number_key")).map { total =>
        val seen = Option(n.getAs[java.sql.Date]("last_appeared_date"))
        val recency = for (last <- globalLast; s <- seen)
          yield Int.box(java.time.temporal.ChronoUnit.DAYS.between(s.toLocalDate, last).toInt)
        Row(n.getAs[String]("number_value"), total, totalDraws,
          probability(total, totalDraws), seen.orNull, recency.orNull)
      }
    }
  }

  /** GET /mart/statistic (MartRepository.java:14-33): the four dashboard
    * scalars. Tie-break = lowest numeric value (the reference JPQL throws
    * on ties, SURVEY §7.2).
    *
    * Computed on the driver over the collected mart (≤100 rows, one per
    * two-digit number) and returned as a local relation, so serving it
    * runs no Spark job. The picks follow the sort-limit definition:
    * `mostNumber` orders by total_occurrences descending with nulls last,
    * `leastNumber` ascending with nulls first, both then by
    * int(number_value) and number_value ascending with nulls first. The
    * scalars are maxima that skip nulls. An empty mart gives no row. */
  def statistic(martDf: DataFrame): DataFrame = {
    val cols = Seq("number_value", "total_occurrences", "total_draws", "last_appeared_date")
    def typeOf(c: String) = martDf.schema(c).dataType
    val schema = StructType(Seq(
      StructField("totalOccurrences", typeOf("total_draws")),
      StructField("mostNumber", typeOf("number_value")),
      StructField("leastNumber", typeOf("number_value")),
      StructField("lastUpdate", typeOf("last_appeared_date"))))
    val mart = martDf.select(cols.map(col): _*).collect().toSeq
    // compare nullable values, nulls first
    def cmp(a: Any, b: Any): Int = (a, b) match {
      case (null, null) => 0
      case (null, _) => -1
      case (_, null) => 1
      case (x, y) => x.asInstanceOf[Comparable[Any]].compareTo(y)
    }
    def tie(a: Row, b: Row): Int = {
      val byInt = cmp(Option(a.getString(0)).flatMap(_.trim.toIntOption).orNull,
        Option(b.getString(0)).flatMap(_.trim.toIntOption).orNull)
      if (byInt != 0) byInt else cmp(a.get(0), b.get(0))
    }
    def first(order: (Row, Row) => Int): Any = mart.reduce((a, b) => if (order(a, b) <= 0) a else b).get(0)
    def maxOf(i: Int): Any = mart.map(_.get(i)).foldLeft(null: Any)((m, v) => if (cmp(v, m) > 0) v else m)
    val out =
      if (mart.isEmpty) Nil
      else Seq(Row(maxOf(2),
        first { (a, b) =>
          val byOcc = (a.isNullAt(1), b.isNullAt(1)) match {
            case (false, false) => -cmp(a.get(1), b.get(1))
            case (x, y) => x.compareTo(y) // nulls last
          }
          if (byOcc != 0) byOcc else tie(a, b)
        },
        first { (a, b) =>
          val byOcc = cmp(a.get(1), b.get(1))
          if (byOcc != 0) byOcc else tie(a, b)
        },
        maxOf(3)))
    martDf.sparkSession.createDataFrame(out.asJava, schema)
  }

  /** Full P2→mart DAG from a crawler-CSV directory. */
  def run(spark: SparkSession, csvDir: String): LotteryWarehouse = {
    val stg = staging(spark, csvDir)
    LotteryWarehouse(stg, transform(stg))
  }
}

/** The materialized-on-demand warehouse surface over lazy staging and
  * transform DataFrames. The star schema is built on the driver from one
  * collect of the transform's rows counted per (number, day) (≤100 per
  * draw day), run on first use of a dim, the facts or the mart; `mart`
  * reuses the dims' rows and collects the per-number totals, and
  * `statistic` collects the mart. */
final case class LotteryWarehouse(staging: DataFrame, transform: DataFrame) {
  private lazy val draws: Map[(Int, LocalDate), Int] =
    transform.groupBy("number_value", "full_date").count().collect()
      .map(r => (r.getInt(0), r.getDate(1).toLocalDate) -> r.getLong(2).toInt).toMap
  private lazy val dateRows = Lottery.dimDateRows(draws.keys.map(_._2))
  private lazy val numberRows = Lottery.dimNumberRows(
    draws.keys.groupMapReduce(_._1)(_._2)((a, b) => if (a.isAfter(b)) a else b), Map.empty)
  private def local(rows: Seq[Row], schema: StructType): DataFrame =
    transform.sparkSession.createDataFrame(rows.asJava, schema)

  lazy val dimDate: DataFrame = local(dateRows, Lottery.dimDateSchema)
  lazy val dimNumber: DataFrame = local(numberRows, Lottery.dimNumberSchema)
  lazy val factPrize: DataFrame =
    local(Lottery.factRows(draws, Lottery.numberKeys(numberRows), Nil), Lottery.factSchema)
  lazy val mart: DataFrame =
    local(Lottery.mart(Lottery.occurrences(factPrize), numberRows, dateRows), Lottery.martSchema)
  lazy val statistic: DataFrame = Lottery.statistic(mart)
}
