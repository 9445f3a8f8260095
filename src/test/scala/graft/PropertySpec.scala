package graft

import graft.pipeline.{Lottery, LotteryWarehouse, Pipeline}
import graft.sources.Upsert
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property tests (SURVEY §5.2 item 2): load idempotence, per-day
  * probability mass, gap-day consistency, number normalization round-trip —
  * over generated crawler-shaped batches (scalacheck Gen, fixed seeds for
  * reproducibility; the scalatest bridge artifact is not in the offline
  * cache, so sampling is driven manually).
  */
class PropertySpec extends SparkSpec {

  /** Run `body` over `n` deterministic samples of `gen`. */
  def forAllSamples[A](gen: Gen[A], n: Int = 5)(body: A => Unit): Unit =
    (1 to n).foreach { i =>
      body(gen.apply(Gen.Parameters.default.withSize(40), Seed(i.toLong))
        .getOrElse(fail(s"gen failed at sample $i")))
    }

  import org.apache.spark.sql.functions._

  private val genDay: Gen[String] = Gen.chooseNum(1, 28).map(d => f"$d%02d-03-2025")
  private val genNum: Gen[String] = Gen.chooseNum(0, 99).map(n => f"$n%02d")
  private val genRow: Gen[(String, String, String, String)] = for {
    d <- genDay; n <- genNum
  } yield ("Giải Bảy", n, d, "2025-03-01T19:05:00.000Z")

  private def stagingOf(rows: List[(String, String, String, String)]) = {
    import spark.implicits._
    rows.toDF("prize", "number_value", "full_date", "created_at")
      .withColumn("load_timestamp", current_timestamp())
  }

  private def warehouseOf(rows: List[(String, String, String, String)]) = {
    val stg = stagingOf(rows)
    LotteryWarehouse(stg, Lottery.transform(stg))
  }

  test("per-day probability mass sums to 1 (X11 invariant)") {
    forAllSamples(Gen.nonEmptyListOf(genRow)) { rows =>
      val fact = warehouseOf(rows).factPrize
      // each day's Σ occurrence_count/total_draws = 1 exactly
      val perDay = fact.groupBy(col("date_key"))
        .agg(sum(col("occurrence_count").cast("double") / col("total_draws")).as("mass"))
        .collect()
      perDay.foreach(r => assert(math.abs(r.getDouble(1) - 1.0) < 1e-9,
        s"day ${r.get(0)} mass ${r.getDouble(1)}"))
    }
  }

  test("days_since_last is positive and consistent with sorted dates (W2)") {
    forAllSamples(Gen.nonEmptyListOf(genRow)) { rows =>
      val fact = warehouseOf(rows).factPrize
      val bad = fact.filter(col("days_since_last").isNotNull &&
        col("days_since_last") <= 0).count()
      assert(bad === 0)
    }
  }

  test("upsert idempotence: load(load(t,b),b) == load(t,b) (A1-A3)") {
    forAllSamples(Gen.nonEmptyListOf(genRow)) { rows =>
      val dim = warehouseOf(rows).dimDate
      val once = Upsert.appendNew(dim, dim, Seq("date_key"))
      val twice = Upsert.appendNew(once, dim, Seq("date_key"))
      assert(twice.count() === dim.count())
    }
  }

  /** A batch of draws for the dim builders: random days (and in every
    * sample one run of seven days, so every weekday, a Feb 29 and a year
    * boundary), 1-4 numbers in -9..99 per day, a random subset of the
    * drawn numbers stored before with their keys (increasing with gaps,
    * in arrival order, so not numeric) and a last appearance, and no
    * stored number at either end of the drawn ones, so new numbers fall
    * below and above the kept ones. */
  private val genDims: Gen[(Seq[(Int, java.time.LocalDate)], Map[Int, (Int, java.time.LocalDate)])] = {
    import java.time.LocalDate
    val genDate = Gen.chooseNum(LocalDate.of(1990, 1, 1).toEpochDay, LocalDate.of(2100, 12, 31).toEpochDay)
      .map(LocalDate.ofEpochDay)
    for {
      days <- Gen.listOfN(12, genDate)
      week <- genDate.map(d => (0 to 6).map(d.plusDays(_)))
      leap <- Gen.oneOf(1992, 2000, 2024, 2096).map(LocalDate.of(_, 2, 29))
      newYear <- Gen.chooseNum(1991, 2100).map(y => Seq(LocalDate.of(y - 1, 12, 31), LocalDate.of(y, 1, 1)))
      all = (days ++ week ++ newYear :+ leap).distinct
      draws <- Gen.sequence[List[List[(Int, LocalDate)]], List[(Int, LocalDate)]](all.map(d =>
        Gen.chooseNum(1, 4).flatMap(Gen.listOfN(_, Gen.chooseNum(-9, 99))).map(_.map(_ -> d))))
      numbers = draws.flatten.map(_._1).distinct.sorted
      kept <- Gen.someOf(numbers.drop(1).dropRight(1)).map(_.toSeq)
      arrival <- Gen.listOfN(kept.size, Gen.chooseNum(0, 1000))
      gaps <- Gen.listOfN(kept.size, Gen.chooseNum(1, 5))
      seen <- Gen.listOfN(kept.size, genDate)
    } yield (draws.flatten, kept.zip(arrival).sortBy(_._2).map(_._1)
      .zip(gaps.scanLeft(0)(_ + _).tail).zip(seen)
      .map { case ((n, key), last) => n -> (key, last) }.toMap)
  }

  test("the driver dim builders equal the Spark dims plan and its keep-keys rule (random draws)") {
    import org.apache.spark.sql.{DataFrame, Row}
    import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
    import org.apache.spark.sql.expressions.Window
    import scala.jdk.CollectionConverters._
    // the reference form: the dims as Spark expressions over the union
    // of a batch's transform read back from parquet and the stored dims,
    // every input column nullable, as a load's inputs are
    def sparkDimDate(in: DataFrame): DataFrame = {
      val d = col("full_date")
      val dayName = when(dayofweek(d) === 1, "Chủ nhật")
        .otherwise(concat(lit("Thứ "), dayofweek(d).cast("string")))
      in.select(d, col("is_weekend")).distinct().select(
        date_format(d, "yyyyMMdd").cast("int").as("date_key"), d.as("full_date"),
        dayofmonth(d).as("day_of_month"), month(d).as("month_of_year"), year(d).as("year_value"),
        date_format(d, "yyyy-MM").as("year_month_value"), dayName.as("day_name"),
        col("is_weekend"))
    }
    def sparkDimNumber(in: DataFrame): DataFrame = {
      val byNum = in.groupBy(col("number_value").cast("string").as("number_value"))
        .agg(max(col("full_date")).as("last_appeared_date"))
      val n = col("number_value").cast("int")
      byNum.select(row_number().over(Window.orderBy(n)).as("number_key"), col("number_value"),
        when(n % 2 === 0, 1).otherwise(0).as("is_even"),
        coalesce(n % 10, lit(0)).cast("int").as("last_digit"), col("last_appeared_date"))
    }
    // a kept number keeps its key; the others follow the largest kept
    // key in numeric order
    def keepKeys(kept: Map[String, Int], fresh: Seq[Row]): Seq[Row] = {
      def number(r: Row) = r.getAs[String]("number_value")
      val (old, added) = fresh.partition(r => kept.contains(number(r)))
      val next = kept.values.maxOption.getOrElse(0) + 1
      (old.map(r => kept(number(r)) -> r) ++
        added.sortBy(number(_).toInt).zipWithIndex.map { case (r, i) => (next + i) -> r })
        .sortBy(_._1).map { case (key, r) =>
          new GenericRowWithSchema(r.toSeq.updated(0, key).toArray, r.schema): Row }
    }
    val tmp = java.nio.file.Files.createTempDirectory("graft_dims").toFile
    try forAllSamples(genDims) { case (draws, stored) =>
      import spark.implicits._
      val fmt = java.time.format.DateTimeFormatter.ofPattern("dd-MM-yyyy")
      // the batch's transform, read back from parquet as the load reads it
      val path = s"$tmp/${java.util.UUID.randomUUID()}"
      Lottery.transform(draws.map { case (n, d) =>
          ("Giải Bảy", if (n < 0) n.toString else f"$n%02d", d.format(fmt), "2025-01-01T19:00:00.000Z")
        }.toDF("prize", "number_value", "full_date", "created_at")
        .withColumn("load_timestamp", current_timestamp()))
        .write.parquet(path)
      val tr = spark.read.schema(Pipeline.Schemas.transform).parquet(path)
      val storedDims = spark.createDataFrame(stored.toSeq.map { case (n, (key, last)) =>
        Row(key, n.toString, 0, 0, java.sql.Date.valueOf(last)) }.asJava, Pipeline.Schemas.number)
      val wantDates = sparkDimDate(tr)
      val wantNumbers = sparkDimNumber(tr.select(col("number_value").cast("string").as("number_value"),
        col("full_date")).unionByName(storedDims.select(col("number_value"),
          col("last_appeared_date").as("full_date"))))

      val gotDates = Lottery.dimDateRows(draws.map(_._2))
      assert(gotDates.head.schema === wantDates.schema)
      assert(gotDates.map(_.toSeq) === wantDates.orderBy("date_key").collect().map(_.toSeq).toSeq)
      val lastSeen = (draws ++ stored.map { case (n, (_, last)) => n -> last })
        .groupMapReduce(_._1)(_._2)((a, b) => if (a.isAfter(b)) a else b)
      val gotNumbers = Lottery.dimNumberRows(lastSeen, stored.map { case (n, (key, _)) => n -> key })
      assert(gotNumbers.head.schema === wantNumbers.schema)
      assert(gotNumbers.map(_.toSeq) === keepKeys(stored.map { case (n, (key, _)) => n.toString -> key },
        wantNumbers.collect().toSeq).map(_.toSeq))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(tmp)
  }

  /** The Spark fact plan the driver's `Lottery.factRows` replaced, kept as
    * its reference: a window over date_key for total_draws, a broadcast
    * join for the keys, a lag window for the gap over the history and the
    * batch together, and a window flag dropping the pairs the history
    * holds. */
  private def sparkFactPrize(transformDf: org.apache.spark.sql.DataFrame,
                             dimNumberDf: org.apache.spark.sql.DataFrame,
                             history: Option[org.apache.spark.sql.DataFrame]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val perDay = transformDf.select(
      date_format(col("full_date"), "yyyyMMdd").cast("int").as("date_key"),
      col("full_date"),
      col("number_value").cast("string").as("number_value"))
    val wDay = Window.partitionBy(col("date_key"))
    val counted = perDay
      .withColumn("total_draws", count(lit(1)).over(wDay).cast("int"))
      .groupBy(col("date_key"), col("full_date"), col("number_value"),
               col("total_draws"))
      .agg(count(lit(1)).cast("int").as("occurrence_count"))
    val keyed = counted
      .join(broadcast(dimNumberDf.select(col("number_key"), col("number_value"))),
            Seq("number_value"))
    val all = history.fold(keyed)(h => keyed.withColumn("stored", lit(false))
      .unionByName(h.select(col("date_key"), col("number_key"),
        to_date(col("date_key").cast("string"), "yyyyMMdd").as("full_date"),
        lit(true).as("stored")), allowMissingColumns = true)
      .coalesce(1))
    val wNum = Window.partitionBy(col("number_key")).orderBy(col("full_date"))
    val withGap = all.withColumn("days_since_last",
      datediff(col("full_date"), lag(col("full_date"), 1).over(wNum)))
    val wPair = Window.partitionBy(col("number_key"), col("date_key"))
    history.fold(withGap)(_ => withGap
        .withColumn("known", max(col("stored")).over(wPair))
        .filter(!col("known")))
      .select(col("date_key"), col("number_key"), col("occurrence_count"),
        col("total_draws"),
        (lit(1.0) / col("total_draws")).cast(DecimalType(38, 10)).as("probability_value"),
        col("days_since_last"))
  }

  /** A load's inputs for the fact builder: 2-12 draw days in a 60-day
    * span, most with 1-6 draws and one in six with 7-200, numbers in -3..16
    * so that they repeat within and across days, each number's key (a
    * shuffle of 1..20), and a history of stored (day, number) pairs of
    * `kind` 0, 1 or 2: none (a cold build); one per number at a day before
    * the first draw day (an in-order load's last appearances); or stored
    * facts on days before, among and after the draw days plus some of the
    * batch's own pairs (a late or replayed load). */
  private def genFacts(kind: Int): Gen[(Seq[(Int, java.time.LocalDate)], Map[Int, Int],
                                        Seq[(java.time.LocalDate, Int)])] = {
    import java.time.LocalDate
    val start = LocalDate.of(2025, 3, 1)
    val numbers = -3 to 16
    val genNumber = Gen.oneOf(numbers)
    for {
      offsets <- Gen.chooseNum(2, 12).flatMap(Gen.listOfN(_, Gen.chooseNum(0, 60)))
      days = offsets.distinct.sorted.map(start.plusDays(_))
      draws <- Gen.sequence[List[List[(Int, LocalDate)]], List[(Int, LocalDate)]](days.map(d =>
        Gen.frequency(5 -> Gen.chooseNum(1, 6), 1 -> Gen.chooseNum(7, 200))
          .flatMap(Gen.listOfN(_, genNumber)).map(_.map(_ -> d))))
      order <- Gen.listOfN(numbers.size, Gen.chooseNum(0, 1000000))
      lastSeen <- Gen.sequence[List[Option[(LocalDate, Int)]], Option[(LocalDate, Int)]](
        numbers.toList.map(n => Gen.option(Gen.chooseNum(1, 30).map(k => days.head.minusDays(k) -> n))))
      stored <- Gen.listOfN(15, Gen.zip(Gen.chooseNum(-20, 80).map(start.plusDays(_)), genNumber))
      replayed <- Gen.someOf(draws.flatten.map(_.swap).distinct)
    } yield {
      val history = kind match {
        case 0 => Nil
        case 1 => lastSeen.flatten
        case _ => stored ++ replayed
      }
      val keys = numbers.zip(order).sortBy(_._2).map(_._1).zipWithIndex.map { case (n, i) => n -> (i + 1) }
      (draws.flatten, keys.toMap, history.distinct)
    }
  }

  test("the driver fact builder equals the Spark fact plan (random draws, late days, replays)") {
    import org.apache.spark.sql.{DataFrame, Row}
    import org.apache.spark.sql.types.{DecimalType, StructType}
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    val fmt = java.time.format.DateTimeFormatter.ofPattern("dd-MM-yyyy")
    val tmp = java.nio.file.Files.createTempDirectory("graft_facts").toFile
    def nullable(s: StructType) = StructType(s.map(_.copy(nullable = true)))
    var replayed = 0
    try for (kind <- 0 to 2) forAllSamples(genFacts(kind), n = 3) { case (draws, keys, stored) =>
      // the batch's transform, read back from parquet as P4 read it
      val path = s"$tmp/${java.util.UUID.randomUUID()}"
      Lottery.transform(draws.map { case (n, d) =>
          ("Giải Bảy", if (n < 0) n.toString else f"$n%02d", d.format(fmt), "2025-01-01T19:00:00.000Z")
        }.toDF("prize", "number_value", "full_date", "created_at")
        .withColumn("load_timestamp", current_timestamp()))
        .write.parquet(path)
      val tr = spark.read.schema(Pipeline.Schemas.transform).parquet(path).coalesce(1)
      val dn = spark.createDataFrame(Lottery.dimNumberRows(keys.map { case (n, _) =>
          n -> java.time.LocalDate.of(2025, 1, 1) }, keys).asJava, Lottery.dimNumberSchema)
      val history = stored.map { case (d, n) => Lottery.dateKey(d) -> keys(n) }
      val historyDf: DataFrame = spark.createDataFrame(history.map { case (k, n) => Row(k, n) }.asJava,
        Pipeline.Schemas.factKeys)
      val want = sparkFactPrize(tr, dn, Some(historyDf))

      val got = Lottery.factRows(draws.groupMapReduce(identity)(_ => 1)(_ + _), keys, history)
      assert(got.map(_.toSeq) === want.orderBy("number_key", "date_key").collect().map(_.toSeq).toSeq)
      assert(got.forall(_.schema == Lottery.factSchema))
      // the schema a write of the plan stores: with no history it is the
      // declared one; a history unioned in makes the plan mark every
      // column nullable, though it never leaves the key or a count null
      // (the rows above)
      val written = want.queryExecution.optimizedPlan.schema
      if (history.isEmpty) assert(written === Lottery.factSchema)
      else assert(written === nullable(Lottery.factSchema))
      replayed += draws.distinct.size - got.size
    } finally org.apache.commons.io.FileUtils.deleteQuietly(tmp)
    assert(replayed > 0, "no sample's history held a pair of its batch")
    // every total_draws a day can have in practice, and past the first
    // exact ties at the tenth place (1/2048 = 0.00048828125): the driver's
    // probability is Spark's double quotient cast, bit for bit
    val sweep = (1 to 10000).toDF("n")
      .select(col("n"), (lit(1.0) / col("n")).cast(DecimalType(38, 10)).as("p")).collect()
    val wrong = sweep.filter(r => Lottery.drawProbability(r.getInt(0)) != r.getDecimal(1))
    assert(wrong.isEmpty, wrong.take(5).mkString(", "))
  }

  /** A hostile crawl drop: 1-3 `*.csv` files plus a `notes.txt` and a
    * hidden `.x.csv` of well-formed rows, which no scan may read. A csv
    * file is a header (with or without the crawler's BOM, after an
    * optional blank line), then one line of each hostile kind and 0-8
    * random lines, shuffled, each ended by `\n`, `\r\n` or a lone `\r`
    * (the last one maybe unended). The kinds: a short row, a long row, a
    * blank line, a quoted field holding a comma, a quoted field holding a
    * newline (which splits the record), a 3+-digit number, a
    * space-padded number and date, and a one-digit date. Random rows mix
    * G7 and other prizes (one space-padded), numbers of two, one or more
    * digits, negative, signed, tab-led, decimal, quoted or not numeric,
    * and dates valid, one-digit, impossible or in another pattern. */
  private val genDrop: Gen[Seq[(String, String)]] = {
    val eol = Gen.frequency(3 -> "\n", 2 -> "\r\n", 1 -> "\r")
    val day = for (d <- Gen.chooseNum(1, 28); m <- Gen.chooseNum(1, 12); y <- Gen.chooseNum(2024, 2026))
      yield (d, m, y)
    val goodDate = day.map { case (d, m, y) => f"$d%02d-$m%02d-$y" }
    val date = Gen.frequency(6 -> goodDate, 1 -> day.map { case (d, m, y) => s"$d-$m-$y" },
      1 -> Gen.const("31-02-2025"), 1 -> day.map { case (d, m, y) => f"$y-$m%02d-$d%02d" },
      1 -> goodDate.map(d => s"  $d "), 1 -> goodDate.map(d => "\"" + d + "\""), 1 -> Gen.const("99-99-2025"))
    val number = Gen.frequency(6 -> Gen.chooseNum(0, 99).map(n => f"$n%02d"),
      1 -> Gen.chooseNum(0, 9).map(_.toString), 1 -> Gen.chooseNum(-9, -1).map(_.toString),
      1 -> Gen.chooseNum(100, 99999).map(_.toString), 1 -> Gen.chooseNum(0, 99).map(n => f" $n%02d "),
      1 -> Gen.oneOf("\t7", "+5", "1.5", "ab", "\"4,2\"", "\"07\""))
    val prize = Gen.frequency(6 -> "Giải Bảy", 1 -> "Giải Sáu", 1 -> "Giải Đặc Biệt", 1 -> " Giải Bảy")
    val created = "2025-03-01T19:05:00.000Z"
    val row = for (p <- prize; n <- number; d <- date) yield s"$p,$n,$d,$created"
    val kinds = Seq(
      Gen.zip(prize, number).map { case (p, n) => s"$p,$n" },
      row.map(_ + ",x,\"y\""),
      Gen.const(""),
      goodDate.map(d => s"Giải Bảy,\"4,2\",$d,$created"),
      goodDate.map(d => s"Giải Bảy,\"4\n2\",$d,$created"),
      Gen.zip(Gen.chooseNum(100, 99999), goodDate).map { case (n, d) => s"Giải Bảy,$n,$d,$created" },
      Gen.zip(Gen.chooseNum(0, 99), goodDate).map { case (n, d) => f"Giải Bảy, $n%02d , $d ,$created" },
      Gen.zip(number, day).map { case (n, (d, m, y)) => s"Giải Bảy,$n,$d-$m-$y,$created" })
    val file = for {
      bom <- Gen.oneOf("", "\uFEFF")
      lead <- Gen.oneOf(Gen.const(""), eol)
      fixed <- Gen.sequence[List[String], String](kinds)
      extra <- Gen.chooseNum(0, 8).flatMap(Gen.listOfN(_, row))
      order <- Gen.listOfN(fixed.size + extra.size, Gen.chooseNum(0, 1000000))
      lines = (fixed ++ extra).zip(order).sortBy(_._2).map(_._1)
      ends <- Gen.listOfN(lines.size + 1, eol)
      unended <- Gen.oneOf(true, false)
    } yield bom + lead + ("prize,number_value,full_date,created_at" +: lines).zip(ends)
      .map { case (l, e) => l + e }.mkString.stripSuffix(if (unended) ends.last else "")
    val wellFormed = Gen.listOfN(3, for (n <- Gen.chooseNum(0, 99); d <- goodDate)
      yield f"Giải Bảy,$n%02d,$d,$created").map(rs => ("prize,number_value,full_date,created_at" +: rs).mkString("\n"))
    for {
      csvs <- Gen.chooseNum(1, 3).flatMap(Gen.listOfN(_, file))
      notes <- wellFormed
      hidden <- wellFormed
    } yield csvs.zipWithIndex.map { case (f, i) => s"day$i.csv" -> f } ++
      Seq("notes.txt" -> notes, ".x.csv" -> hidden)
  }

  test("driver staging and transform equal Spark's Lottery.staging → Lottery.transform (hostile drops)") {
    import org.apache.spark.sql.DataFrame
    import scala.jdk.CollectionConverters._
    def bag(df: DataFrame) = df.drop("load_timestamp", "batch").collect().map(_.toSeq)
      .groupBy(identity).map { case (r, rs) => r -> rs.length }
    /** The parquet schema and key-value metadata of the one data file
      * under `dir`. */
    def footer(dir: String) = {
      import org.apache.parquet.hadoop.ParquetFileReader
      import org.apache.parquet.hadoop.util.HadoopInputFile
      val files = org.apache.commons.io.FileUtils.listFiles(new java.io.File(dir), Array("parquet"), true)
        .asScala.filterNot(_.getName.startsWith(".")).toSeq
      assert(files.size === 1, dir)
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(files.head.getPath), spark.sparkContext.hadoopConfiguration))
      try {
        val meta = reader.getFooter.getFileMetaData
        (meta.getSchema, meta.getKeyValueMetaData)
      } finally reader.close()
    }
    val tmp = java.nio.file.Files.createTempDirectory("graft_hostile")
    var (staged, transformed) = (0L, 0L)
    try forAllSamples(genDrop, n = 6) { files =>
      val base = java.nio.file.Files.createTempDirectory(tmp, "drop")
      val drop = java.nio.file.Files.createDirectories(base.resolve("drop"))
      files.foreach { case (name, text) =>
        java.nio.file.Files.write(drop.resolve(name), text.getBytes(java.nio.charset.StandardCharsets.UTF_8)) }
      // Spark's P2 and P3 as the pipeline ran them: the staging scan
      // written, read back and transformed, one file each
      val (sparkStaging, sparkTransform) = (base.resolve("staging").toString, base.resolve("transform").toString)
      Lottery.staging(spark, drop.toString).coalesce(1).write.parquet(sparkStaging)
      Lottery.transform(spark.read.schema(Pipeline.Schemas.staging).parquet(sparkStaging))
        .coalesce(1).write.parquet(sparkTransform)
      // the driver's, in one cold runAll
      val lay = Pipeline.Layout(base.resolve("wh").toString)
      Pipeline.runAll(spark, drop.toString, lay.root)
      val (stg, tr) = (spark.read.parquet(lay.staging), spark.read.parquet(lay.transform))
      assert(bag(stg) === bag(spark.read.parquet(sparkStaging)), files)
      assert(bag(tr) === bag(spark.read.parquet(sparkTransform)), files)
      assert(footer(lay.staging) === footer(sparkStaging))
      assert(footer(lay.transform) === footer(sparkTransform))
      // one load time per batch, carried to the transform
      assert(rows(stg.select("load_timestamp")).size === 1)
      assert(rows(tr.select("load_timestamp")).subsetOf(rows(stg.select("load_timestamp"))))
      staged += stg.count()
      transformed += tr.count()
    } finally org.apache.commons.io.FileUtils.deleteQuietly(tmp.toFile)
    assert(transformed > 0 && staged > transformed, s"$staged staged, $transformed transformed")
  }

  test("SCD2 merge: invariants hold and re-applying the same batch is a fixed point") {
    import spark.implicits._
    val dim = Seq(
      (1L, "A", "1990-01-01", null.asInstanceOf[String], true),
      (2L, "B", "1990-01-01", null.asInstanceOf[String], true),
      (3L, "C", "1985-01-01", "1990-01-01", false), // history passes through
      (3L, "C2", "1990-01-01", null.asInstanceOf[String], true)
    ).toDF("k", "seg", "valid_from", "valid_to", "is_current")
    val batch = Seq((1L, "A9"), (2L, "B"), (4L, "D")).toDF("k", "seg")

    val once = Upsert.scd2Merge(dim, batch, Seq("k"), Seq("seg"), "2000-01-01")
      .cache()
    // changed key 1: closed old + new current; unchanged 2: untouched;
    // absent 3: untouched (history + current); new 4: one current row.
    assert(once.count() === 6)
    // exactly one current version per key
    assert(once.filter($"is_current").groupBy($"k").count()
      .filter($"count" =!= 1).count() === 0)
    // every non-current row has a valid_to; every current row has none
    assert(once.filter($"is_current" && $"valid_to".isNotNull).count() === 0)
    assert(once.filter(!$"is_current" && $"valid_to".isNull).count() === 0)
    assert(once.filter($"k" === 1 && !$"is_current")
      .select($"valid_to").as[String].head() === "2000-01-01")

    // fixed point: the batch's attrs now ARE the current attrs
    val twice = Upsert.scd2Merge(once, batch, Seq("k"), Seq("seg"), "2010-01-01")
    assert(twice.count() === once.count())
    assert(twice.filter(!$"is_current" && $"valid_to" === "2010-01-01").count() === 0)
  }

  test("number normalization round-trip (X10): parse(normalize(x)) == parse(x)") {
    forAllSamples(Gen.listOfN(30, genNum)) { nums =>
      import spark.implicits._
      val df = nums.toDF("raw")
      val normalized = df.select(
        expr("try_cast(raw AS int)").as("direct"),
        expr("try_cast(coalesce(cast(try_cast(raw AS int) AS string), trim(raw)) AS int)")
          .as("viaNorm"))
      assert(normalized.filter(col("direct") =!= col("viaNorm")).count() === 0)
    }
  }

  // --- round-4 rewrites: randomized equivalence with the naive forms ------

  private val genDoc: Gen[(Long, String)] = for {
    id <- Gen.chooseNum(0L, 5000L)
    // tiny vocabulary + 0-12 tokens: maximizes shared shingles, repeats,
    // and sub-k docs — the edge cases the native expressions special-case
    toks <- Gen.listOfN(12, Gen.oneOf("aa", "bb", "cc", "dd", "ee"))
    n <- Gen.chooseNum(0, 12)
  } yield (id, toks.take(n).mkString(" "))

  test("packShards == naive per-lang running-sum window on random corpora") {
    forAllSamples(Gen.listOfN(60, for {
      id <- Gen.chooseNum(0L, 2000L); lang <- Gen.oneOf("en", "de", "es")
      tok <- Gen.chooseNum(1, 400)
    } yield (id, lang, tok)), n = 4) { rows =>
      import spark.implicits._
      import org.apache.spark.sql.expressions.Window
      val base = rows.distinctBy(_._1).toDF("doc_id", "lang", "n_tok")
      val w = Window.partitionBy($"lang").orderBy($"doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val naive = base.withColumn("cum", sum($"n_tok").over(w))
        .select($"doc_id", $"lang", $"n_tok",
          floor(($"cum" - $"n_tok") / 100).cast("long").as("shard_id"))
        .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
      // small span forces many buckets → the offset path actually runs
      val two = graft.ext.TextAnalysis.packShards(base, budget = 100, span = 16L)
        .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
      assert(two === naive)
    }
  }

  test("segment dedup conservation: kept segments == distinct segments (random corpora)") {
    // sum over docs of (n_seg - n_dup_seg) must equal the number of
    // DISTINCT segments in the corpus — every distinct segment is kept
    // exactly once, every other occurrence is a dup. A tiny 3-word
    // vocabulary forces heavy segment collisions.
    forAllSamples(Gen.listOfN(25, for {
      id <- Gen.chooseNum(0L, 500L)
      toks <- Gen.listOfN(9, Gen.oneOf("aa", "bb", "cc"))
    } yield (id, toks.mkString(" "))), n = 4) { rows =>
      import spark.implicits._
      val docs = rows.distinctBy(_._1).map { case (id, t) => (id, t, "en") }
        .toDF("doc_id", "text", "lang")
      val stats = graft.ext.TextAnalysis.segmentDedupStats(docs, segLen = 3)
        .collect()
      val kept = stats.map(r => r.getLong(1) - r.getLong(2)).sum
      val distinctSegs = docs
        .select(explode(expr(
          "transform(sequence(0, (size(split(trim(text), '\\\\s+'))+2) div 3 - 1), " +
            "i -> concat_ws(' ', slice(split(trim(text), '\\\\s+'), i*3+1, 3)))")).as("seg"))
        .distinct().count()
      assert(kept === distinctSegs)
    }
  }

  test("native MinHash/SimHash == aggregated forms on random repeat-heavy docs") {
    forAllSamples(Gen.listOfN(30, genDoc), n = 4) { docsList =>
      import spark.implicits._
      val docs = docsList.distinctBy(_._1).toDF("doc_id", "text")
      def sigs(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
      assert(sigs(graft.ext.Dedup.minhash(docs, k = 3, numHashes = 8)) ===
        sigs(graft.ext.Dedup.minhashAgg(docs, k = 3, numHashes = 8)))
      assert(sigs(graft.ext.Dedup.simhashChunks(docs, chunks = 4, bitsPerChunk = 7,
          shingleK = 2)) ===
        sigs(graft.ext.Dedup.simhashChunksAgg(docs, chunks = 4, bitsPerChunk = 7,
          shingleK = 2)))
    }
  }

  test("containment dominates Jaccard on every candidate pair (random corpora)") {
    import spark.implicits._
    val genDoc: Gen[String] = Gen.listOfN(30,
      Gen.oneOf("alpha","beta","gamma","delta","eps","zeta","eta","theta"))
      .map(_.mkString(" "))
    forAllSamples(Gen.listOfN(12, genDoc), n = 3) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      // threshNum=0 on both → same candidate pair set, all pairs surface
      val jac = graft.ext.Dedup.jaccardPairs(docs, threshNum = 0)
        .select($"doc_i", $"doc_j", $"jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      val cont = graft.ext.Dedup.containmentPairs(docs, threshNum = 0)
        .select($"doc_i", $"doc_j", $"containment").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      assert(jac.keySet === cont.keySet)
      jac.foreach { case (k, j) =>
        val c = cont(k)
        assert(c >= j - 1e-12 && c <= 1.0 + 1e-12,
          s"pair $k: containment $c should dominate jaccard $j and stay <= 1")
      }
    }
  }

  test("incremental admission is idempotent: re-offering admitted docs admits nothing") {
    import spark.implicits._
    val docs = graft.Tables.t(spark, "/root/testdata/sf0.001", "documents")
    val day1 = graft.ext.CorpusPipeline.curateIncremental(docs)
    val admittedIds = day1.select($"doc_id").as[Long].collect().toSet
    assert(admittedIds.nonEmpty)
    // day 2: corpus = old corpus + the admitted batch (relabel admitted
    // ids below the split), batch = the same admitted docs re-offered
    val corpus2 = docs.filter($"doc_id" < 400)
      .unionByName(docs.filter($"doc_id".isin(admittedIds.toSeq: _*))
        .withColumn("doc_id", -$"doc_id"))  // relabeled: still < 400
    val reoffer = docs.filter($"doc_id".isin(admittedIds.toSeq: _*))
    val day2 = graft.ext.CorpusPipeline.curateIncremental(
      corpus2.unionByName(reoffer), splitId = 400L)
    assert(day2.count() === 0L,
      "re-offered duplicates of already-admitted docs must all be rejected")
  }

  test("t_lm_perplexity bit formula: length(bin(a div b))-1 == floor(log2(a/b)) for a >= b >= 1") {
    // the exact-integer surprisal rests on two identities: floor-log2 of
    // a rational >= 1 equals floor-log2 of its integer quotient, and
    // floor-log2 of a positive integer is its bit length minus one —
    // pin the composed SQL formula against an exact rational reference
    // (2^k <= a/b < 2^(k+1) by shifted-integer comparison; a double log
    // reference would itself flake at power-of-two boundaries)
    import spark.implicits._
    forAllSamples(Gen.listOfN(200, for {
      b <- Gen.chooseNum(1L, 1000000L)
      m <- Gen.chooseNum(1L, 5000L)
      r <- Gen.chooseNum(0L, b - 1)
    } yield (b * m + r, b)), n = 3) { pairs =>
      val got = pairs.toDF("a", "b")
        .select((length(expr("bin(a div b)")) - lit(1)).as("bits"))
        .as[Int].collect()
      val want = pairs.map { case (a, b) =>
        Iterator.from(0).find(k => (BigInt(b) << (k + 1)) > BigInt(a)).get
      }
      got.zip(want).zip(pairs).foreach { case ((g, w), (a, b)) =>
        assert(g === w, s"bits mismatch at a=$a b=$b")
      }
    }
  }

  /** Two result sets with identical schemas are row-multiset-equal
    * (collect-side compare — exceptAll over two plans sharing a parent
    * trips Spark's self-join attribute dedup). */
  private def sameRows(a: org.apache.spark.sql.DataFrame,
                       b: org.apache.spark.sql.DataFrame): Unit = {
    assert(a.schema.map(f => (f.name, f.dataType)) ===
      b.schema.map(f => (f.name, f.dataType)), "schema mismatch")
    val ka = a.collect().map(_.toSeq.mkString("|")).sorted.toSeq
    val kb = b.collect().map(_.toSeq.mkString("|")).sorted.toSeq
    val onlyA = ka.diff(kb)
    val onlyB = kb.diff(ka)
    assert(onlyA.isEmpty && onlyB.isEmpty,
      s"mismatch:\nA-only ${onlyA.take(5).mkString("; ")}\n" +
        s"B-only ${onlyB.take(5).mkString("; ")}")
  }

  test("bandedTrailingFrame == single-window RANGE frame on random band-edge inputs (w10b)") {
    // cents land ON and AROUND band floors (off ∈ {0, 1, W-1, ...}) with
    // heavy (priority, cents) ties — the threshold/floor cases the fixed
    // oracle dataset reaches only by luck
    val W = 1000L
    forAllSamples(Gen.listOfN(80, for {
      key <- Gen.chooseNum(1L, 1000000L)
      pr <- Gen.oneOf("A", "B")
      band <- Gen.chooseNum(0, 6)
      off <- Gen.oneOf(0L, 1L, 2L, W - 1, W / 2, W / 3)
    } yield (key, pr, band * W + off)), n = 4) { rows =>
      import spark.implicits._
      val o = rows.toDF("o_orderkey", "o_orderpriority", "cents")
        .dropDuplicates("o_orderkey")
      sameRows(operators.Windows.bandedTrailingFrame(o, W),
        operators.Windows.windowedTrailingFrame(o, W))
      // the generalized ord≠val path (w11b's shape): order by cents,
      // sum an INDEPENDENT value column — against the plain window
      val withVal = o.withColumn("v", col("o_orderkey") % 97)
      val wTime = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_orderpriority")).orderBy(col("cents"))
        .rangeBetween(-W, 0L)
      val want = withVal.select(col("o_orderkey"), col("o_orderpriority"),
        col("cents"), count(lit(1)).over(wTime).as("frame_count"),
        sum(col("v")).over(wTime).as("frame_sum"))
      sameRows(
        operators.Windows.bandedTrailingFrameBy(withVal, W, "cents", "v"),
        want)
    }
  }

  test("rankFamilyFromCounts == single-window rank family on random tied inputs (w8b)") {
    // few distinct values → heavy rank ties; single-row segments are
    // frequent (they exposed the prk 0/0 edge the operator now guards)
    forAllSamples(Gen.listOfN(40, for {
      key <- Gen.chooseNum(1L, 1000000L)
      seg <- Gen.oneOf("S1", "S2", "S3", "S4")
      bal <- Gen.chooseNum(0, 4)
    } yield (key, seg, bal.toDouble)), n = 4) { rows =>
      import spark.implicits._
      val c = rows.toDF("c_custkey", "c_mktsegment", "c_acctbal")
        .dropDuplicates("c_custkey")
      sameRows(operators.Windows.rankFamilyFromCounts(c),
        operators.Windows.windowedRankFamily(c))
    }
  }

  test("changeset round-trip: apply(old, changeset(old, new)) == new (random snapshots)") {
    // the K10 law on random keyed snapshots: keys drawn from a small
    // domain so inserts/deletes/updates/unchanged all occur; values from
    // a tiny domain so some shared keys are identical (the dropped-
    // unchanged case is exercised, not just I/U/D)
    import spark.implicits._
    val genSnap: Gen[List[(Long, Long, String)]] = Gen.listOfN(30, for {
      k <- Gen.chooseNum(0L, 19L)
      v <- Gen.chooseNum(0L, 3L)
      s <- Gen.oneOf("a", "b")
    } yield (k, v, s))
    forAllSamples(Gen.zip(genSnap, genSnap)) { case (oldRows, newRows) =>
      val oldSnap = oldRows.toDF("k", "v", "s").dropDuplicates("k")
      val newSnap = newRows.toDF("k", "v", "s").dropDuplicates("k")
      val cs = Upsert.changeset(oldSnap, newSnap, "k")
      // round-trip law
      assert(rows(Upsert.applyChangeset(oldSnap, cs, "k")) === rows(newSnap))
      // the changeset is a DELTA: no row for an unchanged key
      val unchanged = rows(oldSnap.intersect(newSnap)).map(_.head)
      val csKeys = rows(cs.select("k")).map(_.head)
      assert(unchanged.forall(k => !csKeys.contains(k)),
        "changeset emitted a row for an unchanged key")
    }
  }
}
