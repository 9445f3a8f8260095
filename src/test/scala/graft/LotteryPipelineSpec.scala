package graft

import graft.pipeline.Lottery
import java.sql.Date

/** End-to-end golden test of the lottery warehouse (SURVEY §5.2 item 3):
  * crawler-format fixture CSVs (BOM, dd-MM-yyyy, malformed rows) → staging →
  * transform → dims → fact → mart → statistic, asserted against hand-computed
  * values.
  *
  * Fixture content (src/test/resources/lottery): three draw days
  * 2025-10-23 (Thu), 2025-10-25 (Sat), 2025-10-26 (Sun); Giải Bảy rows
  * 78,09,09,45 / 09,33 (+1-char "7" rejected, short row dropped, bad date
  * quarantined) / 78.
  */
class LotteryPipelineSpec extends SparkSpec {

  private lazy val dir = getClass.getResource("/lottery").getPath
  private lazy val wh = Lottery.run(spark, dir)

  private def d(s: String) = Date.valueOf(s)

  test("staging: BOM tolerated, header + short rows dropped") {
    // day1: 6 rows, day2: 5 (short row dropped by na.drop), day3: 1
    assert(wh.staging.count() === 12)
    // BOM must not corrupt the first column name/value
    assert(wh.staging.columns.head === "prize")
  }

  private def stagedRows(drop: String): Set[Seq[Any]] =
    rows(Lottery.staging(spark, drop).drop("load_timestamp"))

  test("staging: a field longer than the 4K-char read buffer parses as with the default buffer") {
    import java.nio.charset.StandardCharsets.UTF_8
    val drop = java.nio.file.Files.createTempDirectory("longfield")
    val long = "x" * 10000
    // the long field sits mid-file, so later rows start past a buffer refill
    java.nio.file.Files.write(drop.resolve("xsmb_01012025.csv"),
      ("\uFEFFprize,number_value,full_date,created_at\n" +
        s"Giải Bảy,12,01-01-2025,$long\n" +
        "Giải Bảy,34,01-01-2025,2025-01-01 18:30:00\n").getBytes(UTF_8))
    val defaultBuffer = spark.read
      .option("header", "true").option("encoding", "UTF-8")
      .schema(Lottery.crawlSchema).csv(drop.toString)
      .na.drop("any", Seq("prize", "number_value", "full_date"))
    val got = stagedRows(drop.toString)
    assert(got === rows(defaultBuffer))
    assert(got === Set(Seq("Giải Bảy", "12", "01-01-2025", long),
      Seq("Giải Bảy", "34", "01-01-2025", "2025-01-01 18:30:00")))
  }

  test("staging parses only *.csv files: a notes.txt in the drop changes nothing") {
    import java.nio.charset.StandardCharsets.UTF_8
    val drop = java.nio.file.Files.createTempDirectory("globdrop")
    new java.io.File(dir).listFiles().foreach(f =>
      java.nio.file.Files.copy(f.toPath, drop.resolve(f.getName)))
    val before = stagedRows(drop.toString)
    assert(before.size === 11) // 12 rows, day1's two identical 09 rows collapse
    // a well-formed crawler row: parsed, it would add a staging row
    java.nio.file.Files.write(drop.resolve("notes.txt"),
      ("prize,number_value,full_date,created_at\n" +
        "Giải Bảy,99,27-10-2025,2025-10-27 18:30:00\n").getBytes(UTF_8))
    assert(stagedRows(drop.toString) === before)
  }

  test("transform: filter + derivations + quarantine (F2,F4,F6,X1-X3,X7,X8)") {
    val got = rows(wh.transform.select("number_value", "full_date",
      "range_group", "is_weekend", "is_even"))
    val expected = Set(
      Seq(78, d("2025-10-23"), "70-79", 0, 1),
      Seq(9, d("2025-10-23"), "00-09", 0, 0), // appears twice, Set collapses
      Seq(45, d("2025-10-23"), "40-49", 0, 0),
      Seq(9, d("2025-10-25"), "00-09", 1, 0),
      Seq(33, d("2025-10-25"), "30-39", 1, 0),
      Seq(78, d("2025-10-26"), "70-79", 1, 1))
    assert(got === expected)
    assert(wh.transform.count() === 7) // dup 09 on day1 kept as two rows
  }

  test("dim_date: date_key, parts, Vietnamese day names (X4-X7)") {
    val got = rows(wh.dimDate)
    val expected = Set(
      Seq(20251023, d("2025-10-23"), 23, 10, 2025, "2025-10", "Thứ 5", 0),
      Seq(20251025, d("2025-10-25"), 25, 10, 2025, "2025-10", "Thứ 7", 1),
      Seq(20251026, d("2025-10-26"), 26, 10, 2025, "2025-10", "Chủ nhật", 1))
    assert(got === expected)
  }

  test("dim_number: normalization, parity, last_digit, last appearance, deterministic keys") {
    val got = orderedRows(wh.dimNumber.orderBy("number_key"))
    val expected = Seq(
      Seq(1, "9", 0, 9, d("2025-10-25")),
      Seq(2, "33", 0, 3, d("2025-10-25")),
      Seq(3, "45", 0, 5, d("2025-10-23")),
      Seq(4, "78", 1, 8, d("2025-10-26")))
    assert(got === expected)
  }

  test("fact_prize: grain, total_draws, probability, days_since_last (G1,J1,X11,W2,A3)") {
    val fp = wh.factPrize
    val keyed = fp.collect().map(r =>
      (r.getInt(0), r.getInt(1)) ->
        (r.getInt(2), r.getInt(3), r.getDecimal(4).doubleValue(),
         if (r.isNullAt(5)) None else Some(r.getInt(5)))).toMap
    // number_keys: 9→1, 33→2, 45→3, 78→4
    assert(keyed.size === 6) // day1 dedups 09 to one row
    assert(keyed((20251023, 4)) === ((1, 4, 0.25, None)))          // 78 first
    assert(keyed((20251023, 1)) === ((2, 4, 0.25, None)))          // 09 ×2
    assert(keyed((20251023, 3)) === ((1, 4, 0.25, None)))          // 45
    assert(keyed((20251025, 1)) === ((1, 2, 0.5, Some(2))))        // 09 gap 2
    assert(keyed((20251025, 2)) === ((1, 2, 0.5, None)))           // 33 first
    assert(keyed((20251026, 4)) === ((1, 1, 1.0, Some(3))))        // 78 gap 3
  }

  test("mart: occurrences, global denominator, probability, recency (G7)") {
    val got = wh.mart.collect().map(r =>
      r.getString(0) -> (r.getDecimal(1).intValue(), r.getInt(2),
        r.getDecimal(3).doubleValue(), r.getDate(4).toString, r.getInt(5))).toMap
    assert(got("9") === ((3, 3, 1.0, "2025-10-25", 1)))
    assert(got("33") === ((1, 3, 0.3333, "2025-10-25", 1)))
    assert(got("45") === ((1, 3, 0.3333, "2025-10-23", 3)))
    assert(got("78") === ((2, 3, 0.6667, "2025-10-26", 0)))
  }

  test("mart probability: the driver's arithmetic equals Spark's decimal expression") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.DecimalType
    import spark.implicits._
    // totals 0–5,000 over a spread of draws, draws 1–4,000 over a spread
    // of totals, and every pair whose quotient lies halfway between two
    // 4-place decimals (the .xxxx5 cases)
    val byTotal = for (t <- 0 to 5000; d <- Seq(1, 2, 3, 7, 160, 365, 730, 999, 3999, 4000)) yield (t, d)
    val byDraws = for (d <- 1 to 4000; t <- Seq(0, 1, 2, 3, 5, 7, 11, 1234, 4999, 5000)) yield (t, d)
    val halfway = for (d <- 1 to 4000; t <- 0 to 5000
                       if 20000L * t % d == 0 && 20000L * t / d % 2 == 1) yield (t, d)
    assert(halfway.size > 1000)
    // the mart's former Spark expression, over a DECIMAL(32,0) total
    val want = (byTotal ++ byDraws ++ halfway).distinct.toDF("t", "d")
      .select(col("t"), col("d"), (col("t").cast(DecimalType(32, 0)).cast(DecimalType(20, 10)) / col("d"))
        .cast(DecimalType(38, 4)).as("p"))
      .collect()
    val wrong = want.filter { r =>
      Lottery.probability(new java.math.BigDecimal(r.getInt(0)), r.getInt(1)) != r.getDecimal(2)
    }
    assert(wrong.isEmpty, wrong.take(5).mkString(", "))
  }

  test("statistic: the four dashboard scalars with pinned tie-break (G4,G5)") {
    val r = wh.statistic.collect().head
    assert(r.getInt(0) === 3)                     // totalOccurrences = max draws
    assert(r.getString(1) === "9")                // mostNumber (3 occurrences)
    assert(r.getString(2) === "33")               // leastNumber tie 33/45 → lowest
    assert(r.getDate(3) === d("2025-10-26"))      // lastUpdate
  }

  test("statistic: ties and nulls order as the sort-limit definition does; empty mart → no row") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // the definition statistic must match: argmax/argmin as ORDER BY …
    // LIMIT 1 (DESC sorts nulls last, ASC nulls first), scalars as max
    def sortLimit(m: org.apache.spark.sql.DataFrame) = {
      def first(occ: org.apache.spark.sql.Column) = m
        .orderBy(occ, col("number_value").cast("int").asc).select("number_value").head(1)
        .headOption.map(_.getString(0))
      if (m.isEmpty) Seq.empty
      else {
        val s = m.agg(max("total_draws"), max("last_appeared_date")).head()
        Seq(Seq(s.get(0), first(col("total_occurrences").desc).orNull,
          first(col("total_occurrences").asc).orNull, s.get(1)))
      }
    }
    def mart(rows: (String, Option[Int])*) = rows.toDF("number_value", "occ")
      .select(col("number_value"),
        col("occ").cast("decimal(32,0)").as("total_occurrences"),
        lit(7).as("total_draws"), lit(d("2025-10-26")).as("last_appeared_date"))
    val cases = Seq(
      // tie on the top count → lowest numeric value; "12" > "3" as ints
      mart("12" -> Some(5), "3" -> Some(5), "40" -> Some(1), "7" -> Some(1)) -> ("3", "7"),
      // a null count sorts last for most, first for least
      mart("12" -> Some(5), "1" -> None, "40" -> Some(1)) -> ("12", "1"),
      // a null number_value wins its tie (ASC nulls first)
      mart((null, Some(5)), "8" -> Some(5), "2" -> Some(2)) -> (null, "2"),
      // all counts null: both picks fall to the lowest number
      mart("5" -> None, "4" -> None) -> ("4", "4"))
    cases.foreach { case (m, (most, least)) =>
      val got = orderedRows(Lottery.statistic(m))
      assert(got === sortLimit(m))
      assert(got === Seq(Seq(7, most, least, d("2025-10-26"))))
    }
    val empty = mart("1" -> Some(1)).limit(0)
    assert(Lottery.statistic(empty).collect().isEmpty)
    assert(Lottery.statistic(empty).columns.toSeq ===
      Seq("totalOccurrences", "mostNumber", "leastNumber", "lastUpdate"))
  }

  test("pipeline is idempotent under re-load (A1-A3 contract)") {
    import graft.sources.Upsert
    val dd = wh.dimDate
    val once = Upsert.appendNew(dd, dd, Seq("date_key"))
    assert(once.count() === dd.count())
    val fact = wh.factPrize
    val factTwice = Upsert.appendNew(fact, fact, Seq("date_key", "number_key"))
    assert(factTwice.count() === fact.count())
  }
}
