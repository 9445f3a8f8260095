package graft

import graft.pipeline.Lottery
import org.apache.spark.sql.functions._
import java.sql.Date

/** Edge-case unit tests for the X-function family over literal rows —
  * expectations derived from the reference implementations (citations in
  * Lottery.scala scaladoc).
  */
class TransformEdgeSpec extends SparkSpec {

  private def staged(rows: Seq[(String, String, String)]) = {
    import spark.implicits._
    rows.toDF("prize", "number_value", "full_date")
      .withColumn("created_at", lit("2025-01-01T19:00:00.000Z"))
      .withColumn("load_timestamp", current_timestamp())
  }

  test("X1: last-two-digits truncates 5-digit prizes (LotteryTransform.java:130)") {
    // 49274 → 74; 100 → 00; "09" → 9
    val tr = Lottery.transform(staged(Seq(
      ("Giải Bảy", "49274", "06-10-2025"),
      ("Giải Bảy", "100", "06-10-2025"),
      ("Giải Bảy", "09", "06-10-2025"))))
    assert(tr.select("number_value").collect().map(_.getInt(0)).sorted.toSeq
      === Seq(0, 9, 74))
  }

  test("X2: decile range_group boundaries 00-09 .. 90-99") {
    val tr = Lottery.transform(staged(Seq(
      ("Giải Bảy", "00", "06-10-2025"),
      ("Giải Bảy", "09", "06-10-2025"),
      ("Giải Bảy", "10", "06-10-2025"),
      ("Giải Bảy", "55", "06-10-2025"),
      ("Giải Bảy", "99", "06-10-2025"))))
    val got = tr.select("number_value", "range_group").collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(got === Map(0 -> "00-09", 9 -> "00-09", 10 -> "10-19",
      55 -> "50-59", 99 -> "90-99"))
  }

  test("X6: all seven Vietnamese day names (ETLMain.java:275-285)") {
    // 2025-10-06 is a Monday
    val got = Lottery.dimDateRows((6 to 12).map(java.time.LocalDate.of(2025, 10, _)))
      .map(r => r.getAs[Date]("full_date").toString -> r.getAs[String]("day_name")).toMap
    assert(got === Map(
      "2025-10-06" -> "Thứ 2", "2025-10-07" -> "Thứ 3", "2025-10-08" -> "Thứ 4",
      "2025-10-09" -> "Thứ 5", "2025-10-10" -> "Thứ 6", "2025-10-11" -> "Thứ 7",
      "2025-10-12" -> "Chủ nhật"))
  }

  test("F4: minimum-length guard rejects 1-char, keeps 2-char (LotteryTransform.java:129)") {
    val tr = Lottery.transform(staged(Seq(
      ("Giải Bảy", "7", "06-10-2025"),
      ("Giải Bảy", " 8 ", "06-10-2025"),   // trimmed to 1 char → rejected
      ("Giải Bảy", "78", "06-10-2025"))))
    assert(tr.select("number_value").collect().map(_.getInt(0)).toSeq === Seq(78))
  }

  test("F2: prize filter is exact (diacritics matter)") {
    val tr = Lottery.transform(staged(Seq(
      ("Giải Bảy", "11", "06-10-2025"),
      ("Giai Bay", "22", "06-10-2025"),     // no diacritics → not the 7th prize
      ("giải bảy", "33", "06-10-2025"))))   // case differs → excluded
    assert(tr.count() === 1)
  }

  test("X7/X8: weekend and parity flags across a week") {
    val tr = Lottery.transform(staged(Seq(
      ("Giải Bảy", "10", "10-10-2025"),  // Friday
      ("Giải Bảy", "11", "11-10-2025"),  // Saturday
      ("Giải Bảy", "12", "12-10-2025"))))// Sunday
    val got = tr.select("number_value", "is_weekend", "is_even").collect()
      .map(r => r.getInt(0) -> ((r.getInt(1), r.getInt(2)))).toMap
    assert(got === Map(10 -> ((0, 1)), 11 -> ((1, 0)), 12 -> ((1, 1))))
  }

  test("X3/F6: date quarantine keeps valid dd-MM-yyyy only") {
    val tr = Lottery.transform(staged(Seq(
      ("Giải Bảy", "10", "31-02-2025"),  // impossible date → quarantined
      ("Giải Bảy", "11", "2025-10-06"),  // wrong format → quarantined
      ("Giải Bảy", "12", "29-02-2024"))))// leap day → valid
    val got = tr.select("number_value", "full_date").collect()
      .map(r => (r.getInt(0), r.getDate(1)))
    assert(got.toSeq === Seq((12, Date.valueOf("2024-02-29"))))
  }
}
