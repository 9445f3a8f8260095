package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's complete warehouse pipeline (P2→P4 + mart + serving),
  * re-expressed as one lazy DataFrame DAG (SURVEY.md §3.1 restatement).
  *
  * Stage semantics follow the reference exactly, except the four
  * canonicalizations documented in SURVEY §7.2:
  *  - days_since_last over full history (not within-batch);
  *  - fact grain (date_key, number_key) with intra-batch dedupe,
  *    occurrence_count carrying the day's multiplicity;
  *  - argmax/argmin tie-break = lowest numeric value;
  *  - deterministic surrogate keys (row_number, not AUTO_INCREMENT).
  *
  * Scale posture: the whole chain is shuffle-minimal — transform is a pure
  * map stage (no shuffle); dims are tiny aggregates; the fact build shuffles
  * once on full_date and once on number_value; dim joins are broadcast. At
  * 100 TB the fact write would be `partitionBy(year)` on date; dims stay
  * broadcast-size by construction (≤100 numbers, 1 row/day).
  */
object Lottery {

  /** Crawler CSV schema — all strings on the wire
    * (crawl_data/.../LotteryCrawler.java:301 header, :357-359 rows). */
  val crawlSchema: StructType = StructType(Seq(
    StructField("prize", StringType),
    StructField("number_value", StringType),
    StructField("full_date", StringType),
    StructField("created_at", StringType)))

  /** P2 staging load (StagingDW/.../CsvLoader.java:8-50): directory CSV scan,
    * header skip, short-row drop (F3), ingest timestamp. Spark's CSV reader
    * natively scans the directory and tolerates the crawler's UTF-8 BOM.
    * Only `*.csv` files are parsed, the files P1's gate and the reference's
    * S2 scan accept. A crawler file is ~1 KB, so the parser's read buffer
    * is 4K chars, not univocity's default 1M per file (the buffer bounds
    * one read, not a field: longer fields still parse). */
  def staging(spark: SparkSession, csvDir: String): DataFrame =
    spark.read
      .option("header", "true")
      .option("encoding", "UTF-8")
      .option("pathGlobFilter", "*.csv")
      .option("inputBufferSize", "4096")
      .schema(crawlSchema)
      .csv(csvDir)
      .na.drop("any", Seq("prize", "number_value", "full_date"))
      .withColumn("load_timestamp", current_timestamp())

  /** P3 transform (transform_staging/.../LotteryTransform.java:112-159):
    * keep 7th-prize rows (F2), require ≥2 chars (F4), last-two-digits (X1),
    * decile range_group (X2), dd-MM-yyyy parse (X3) with cast-null
    * quarantine of unparseable rows (F6), weekend/parity flags (X7, X8). */
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

  /** Vietnamese day name (ETLMain.java:275-285): Mon..Sat = "Thứ 2".."Thứ 7",
    * Sun = "Chủ nhật". Spark dayofweek is 1=Sunday..7=Saturday. */
  def vietDayName(d: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(dayofweek(d) === 1, "Chủ nhật")
      .otherwise(concat(lit("Thứ "), dayofweek(d).cast("string")))

  /** dim_date (ETLMain.java:233-285): one row per distinct draw date;
    * date_key = yyyyMMdd int (X4), calendar parts (X5), Viet day name (X6). */
  def dimDate(transformDf: DataFrame): DataFrame = {
    val d = col("full_date")
    transformDf.select(d, col("is_weekend")).distinct()
      .select(
        date_format(d, "yyyyMMdd").cast("int").as("date_key"),
        d.as("full_date"),
        dayofmonth(d).as("day_of_month"),
        month(d).as("month_of_year"),
        year(d).as("year_value"),
        date_format(d, "yyyy-MM").as("year_month_value"),
        vietDayName(d).as("day_name"),
        col("is_weekend"))
  }

  /** dim_number (ETLMain.java:288-340,419-429): one row per normalized
    * number string (X10: int round-trip strips leading zeros), parity (X8),
    * last_digit (X9), last appearance (G6/W3 recompute — Spark has no point
    * updates, so the whole dim is a deterministic aggregate). Surrogate key
    * = row_number ordered by numeric value (SURVEY §7.2: deterministic,
    * unlike the reference's insertion-order AUTO_INCREMENT).
    *
    * The UNPARTITIONED Window.orderBy below funnels the dim through one
    * task — acceptable HERE ONLY because the two-digit domain bounds this
    * dim at ≤100 rows BY CONSTRUCTION (the groupBy key is a 0-99 number
    * string), so the "single sort task" holds ≤100 rows at any corpus
    * size. Do NOT copy this pattern to an unbounded dimension: there the
    * surrogate key needs zipWithIndex-style per-partition offsets or a
    * hash/natural key (the packShards two-level prefix-sum pattern). */
  def dimNumber(transformDf: DataFrame): DataFrame = {
    val norm = col("number_value").cast("string") // transform already int
    val byNum = transformDf
      .groupBy(norm.as("number_value"))
      .agg(max(col("full_date")).as("last_appeared_date"))
    val w = Window.orderBy(col("number_value").cast("int"))
    byNum.select(
      row_number().over(w).as("number_key"),
      col("number_value"),
      when(col("number_value").cast("int") % 2 === 0, 1).otherwise(0).as("is_even"),
      coalesce(col("number_value").cast("int") % 10, lit(0)).cast("int").as("last_digit"),
      col("last_appeared_date"))
  }

  /** dim_number for a load into an existing warehouse: the collected rows
    * of a `dimNumber` recompute, where every number in `kept` (number_value
    * → number_key, as stored) keeps its key, since the facts appended so
    * far reference it; new numbers get the keys after the largest kept one,
    * in numeric order. `dimNumber`'s row_number alone would shift every
    * key above a new number and re-attribute the old facts (the reference's
    * AUTO_INCREMENT keys never move either). With nothing kept this is
    * `dimNumber`'s own keying. Plain driver code: both sides are ≤100 rows.
    * Returns the rows ordered by key. */
  def keepNumberKeys(kept: Map[String, Int], fresh: Seq[Row]): Seq[Row] = {
    def number(r: Row): String = r.getAs[String]("number_value")
    def withKey(r: Row, key: Int): Row =
      Row.fromSeq(r.toSeq.updated(r.fieldIndex("number_key"), key))
    val (old, added) = fresh.partition(r => kept.contains(number(r)))
    val next = kept.values.maxOption.getOrElse(0) + 1
    (old.map(r => kept(number(r)) -> r) ++
      added.sortBy(number(_).toInt).zipWithIndex
        .map { case (r, i) => (next + i) -> r })
      .sortBy(_._1).map { case (key, r) => withKey(r, key) }
  }

  /** fact_prize (ETLMain.java:342-416): grain (date_key, number_key);
    * total_draws = transform rows that day (G1, the probability denominator
    * ETLMain.java:363-368); probability = 1/total_draws per draw (X11);
    * days_since_last = full-history per-number gap (W2 canonicalized);
    * occurrence_count = same-day multiplicity (A3 canonicalized: the
    * reference would double-insert; we dedupe and count). */
  def factPrize(transformDf: DataFrame, dimNumberDf: DataFrame): DataFrame = {
    val perDay = transformDf.select(
      date_format(col("full_date"), "yyyyMMdd").cast("int").as("date_key"),
      col("full_date"),
      col("number_value").cast("string").as("number_value"))
    // G1: draws per day — window keeps the row grain without a second scan.
    val wDay = Window.partitionBy(col("date_key"))
    val counted = perDay
      .withColumn("total_draws", count(lit(1)).over(wDay).cast("int"))
      .groupBy(col("date_key"), col("full_date"), col("number_value"),
               col("total_draws"))
      .agg(count(lit(1)).cast("int").as("occurrence_count"))
    // W2: previous appearance of the same number, full history.
    val wNum = Window.partitionBy(col("number_value")).orderBy(col("full_date"))
    val withGap = counted.withColumn("days_since_last",
      datediff(col("full_date"), lag(col("full_date"), 1).over(wNum)))
    // J1: surrogate-key lookup — dim is ≤100 rows, always broadcast.
    withGap
      .join(broadcast(dimNumberDf.select(col("number_key"), col("number_value"))),
            Seq("number_value"))
      .select(col("date_key"), col("number_key"), col("occurrence_count"),
        col("total_draws"),
        (lit(1.0) / col("total_draws")).cast(DecimalType(38, 10)).as("probability_value"),
        col("days_since_last"))
  }

  /** mart_two_digit_probability (SURVEY §2.9 G7 reconstruction from
    * Backend/.../entity/Mart.java:14-34): per number — total occurrences,
    * global distinct-draw-day denominator, DECIMAL(38,4) probability,
    * last appearance and recency vs the latest draw date. */
  def mart(factDf: DataFrame, dimNumberDf: DataFrame, dimDateDf: DataFrame): DataFrame = {
    val totals = dimDateDf.agg(
      countDistinct(col("date_key")).cast("int").as("total_draws"),
      max(col("full_date")).as("global_last"))
    factDf
      .groupBy(col("number_key"))
      .agg(sum(col("occurrence_count")).cast(DecimalType(32, 0)).as("total_occurrences"))
      .join(broadcast(dimNumberDf), Seq("number_key"))
      .crossJoin(broadcast(totals))
      .select(
        col("number_value"),
        col("total_occurrences"),
        col("total_draws"),
        (col("total_occurrences").cast(DecimalType(20, 10)) / col("total_draws"))
          .cast(DecimalType(38, 4)).as("probability"),
        col("last_appeared_date"),
        datediff(col("global_last"), col("last_appeared_date")).as("days_since_last"))
  }

  /** GET /mart/statistic (MartRepository.java:14-33): the four dashboard
    * scalars. Tie-break = lowest numeric value (the reference JPQL throws
    * on ties, SURVEY §7.2).
    *
    * One aggregate, no joins. Each arg pick is the `min` of a struct whose
    * `key` fields are the sort keys, compared in order, nulls first:
    * `mostNumber` orders by total_occurrences descending with nulls last
    * (the `isNull` flag), then int(number_value) ascending with nulls
    * first; `leastNumber` orders by both ascending with nulls first. An
    * empty mart gives no row (the `rows > 0` filter), not a row of nulls. */
  def statistic(martDf: DataFrame): DataFrame = {
    val occ = col("total_occurrences")
    val num = col("number_value")
    def pick(keys: Column*): Column =
      min(struct(struct(keys :+ num.cast("int"): _*).as("key"), num.as("value")))
        .getField("value")
    martDf.agg(
        max(col("total_draws")).as("totalOccurrences"),
        pick(occ.isNull, -occ).as("mostNumber"),
        pick(occ).as("leastNumber"),
        max(col("last_appeared_date")).as("lastUpdate"),
        count(lit(1)).as("rows"))
      .filter(col("rows") > 0)
      .drop("rows")
  }

  /** Full P2→mart DAG from a crawler-CSV directory. */
  def run(spark: SparkSession, csvDir: String): LotteryWarehouse = {
    val stg = staging(spark, csvDir)
    val tr = transform(stg)
    val dd = dimDate(tr)
    val dn = dimNumber(tr)
    val fp = factPrize(tr, dn)
    val mt = mart(fp, dn, dd)
    LotteryWarehouse(stg, tr, dd, dn, fp, mt, statistic(mt))
  }
}

/** The materialized-on-demand warehouse surface (all lazy DataFrames). */
final case class LotteryWarehouse(
    staging: DataFrame,
    transform: DataFrame,
    dimDate: DataFrame,
    dimNumber: DataFrame,
    factPrize: DataFrame,
    mart: DataFrame,
    statistic: DataFrame)
