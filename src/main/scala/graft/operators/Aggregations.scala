package graft.operators

import graft.{Q, QModule}
import graft.Tables.{dsum, t}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Aggregation inventory (SURVEY.md §2.5) plus the free Spark extensions the
  * reference lacks (rollup/cube/distinct/statistical aggregates).
  *
  * Reference semantics re-expressed:
  *  - G1 group-count: ETLMain.java:363-368 (draws per date_key)
  *  - G2 scalar count: ETLMain.java:222,444-450
  *  - G4 MAX scalar: Backend/.../MartRepository.java:28-33
  *  - G5 argmax with tie-break: MartRepository.java:14-27 (JPQL throws on
  *    ties; we canonicalize to lowest key, SURVEY §7.2)
  *  - G6 group-by MAX: ETLMain.java:361,394-429 (last appearance)
  *  - G7 mart aggregate: Backend/.../entity/Mart.java:14-34 (build SQL
  *    missing from the repo; reconstruction per SURVEY §2.9)
  *
  * Scale posture: every groupBy here is a hash aggregate with map-side
  * partial aggregation (one shuffle of the *aggregated* partials, not rows).
  * Scalar totals joined back in are broadcast, never recomputed per row.
  * Double-typed measures are summed in exact decimal (order-independent)
  * then emitted as double — see Tables.dsum.
  */
object Aggregations extends QModule {

  // --- approximate sketches (library surface, spec-verified) --------------
  // The raw HLL++/Greenwald-Khanna sketch VALUES are engine-specific, so
  // they carry no DuckDB oracle and live outside the driver-visible query
  // registry — their accuracy CONTRACTS are what the driver checks, via the
  // oracled g11b/g17b/g21 bound queries below, and ExtensionSpec bounds the
  // raw values against exact computations. At 100 TB these are the
  // distributed sketch shapes: per-partition partials merged in one reduce,
  // vs the exact forms' full shuffle/sort of the column.

  /** Approximate distinct l_partkey count (HLL++, rsd 2%). */
  def approxDistinct(s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    import s.implicits._
    t(s, dir, "lineitem").agg(
      approx_count_distinct($"l_partkey", 0.02).as("approx_parts"))
  }

  /** Approximate p50/p90/p99 of l_extendedprice (GK sketch, accuracy
    * 10000 ⇒ rank error ≤ 1e-4·n). */
  def approxPercentile(s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    import s.implicits._
    t(s, dir, "lineitem").agg(
      expr("approx_percentile(l_extendedprice, array(0.5, 0.9, 0.99), 10000)")
        .as("approx_price_p50_p90_p99"))
      .select(
        element_at($"approx_price_p50_p90_p99", 1).as("p50"),
        element_at($"approx_price_p50_p90_p99", 2).as("p90"),
        element_at($"approx_price_p50_p90_p99", 3).as("p99"))
  }

  /** ONE-PASS table profile: per column — null count, EXACT distinct,
    * min/max — in a single aggregation over one scan, via Spark's Expand
    * (rows × (#distinct-cols + 1) map-side).
    *
    * MEASURED VERDICT (ScaleBench profile mode, ×16 lineitem parquet):
    * this form is ~19× SLOWER than [[profileTablePerColumn]] on columnar
    * storage — 107.9 s vs 5.7 s — because parquet column pruning makes N
    * single-column scans cost the same total I/O as one full scan, while
    * Expand multiplies every row through the aggregate. The row-store
    * intuition ("N scans of the table vs 1") inverts on parquet. Keep
    * THIS form only where a second pass is impossible (a stream you
    * cannot replay) or the source cannot prune columns (CSV, row-store
    * JDBC); the registry query g33 uses the per-column form. */
  def profileTable(df: org.apache.spark.sql.DataFrame,
                   cols: Seq[(String, Boolean)])
      : org.apache.spark.sql.DataFrame = {
    val measures = cols.flatMap { case (c, num) =>
      val base = if (num) col(c).cast(DecimalType(18, 2)) else col(c)
      Seq(sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nul_$c"),
        countDistinct(col(c)).as(s"dst_$c"),
        min(base).cast("string").as(s"min_$c"),
        max(base).cast("string").as(s"max_$c"))
    } :+ count(lit(1)).as("n_rows")
    val one = df.agg(measures.head, measures.tail: _*)
    val stackExpr = s"stack(${cols.size}, " + cols.map { case (c, _) =>
      s"'$c', nul_$c, dst_$c, min_$c, max_$c" }.mkString(", ") +
      ") as (column_name, n_null, n_distinct, min_v, max_v)"
    one.select(col("n_rows"), expr(stackExpr))
      .select(col("column_name"), col("n_rows"), col("n_null"),
        col("n_distinct"), col("min_v"), col("max_v"))
  }

  /** PER-COLUMN table profile (one pruned scan per column, union of
    * single-column aggregates) — the RIGHT shape on columnar storage and
    * g33's implementation: each scan's ReadSchema is exactly its one
    * column (plan-pinned), so total I/O equals one full-width scan while
    * the CPU path stays narrow. Content-identical to [[profileTable]];
    * see its scaladoc for the measured 19× contrast. */
  def profileTablePerColumn(df: org.apache.spark.sql.DataFrame,
                            cols: Seq[(String, Boolean)])
      : org.apache.spark.sql.DataFrame =
    cols.map { case (c, num) =>
      val base = if (num) col(c).cast(DecimalType(18, 2)) else col(c)
      df.agg(count(lit(1)).as("n_rows"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as("n_null"),
        countDistinct(col(c)).as("n_distinct"),
        min(base).cast("string").as("min_v"),
        max(base).cast("string").as("max_v"))
        .select(lit(c).as("column_name"), col("n_rows"), col("n_null"),
          col("n_distinct"), col("min_v"), col("max_v"))
    }.reduce(_ unionByName _)

  def qs: Seq[Q] = Seq(
    // G1: group-by count — total draws per day analog.
    Q("g1_group_count", (s, dir) => {
      import s.implicits._
      t(s, dir, "orders")
        .groupBy($"o_orderdate".cast("date").cast("string").as("order_date"))
        .agg(count(lit(1)).as("n_orders"))
        .orderBy($"order_date")
    }, sql = Some("""
      SELECT CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS order_date,
             COUNT(*) AS n_orders
      FROM orders GROUP BY 1 ORDER BY order_date
    """)),

    // G2: scalar COUNT(*).
    Q("g2_scalar_count", (s, _dir) => {
      t(s, _dir, "lineitem").agg(count(lit(1)).as("n_rows"))
    }, sql = Some("SELECT COUNT(*) AS n_rows FROM lineitem")),

    // G4: scalar MIN/MAX aggregates (dashboard last-update pattern).
    Q("g4_scalar_max", (s, dir) => {
      import s.implicits._
      t(s, dir, "orders").agg(
        max($"o_orderdate").cast("date").cast("string").as("max_date"),
        max($"o_totalprice").as("max_price"),
        min($"o_totalprice").as("min_price"))
    }, sql = Some("""
      SELECT CAST(CAST(MAX(o_orderdate) AS DATE) AS VARCHAR) AS max_date,
             MAX(o_totalprice) AS max_price, MIN(o_totalprice) AS min_price
      FROM orders
    """)),

    // G5: argmax with deterministic tie-break (lowest key) — the
    // "hottest number" query. orderBy desc + limit 1 beats max_by here
    // because max_by's tie choice is engine-dependent.
    Q("g5_argmax", (s, dir) => {
      import s.implicits._
      t(s, dir, "orders")
        .groupBy($"o_custkey")
        .agg(dsum($"o_totalprice").as("total_spend"))
        .orderBy($"total_spend".desc, $"o_custkey".asc)
        .limit(1)
    }, sql = Some("""
      SELECT o_custkey,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend
      FROM orders GROUP BY o_custkey
      ORDER BY total_spend DESC, o_custkey ASC LIMIT 1
    """)),

    // G6: group-by MAX — last appearance date per key (K4's recompute form:
    // no point updates in Spark, recompute the dim aggregate wholesale).
    Q("g6_group_max", (s, dir) => {
      import s.implicits._
      t(s, dir, "orders")
        .groupBy($"o_custkey")
        .agg(max($"o_orderdate").cast("date").cast("string").as("last_order_date"))
        .orderBy($"o_custkey")
    }, sql = Some("""
      SELECT o_custkey, CAST(CAST(MAX(o_orderdate) AS DATE) AS VARCHAR) AS last_order_date
      FROM orders GROUP BY o_custkey ORDER BY o_custkey
    """)),

    // G7: the reconstructed mart_two_digit_probability over testdata:
    // "number" := l_partkey % 100 (two-digit string), "draw date" :=
    // l_shipdate. Per number: occurrences, global distinct-draw-days
    // denominator, probability, last appearance + recency. The global
    // denominator is a 1-row aggregate cross-joined back (broadcast), the
    // reference's total_draws (Mart.java:21-28).
    // Single-scan shape: pre-aggregate once to the tiny (number_value, d)
    // grid (≤100 numbers × distinct days); both consumers — per-number
    // stats and the global distinct-day denominator — re-aggregate that
    // grid, so their subtrees are IDENTICAL below the (number_value, d)
    // exchange and ReuseExchange serves the second branch from the first's
    // shuffle output: one lineitem scan total (plan-asserted in
    // PlanHygieneSpec). A ROLLUP formulation does NOT work here: the
    // grouping-flag filters get rewritten into structurally different
    // aggregates per branch, defeating exchange reuse.
    Q("g7_mart_aggregate", (s, dir) =>
      reconstructedMart(s, dir).orderBy(col("number_value")),
      sql = Some(s"""
      $martCte
      SELECT * FROM mart ORDER BY number_value
    """), headline = true),

    // §2.9 GET /mart/statistic AS ONE ORACLED ROW: the four dashboard
    // scalars (MartRepository.java:14-33) composed by Lottery.statistic
    // over the reconstructed mart — the serving layer's exact input, so
    // the full compose (argmax/argmin with the lowest-numeric-value
    // tie-break, max-draws, last-update) is hash-checked wholesale, not
    // just its g4/g5 components. The mart is localCheckpoint'd first: in
    // production statistic collects the MATERIALIZED mart (≤100 rows) and
    // computes the scalars on the driver — the reference's
    // precompute-then-serve split — so timing the mart's lineage here
    // would misstate the serving cost shape.
    Q("serve_statistic", (s, dir) =>
      graft.pipeline.Lottery.statistic(
        reconstructedMart(s, dir).localCheckpoint()),
      sql = Some(s"""
      $martCte,
      most AS (
        SELECT number_value AS mostNumber FROM mart
        ORDER BY total_occurrences DESC, CAST(number_value AS INT) ASC LIMIT 1),
      least AS (
        SELECT number_value AS leastNumber FROM mart
        ORDER BY total_occurrences ASC, CAST(number_value AS INT) ASC LIMIT 1),
      scalars AS (
        SELECT MAX(total_draws) AS totalOccurrences,
               MAX(last_appeared_date) AS lastUpdate FROM mart)
      SELECT totalOccurrences, mostNumber, leastNumber, lastUpdate
      FROM scalars CROSS JOIN most CROSS JOIN least
    """)),

    // §2.9 GET /mart/all AS ONE ORACLED QUERY: the findAll endpoint's
    // exact payload — every Mart entity field under its REST (camelCase)
    // name (Backend/.../entity/Mart.java:14-34; MartRepository.findAll
    // served by MartService.java:17-19). This is the DataFrame the
    // serving layer snapshots for the /mart/all route, hash-checked
    // wholesale. JPA findAll has no defined order; the oracle pins the
    // entity @Id (number_value) for determinism.
    Q("serve_mart_all", (s, dir) =>
      reconstructedMart(s, dir).select(
        col("number_value").as("numberValue"),
        col("total_occurrences").as("totalOccurrences"),
        col("total_draws").as("totalDraws"),
        col("probability"),
        col("last_appeared_date").as("lastAppearedDate"),
        col("days_since_last").as("daysSinceLast"))
        .orderBy(col("numberValue")),
      sql = Some(s"""
      $martCte
      SELECT number_value AS "numberValue",
             total_occurrences AS "totalOccurrences",
             total_draws AS "totalDraws",
             probability,
             last_appeared_date AS "lastAppearedDate",
             days_since_last AS "daysSinceLast"
      FROM mart ORDER BY number_value
    """)),

    // ROLLUP (absent in reference; SURVEY §2.5 last row). Null ordering
    // pinned explicitly: Spark sorts NULLS FIRST asc by default; DuckDB
    // defaults NULLS LAST, so the oracle says NULLS FIRST.
    Q("g8_rollup", (s, dir) => {
      import s.implicits._
      t(s, dir, "lineitem")
        .rollup($"l_returnflag", $"l_linestatus")
        .agg(count(lit(1)).as("n"), dsum($"l_quantity").as("sum_qty"))
        .orderBy($"l_returnflag".asc_nulls_first, $"l_linestatus".asc_nulls_first)
    }, sql = Some("""
      SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
      ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST
    """)),

    // CUBE.
    Q("g9_cube", (s, dir) => {
      import s.implicits._
      t(s, dir, "orders")
        .cube($"o_orderstatus", $"o_orderpriority")
        .agg(count(lit(1)).as("n"))
        .orderBy($"o_orderstatus".asc_nulls_first, $"o_orderpriority".asc_nulls_first)
    }, sql = Some("""
      SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
      FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
      ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST
    """)),

    // Exact distinct count (two-phase partial → merge under the hood).
    Q("g10_distinct_count", (s, dir) => {
      import s.implicits._
      t(s, dir, "orders").agg(
        countDistinct($"o_custkey").as("n_customers"),
        countDistinct($"o_orderstatus").as("n_statuses"))
    }, sql = Some("""
      SELECT COUNT(DISTINCT o_custkey) AS n_customers,
             COUNT(DISTINCT o_orderstatus) AS n_statuses
      FROM orders
    """)),

    // g11's oracled companion: the HLL VALUE is engine-specific, but the
    // accuracy CONTRACT is checkable — Spark emits the exact distinct
    // count plus a boolean |approx − exact| ≤ 3·rsd·exact, the oracle
    // emits the same exact count and literal TRUE. A sketch regression
    // past its error budget now breaks the hash instead of hiding behind
    // the rows-only check.
    Q("g11b_distinct_bound", (s, dir) => {
      import s.implicits._
      t(s, dir, "lineitem")
        .agg(approx_count_distinct($"l_partkey", 0.02).as("approx"),
          countDistinct($"l_partkey").as("exact"))
        .select($"exact".as("exact_parts"),
          (abs($"approx" - $"exact").cast("double") <= $"exact" * 0.06)
            .as("within_bound"))
    }, sql = Some("""
      SELECT COUNT(DISTINCT l_partkey) AS exact_parts, TRUE AS within_bound
      FROM lineitem
    """)),

    // Hot-key-proof aggregation: Skew.saltedSumCount's two-phase salted
    // form over the 3-value o_orderstatus — the degenerate key
    // distribution where a plain groupBy pins whole partitions on 3
    // tasks. Phase 1 spreads each key over 16 salts, phase 2 merges 16
    // tiny partials per key. DECIMAL values keep the sum
    // order-independent, so the salted result is bit-equal to the plain
    // GROUP BY the oracle runs.
    Q("g20_salted_agg", (s, dir) => {
      import s.implicits._
      Skew.saltedSumCount(t(s, dir, "orders"), $"o_orderstatus",
          $"o_totalprice".cast(DecimalType(18, 2)))
        .select($"k".as("o_orderstatus"),
          $"sum_v".cast("double").as("sum_price"), $"n".as("n_orders"))
        .orderBy($"o_orderstatus")
    }, sql = Some("""
      SELECT o_orderstatus,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
             COUNT(*) AS n_orders
      FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """)),

    // Grouped sibling of g11b: the HLL accuracy contract held PER GROUP
    // (a grouped sketch can silently degrade on small groups while the
    // global one stays fine).
    Q("g21_grouped_distinct_bound", (s, dir) => {
      import s.implicits._
      t(s, dir, "orders")
        .groupBy($"o_orderstatus")
        .agg(approx_count_distinct($"o_custkey", 0.02).as("approx"),
          countDistinct($"o_custkey").as("exact"))
        .select($"o_orderstatus", $"exact".as("exact_cust"),
          (abs($"approx" - $"exact").cast("double") <= $"exact" * 0.06)
            .as("within_bound"))
        .orderBy($"o_orderstatus")
    }, sql = Some("""
      SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS exact_cust,
             TRUE AS within_bound
      FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """)),

    // g17's oracled companion: the GK guarantee is that the returned
    // value holds SOME rank within eps·n of the sketch's target rank
    // (accuracy 10000 ⇒ eps = 1e-4). Two slacks compose: the eps·n
    // sketch error, and ±1 rank for the INDEX CONVENTION — Spark's
    // percentile target is the zero-based q·(n−1) position, not q·n, so
    // the returned value legitimately sits up to one rank below q·n
    // (measured: at n=6,000 the exact sketch answer has count(≤v) =
    // q·n − 1 for all three quantiles, and eps·n = 0.6 can't absorb it —
    // the bound without the ±1 was only ever green because every larger
    // SF has eps·n > 1). The value's rank interval is
    // [count(<v)+1, count(≤v)], so the check is interval intersection:
    // count(<v) < (q+eps)·n + 1 AND count(≤v) ≥ (q−eps)·n − 1. Spark
    // verifies against exact ranks (one broadcast of the 1-row sketch
    // result + one counting pass); the oracle emits the exact row count
    // and literal TRUEs.
    Q("g17b_percentile_bound", (s, dir) => {
      import s.implicits._
      val li = t(s, dir, "lineitem")
      val ap = li.agg(
        expr("approx_percentile(l_extendedprice, array(0.5, 0.9, 0.99), 10000)")
          .as("ap"))
      val eps = 1e-4
      def ok(q: Double, i: Int): org.apache.spark.sql.Column = {
        val v = element_at($"ap", i)
        val lt = sum(when($"l_extendedprice" < v, 1L).otherwise(0L))
        val le = sum(when($"l_extendedprice" <= v, 1L).otherwise(0L))
        (lt < (lit(q) + eps) * count(lit(1)) + 1L &&
          le >= (lit(q) - eps) * count(lit(1)) - 1L).as(s"p${(q * 100).toInt}_within_bound")
      }
      li.crossJoin(broadcast(ap))
        .agg(count(lit(1)).as("n_rows"), ok(0.5, 1), ok(0.9, 2), ok(0.99, 3))
    }, sql = Some("""
      SELECT COUNT(*) AS n_rows, TRUE AS p50_within_bound,
             TRUE AS p90_within_bound, TRUE AS p99_within_bound
      FROM lineitem
    """)),

    // G12: KMV (bottom-k) distinct sketch — the oracle-checkable sibling of
    // g11's HLL. h = 60-bit md5 prefix of the key; keep the k=256 smallest
    // distinct h; estimate = (k-1)·2^60 / h_k. All arithmetic is IEEE-
    // deterministic, so unlike HLL the sketch replays bit-exactly in any
    // engine. At 100 TB the bottom-k is a mergeable per-partition TopK
    // (partial min-heaps, one tiny shuffle), the classic distributed
    // distinct sketch.
    Q("g12_kmv_distinct", (s, dir) => {
      import s.implicits._
      val k = 256
      val h = conv(substring(md5($"o_custkey".cast("string").cast("binary")),
        1, 15), 16, 10).cast("long")
      t(s, dir, "orders")
        .select(h.as("h")).distinct()
        .orderBy($"h").limit(k)
        .agg(count(lit(1)).as("n_mins"), max($"h").as("h_k"))
        .select($"n_mins",
          when($"n_mins" < k, $"n_mins")
            .otherwise(floor(lit((k - 1).toDouble) * lit(1152921504606846976.0)
              / $"h_k".cast("double")).cast("long")).as("est_distinct"))
    }, sql = Some("""
      WITH h AS (
        SELECT DISTINCT ('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15))::BIGINT AS h
        FROM orders),
      mins AS (SELECT h FROM h ORDER BY h LIMIT 256)
      SELECT COUNT(*) AS n_mins,
             CASE WHEN COUNT(*) < 256 THEN COUNT(*)
                  ELSE CAST(floor(255.0 * 1152921504606846976.0
                                  / CAST(MAX(h) AS DOUBLE)) AS BIGINT) END AS est_distinct
      FROM mins
    """)),

    // G24: count-min sketch heavy hitters — the bounded-memory frequency
    // structure (d=4 hash rows × w=512 buckets, md5-derived bucket ids so
    // the sketch replays bit-exactly in any engine). Build is ONE
    // mergeable groupBy over a d-way explode (map-side combine absorbs
    // the fan-out; the sketch table is d·w rows total, independent of
    // key cardinality — THE property that matters at 100 TB, where exact
    // per-key state is the thing you can't hold). Estimates for the
    // exact top-10 keys are min-over-rows probes via a broadcast join
    // into the sketch; the output carries the CM guarantee itself
    // (true <= est <= true + 3N/w, 3 > e rationalizes the ε = e/w bound)
    // as a checked column, so the oracle verifies the sketch's contract,
    // not just its arithmetic.
    Q("g26_countmin_bound", (s, dir) => {
      import s.implicits._
      val d = 4; val w = 512
      def bucketOf(j: org.apache.spark.sql.Column,
                   key: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        conv(substring(md5(concat(j.cast("string"), lit(":"),
          key.cast("string")).cast("binary")), 1, 8), 16, 10)
          .cast("long") % w
      val orders = t(s, dir, "orders")
      val nTotal = orders.agg(count(lit(1)).as("n_total"))
      val truth = orders.groupBy($"o_custkey").agg(count(lit(1)).as("true_cnt"))
      val top = truth.orderBy($"true_cnt".desc, $"o_custkey".asc).limit(10)
      val sketch = orders
        .select($"o_custkey", explode(expr(s"sequence(0, ${d - 1})")).as("j"))
        .withColumn("bucket", bucketOf($"j", $"o_custkey"))
        .groupBy($"j", $"bucket").agg(count(lit(1)).as("c"))
      val probes = top
        .withColumn("j", explode(expr(s"sequence(0, ${d - 1})")))
        .withColumn("bucket", bucketOf($"j", $"o_custkey"))
      probes.join(sketch, Seq("j", "bucket"))
        .groupBy($"o_custkey", $"true_cnt")
        .agg(min($"c").as("est_cnt"))
        .crossJoin(broadcast(nTotal))
        .select($"o_custkey", $"true_cnt", $"est_cnt",
          ($"est_cnt" >= $"true_cnt" &&
           $"est_cnt" <= $"true_cnt" +
             floor(lit(3.0) * $"n_total" / w).cast("long")).as("within_bound"))
        .orderBy($"o_custkey")
    }, sql = Some("""
      WITH nt AS (SELECT COUNT(*) AS n_total FROM orders),
      truth AS (SELECT o_custkey, COUNT(*) AS true_cnt FROM orders GROUP BY 1),
      top AS (SELECT o_custkey, true_cnt FROM truth
              ORDER BY true_cnt DESC, o_custkey ASC LIMIT 10),
      r AS (
        SELECT o_custkey, u.j,
               ('0x' || substr(md5(CAST(u.j AS VARCHAR) || ':' ||
                 CAST(o_custkey AS VARCHAR)), 1, 8))::BIGINT % 512 AS bucket
        FROM orders, UNNEST(range(0, 4)) u(j)),
      sketch AS (SELECT j, bucket, COUNT(*) AS c FROM r GROUP BY 1, 2),
      probes AS (
        SELECT t.o_custkey, t.true_cnt, u.j,
               ('0x' || substr(md5(CAST(u.j AS VARCHAR) || ':' ||
                 CAST(t.o_custkey AS VARCHAR)), 1, 8))::BIGINT % 512 AS bucket
        FROM top t, UNNEST(range(0, 4)) u(j)),
      est AS (
        SELECT p.o_custkey, p.true_cnt, MIN(s.c) AS est_cnt
        FROM probes p JOIN sketch s USING (j, bucket)
        GROUP BY 1, 2)
      SELECT e.o_custkey, e.true_cnt, e.est_cnt,
             (e.est_cnt >= e.true_cnt AND
              e.est_cnt <= e.true_cnt +
                CAST(floor(3.0 * n.n_total / 512) AS BIGINT)) AS within_bound
      FROM est e CROSS JOIN nt n
      ORDER BY o_custkey
    """)),

    // G27: PERSISTABLE distinct sketches — Datasketches HLL via
    // hll_sketch_agg / hll_union_agg. The difference from g11b's
    // approx_count_distinct is the lifecycle: the sketch is a BINARY
    // column a caller writes to parquet per shard/day and re-merges later
    // WITHOUT touching raw data — the canonical incremental-distinct
    // pattern at 100 TB (exact per-key distinct state is the thing you
    // can't hold; re-scanning history is the thing you can't afford).
    // Build is one hash agg per shard, merge is register-max (order- and
    // partitioning-independent), so shard-merged == direct-built exactly
    // (ExtensionSpec pins that equality plus the parquet round-trip).
    // Oracled like the other sketch rows: the ESTIMATE is engine-specific,
    // the accuracy contract is not — the output carries exact cardinality
    // + a within-bound boolean both engines agree on.
    Q("g27_hll_sketch_merge", (s, dir) => {
      import s.implicits._
      val li = t(s, dir, "lineitem")
      val shards = li.groupBy(($"l_orderkey" % 8).as("shard"))
        .agg(hll_sketch_agg($"l_partkey").as("sk"))
      val merged = shards.agg(
        hll_sketch_estimate(hll_union_agg($"sk")).as("approx"),
        count(lit(1)).as("n_shards"))
      val exact = li.agg(countDistinct($"l_partkey").as("exact_parts"))
      exact.crossJoin(broadcast(merged))
        .select($"exact_parts", $"n_shards",
          (abs($"approx" - $"exact_parts").cast("double")
            <= $"exact_parts" * 0.06).as("within_bound"))
    }, sql = Some("""
      SELECT COUNT(DISTINCT l_partkey) AS exact_parts,
             CAST(8 AS BIGINT) AS n_shards, TRUE AS within_bound
      FROM lineitem
    """)),

    // G28: sketch ROLLUP — the grouped sibling of g27, proving partial
    // reaggregation: fine-grain (nation × ship-quarter) sketches merge up
    // to per-nation distinct-part estimates, the way a cluster rolls a
    // daily sketch table up to monthly/production grain. Per-group bound
    // (a rollup can silently degrade on small groups while the global
    // merge stays fine — same rationale as g21).
    Q("g28_hll_sketch_rollup", (s, dir) => {
      import s.implicits._
      val j = t(s, dir, "lineitem").join(broadcast(t(s, dir, "supplier")),
        $"l_suppkey" === $"s_suppkey")
      val cells = j.groupBy($"s_nationkey", quarter($"l_shipdate").as("qtr"))
        .agg(hll_sketch_agg($"l_partkey").as("sk"))
      val perNation = cells.groupBy($"s_nationkey")
        .agg(hll_sketch_estimate(hll_union_agg($"sk")).as("approx"))
      val exact = j.groupBy($"s_nationkey")
        .agg(countDistinct($"l_partkey").as("exact_parts"))
      exact.join(perNation, Seq("s_nationkey"))
        .select($"s_nationkey", $"exact_parts",
          (abs($"approx" - $"exact_parts").cast("double")
            <= $"exact_parts" * 0.08).as("within_bound"))
        .orderBy($"s_nationkey")
    }, sql = Some("""
      SELECT s_nationkey, COUNT(DISTINCT l_partkey) AS exact_parts,
             TRUE AS within_bound
      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      GROUP BY s_nationkey ORDER BY s_nationkey
    """)),

    // G29: the quantile analog of g27 — PERSISTABLE KLL quantile sketches
    // (graftshim.KllSketchAgg/KllMergeAgg, Column API
    // functions.SketchFunctions): per-shard binary sketches merged
    // without touching raw data, quantiles read from the merged bytes.
    // Spark 4.1 ships no storable quantile sketch (approx_percentile's
    // state is not a column) — this is the gap the tier closes. Oracled
    // like g17b: the returned p50/p90/p99 must have exact rank within
    // eps of the target (rank interval check against a counting pass);
    // KLL k=200 two-sided normalized rank error ≈ 1.33%, eps = 0.03
    // gives deterministic headroom on fixed data. The sketch's stream
    // length must equal the exact row count (merge loses nothing).
    Q("g29_kll_quantile_bound", (s, dir) => {
      import s.implicits._
      import graft.functions.SketchFunctions._
      val li = t(s, dir, "lineitem")
      val shards = li.groupBy(($"l_orderkey" % 8).as("shard"))
        .agg(kllSketchAgg($"l_extendedprice").as("sk"))
      val merged = shards.agg(kllMergeAgg($"sk").as("sk"))
        .select(kllQuantile($"sk", 0.5).as("p50"),
          kllQuantile($"sk", 0.9).as("p90"),
          kllQuantile($"sk", 0.99).as("p99"),
          kllN($"sk").as("n_sk"))
      val eps = 0.03
      def ok(q: Double, v: org.apache.spark.sql.Column,
             name: String): org.apache.spark.sql.Column = {
        val lt = sum(when($"l_extendedprice" < v, 1L).otherwise(0L))
        val le = sum(when($"l_extendedprice" <= v, 1L).otherwise(0L))
        (lt < (lit(q) + eps) * count(lit(1)) &&
          le >= (lit(q) - eps) * count(lit(1))).as(name)
      }
      li.crossJoin(broadcast(merged))
        .agg(count(lit(1)).as("n_rows"),
          ok(0.5, $"p50", "p50_within_bound"),
          ok(0.9, $"p90", "p90_within_bound"),
          ok(0.99, $"p99", "p99_within_bound"),
          (max($"n_sk") === count(lit(1))).as("n_matches"))
    }, sql = Some("""
      SELECT COUNT(*) AS n_rows, TRUE AS p50_within_bound,
             TRUE AS p90_within_bound, TRUE AS p99_within_bound,
             TRUE AS n_matches
      FROM lineitem
    """)),

    // G30: KLL rollup — g28's shape for quantiles: fine-grain
    // (nation × ship-quarter) sketches merge up to per-nation medians,
    // each read from merged bytes and rank-bounded per group against an
    // exact per-group counting pass (the bound must hold on every group,
    // not just globally — same rationale as g21/g28). Stream length per
    // nation must equal the group's exact row count.
    Q("g30_kll_rollup", (s, dir) => {
      import s.implicits._
      import graft.functions.SketchFunctions._
      val j = t(s, dir, "lineitem").join(broadcast(t(s, dir, "supplier")),
        $"l_suppkey" === $"s_suppkey")
      val cells = j.groupBy($"s_nationkey", quarter($"l_shipdate").as("qtr"))
        .agg(kllSketchAgg($"l_extendedprice").as("sk"))
      val perNation = cells.groupBy($"s_nationkey")
        .agg(kllMergeAgg($"sk").as("sk"))
        .select($"s_nationkey", kllQuantile($"sk", 0.5).as("p50"),
          kllN($"sk").as("n_sk"))
      val eps = 0.03
      j.join(perNation, Seq("s_nationkey"))
        .groupBy($"s_nationkey")
        .agg(count(lit(1)).as("n_rows"),
          (sum(when($"l_extendedprice" < $"p50", 1L).otherwise(0L))
            < (lit(0.5) + eps) * count(lit(1)) &&
           sum(when($"l_extendedprice" <= $"p50", 1L).otherwise(0L))
            >= (lit(0.5) - eps) * count(lit(1))).as("p50_within_bound"),
          (max($"n_sk") === count(lit(1))).as("n_matches"))
        .orderBy($"s_nationkey")
    }, sql = Some("""
      SELECT s_nationkey, COUNT(*) AS n_rows, TRUE AS p50_within_bound,
             TRUE AS n_matches
      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      GROUP BY s_nationkey ORDER BY s_nationkey
    """)),

    // G31: theta SET sketches — the algebra HLL cannot do: intersection
    // and difference cardinalities from persisted sketch bytes
    // (graftshim.ThetaSketch / functions.SketchFunctions). The corpus
    // question this answers at 100 TB: "how much of corpus A overlaps
    // corpus B / how many keys are new" with NO join over raw keys —
    // two KB-sized sketches, built per shard and unioned per corpus.
    // Here A/B = partkeys of even/odd orderkeys; bound 10% (+5 absolute
    // slack: theta is EXACT below 4096 retained hashes, so sf0.001/0.01
    // measure zero error, and the difference has no false positives by
    // the min-theta rule — A's retained hashes below theta are retained
    // by B too if shared).
    Q("g31_theta_overlap_bound", (s, dir) => {
      import s.implicits._
      import graft.functions.SketchFunctions._
      val li = t(s, dir, "lineitem").select($"l_partkey",
        ($"l_orderkey" % 2).as("corpus"), ($"l_orderkey" % 8).as("shard"))
      val sk = li.groupBy($"corpus", $"shard")
        .agg(thetaSketchAgg($"l_partkey").as("sk"))
        .groupBy($"corpus").agg(thetaUnionAgg($"sk").as("sk"))
      val ests = sk.filter($"corpus" === 0).select($"sk".as("ska"))
        .crossJoin(sk.filter($"corpus" === 1).select($"sk".as("skb")))
        .select(
          round(thetaEstimate(thetaIntersect($"ska", $"skb"))).cast("long")
            .as("est_overlap"),
          round(thetaEstimate(thetaANotB($"ska", $"skb"))).cast("long")
            .as("est_only_a"))
      val exact = li.groupBy($"l_partkey").agg(
          max(when($"corpus" === 0, 1).otherwise(0)).as("in_a"),
          max(when($"corpus" === 1, 1).otherwise(0)).as("in_b"))
        .agg(
          sum(when($"in_a" === 1 && $"in_b" === 1, 1L).otherwise(0L))
            .as("exact_overlap"),
          sum(when($"in_a" === 1 && $"in_b" === 0, 1L).otherwise(0L))
            .as("exact_only_a"))
      exact.crossJoin(broadcast(ests)).select(
        $"exact_overlap", $"exact_only_a",
        (abs($"est_overlap" - $"exact_overlap").cast("double")
          <= greatest($"exact_overlap" * 0.1, lit(5.0)))
          .as("overlap_within_bound"),
        (abs($"est_only_a" - $"exact_only_a").cast("double")
          <= greatest($"exact_only_a" * 0.1, lit(5.0)))
          .as("only_a_within_bound"))
    }, sql = Some("""
      WITH f AS (
        SELECT l_partkey,
               MAX(CASE WHEN l_orderkey % 2 = 0 THEN 1 ELSE 0 END) AS in_a,
               MAX(CASE WHEN l_orderkey % 2 = 1 THEN 1 ELSE 0 END) AS in_b
        FROM lineitem GROUP BY l_partkey)
      SELECT CAST(SUM(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS exact_overlap,
             CAST(SUM(CASE WHEN in_a = 1 AND in_b = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS exact_only_a,
             TRUE AS overlap_within_bound, TRUE AS only_a_within_bound
      FROM f
    """)),

    // G32: theta GROUPED ROLLUP — the g28/g30 pattern for the theta tier:
    // per-(nation, quarter) theta sketches of l_partkey, union-merged to
    // per-nation distinct estimates WITHOUT re-touching raw data. This is
    // the shape a 100 TB corpus ledger persists (one KB sketch per
    // (corpus, shard) cell; any coarser rollup is a union over sketch
    // rows). At sf0.1 per-nation distinct parts exceed theta's 4096
    // retained hashes, so this oracles ESTIMATION mode, not the exact
    // regime g31 lives in; bound 6% ≈ 3.8σ of the k=4096 RSE (~1.56%) —
    // deterministic on fixed data (theta is hash-based, no RNG).
    Q("g32_theta_rollup", (s, dir) => {
      import s.implicits._
      import graft.functions.SketchFunctions._
      val j = t(s, dir, "lineitem").join(broadcast(t(s, dir, "supplier")),
        $"l_suppkey" === $"s_suppkey")
      val cells = j.groupBy($"s_nationkey", quarter($"l_shipdate").as("qtr"))
        .agg(thetaSketchAgg($"l_partkey").as("sk"))
      val perNation = cells.groupBy($"s_nationkey")
        .agg(round(thetaEstimate(thetaUnionAgg($"sk"))).cast("long").as("approx"))
      val exact = j.groupBy($"s_nationkey")
        .agg(countDistinct($"l_partkey").as("exact_parts"))
      exact.join(perNation, Seq("s_nationkey"))
        .select($"s_nationkey", $"exact_parts",
          (abs($"approx" - $"exact_parts").cast("double")
            <= greatest($"exact_parts" * 0.06, lit(3.0))).as("within_bound"))
        .orderBy($"s_nationkey")
    }, sql = Some("""
      SELECT s_nationkey, COUNT(DISTINCT l_partkey) AS exact_parts,
             TRUE AS within_bound
      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      GROUP BY s_nationkey ORDER BY s_nationkey
    """), headline = true),

    // G33: table profile — the data-quality monitoring primitive: per
    // column, null count / exact distinct / min / max. Implementation is
    // the PER-COLUMN form: on columnar storage each scan prunes to
    // exactly its one column, so total I/O equals one full-width scan
    // while the one-pass Expand alternative multiplies every row through
    // the aggregate (measured 19× slower at ×16 — ScaleBench profile
    // mode; both forms kept in the library, scaladoc'd with the
    // verdict). The derived nullable column (price above a threshold,
    // else NULL) exercises the null-rate path the all-NOT-NULL physical
    // columns can't; numeric min/max render through DECIMAL(18,2) so
    // both engines agree on the string form.
    Q("g33_profile", (s, dir) => {
      import s.implicits._
      val o = t(s, dir, "orders")
        .withColumn("o_high_price",
          when($"o_totalprice" > 300000, $"o_totalprice"))
      Aggregations.profileTablePerColumn(o, Seq(("o_orderstatus", false),
        ("o_orderpriority", false), ("o_custkey", false),
        ("o_totalprice", true), ("o_high_price", true)))
        .orderBy(col("column_name"))
    }, sql = Some("""
      WITH o AS (
        SELECT *, CASE WHEN o_totalprice > 300000 THEN o_totalprice END
                  AS o_high_price
        FROM orders)
      SELECT * FROM (
        SELECT 'o_orderstatus' AS column_name, COUNT(*) AS n_rows,
               CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
               COUNT(DISTINCT o_orderstatus) AS n_distinct,
               CAST(MIN(o_orderstatus) AS VARCHAR) AS min_v,
               CAST(MAX(o_orderstatus) AS VARCHAR) AS max_v FROM o
        UNION ALL
        SELECT 'o_orderpriority', COUNT(*),
               CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               COUNT(DISTINCT o_orderpriority),
               CAST(MIN(o_orderpriority) AS VARCHAR),
               CAST(MAX(o_orderpriority) AS VARCHAR) FROM o
        UNION ALL
        SELECT 'o_custkey', COUNT(*),
               CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               COUNT(DISTINCT o_custkey),
               CAST(MIN(o_custkey) AS VARCHAR),
               CAST(MAX(o_custkey) AS VARCHAR) FROM o
        UNION ALL
        SELECT 'o_totalprice', COUNT(*),
               CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               COUNT(DISTINCT o_totalprice),
               CAST(CAST(MIN(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR),
               CAST(CAST(MAX(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR) FROM o
        UNION ALL
        SELECT 'o_high_price', COUNT(*),
               CAST(SUM(CASE WHEN o_high_price IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               COUNT(DISTINCT o_high_price),
               CAST(CAST(MIN(o_high_price) AS DECIMAL(18,2)) AS VARCHAR),
               CAST(CAST(MAX(o_high_price) AS DECIMAL(18,2)) AS VARCHAR) FROM o)
      ORDER BY column_name
    """)),

    // Exact percentiles (sort-based; both engines use linear interpolation).
    Q("g14_percentiles", (s, dir) => {
      import s.implicits._
      t(s, dir, "lineitem").agg(
        expr("percentile(l_quantity, 0.5)").as("p50_qty"),
        expr("percentile(l_quantity, 0.9)").as("p90_qty"),
        expr("percentile(l_extendedprice, 0.5)").as("p50_price"))
    }, sql = Some("""
      SELECT quantile_cont(l_quantity, 0.5) AS p50_qty,
             quantile_cont(l_quantity, 0.9) AS p90_qty,
             quantile_cont(l_extendedprice, 0.5) AS p50_price
      FROM lineitem
    """)),

    // Statistical aggregates, made order-independent: stddev/var computed
    // from exact decimal sums of x and x² (a distributed double stddev is
    // not bit-stable across partitionings, SURVEY §7.4 risk 2).
    Q("g13_stats", (s, dir) => {
      import s.implicits._
      val x = $"l_quantity"
      t(s, dir, "lineitem")
        .agg(
          sum(x.cast(DecimalType(18, 2))).cast("double").as("sx"),
          sum((x * x).cast(DecimalType(18, 4))).cast("double").as("sxx"),
          count(lit(1)).as("n"))
        .select(
          ($"sx" / $"n").as("mean_qty"),
          sqrt(($"sxx" - $"sx" * $"sx" / $"n") / ($"n" - 1)).as("stddev_qty"),
          $"n".as("n"))
    }, sql = Some("""
      WITH s AS (
        SELECT CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sxx,
               COUNT(*) AS n
        FROM lineitem)
      SELECT sx / n AS mean_qty,
             sqrt((sxx - sx * sx / n) / (n - 1)) AS stddev_qty,
             n AS n
      FROM s
    """)),

    // G19: bitwise aggregates (bit_or/bit_and/bit_xor) — order-independent
    // by algebra, so exact at any partitioning; the set-membership bitmap
    // trick in miniature (bit_or of per-row masks = "which buckets seen").
    Q("g19_bitops", (s, dir) => {
      import s.implicits._
      val mask = expr("shiftleft(CAST(1 AS BIGINT), CAST(user_id % 16 AS INT))")
      t(s, dir, "events")
        .groupBy($"event_type")
        .agg(bit_or(mask).as("bucket_bitmap"),
          bit_and($"user_id").as("and_ids"),
          bit_xor($"user_id").as("xor_ids"))
        .orderBy($"event_type")
    }, sql = Some("""
      SELECT event_type,
             CAST(bit_or(CAST(1 AS BIGINT) << CAST(user_id % 16 AS INT)) AS BIGINT) AS bucket_bitmap,
             CAST(bit_and(user_id) AS BIGINT) AS and_ids,
             CAST(bit_xor(user_id) AS BIGINT) AS xor_ids
      FROM events GROUP BY event_type ORDER BY event_type
    """)),

    // Boolean aggregate family (bool_and/bool_or/count_if) — predicates
    // folded into the aggregation layer instead of a pre-filter + join
    // back, so one scan answers several "does any/every row satisfy P"
    // questions per group.
    Q("g22_bool_aggs", (s, dir) => {
      import s.implicits._
      t(s, dir, "orders")
        .groupBy($"o_orderstatus")
        .agg(
          expr("count_if(o_totalprice > 200000)").as("n_big"),
          expr("bool_or(o_orderpriority = '1-URGENT')").as("any_urgent"),
          expr("bool_and(o_totalprice > 1000)").as("all_over_1k"),
          expr("bool_and(o_custkey IS NOT NULL)").as("custkey_complete"))
        .orderBy($"o_orderstatus")
    }, sql = Some("""
      SELECT o_orderstatus,
             CAST(count_if(o_totalprice > 200000) AS BIGINT) AS n_big,
             bool_or(o_orderpriority = '1-URGENT') AS any_urgent,
             bool_and(o_totalprice > 1000) AS all_over_1k,
             bool_and(o_custkey IS NOT NULL) AS custkey_complete
      FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """)),

    // Statistical mode per group in the DETERMINISTIC form: count per
    // (group, value), keep the top row by (count desc, value asc). Both
    // engines' native mode() leaves ties implementation-defined — the
    // explicit rank pins them. The window partitions by group over the
    // (small) per-value count table, not the raw rows.
    Q("g24_mode", (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val counts = t(s, dir, "orders")
        .groupBy($"o_orderstatus", $"o_orderpriority")
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy($"o_orderstatus")
        .orderBy($"n".desc, $"o_orderpriority".asc)
      counts.withColumn("rk", row_number().over(w)).filter($"rk" === 1)
        .select($"o_orderstatus", $"o_orderpriority".as("mode_priority"), $"n")
        .orderBy($"o_orderstatus")
    }, sql = Some("""
      SELECT o_orderstatus, mode_priority, n FROM (
        SELECT o_orderstatus, o_orderpriority AS mode_priority, COUNT(*) AS n,
               row_number() OVER (PARTITION BY o_orderstatus
                 ORDER BY COUNT(*) DESC, o_orderpriority ASC) AS rk
        FROM orders GROUP BY o_orderstatus, o_orderpriority) t
      WHERE rk = 1 ORDER BY o_orderstatus
    """)),

    // Robust statistics: median absolute deviation per group — the
    // outlier-resistant spread measure (stddev is dragged by the tails a
    // quality gate is trying to find). Two mergeable percentile_disc
    // passes with a broadcast join between them; both medians are ACTUAL
    // data values (no interpolation arithmetic), so the doubles are
    // bit-identical cross-engine.
    Q("g25_mad", (s, dir) => {
      import s.implicits._
      val o = t(s, dir, "orders").select($"o_orderstatus", $"o_totalprice")
      val med = o.groupBy($"o_orderstatus")
        .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice)").as("med"))
      o.join(broadcast(med), Seq("o_orderstatus"))
        .withColumn("dev", abs($"o_totalprice" - $"med"))
        .groupBy($"o_orderstatus")
        .agg(max($"med").as("med"),
          expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY dev)").as("mad"))
        .orderBy($"o_orderstatus")
    }, sql = Some("""
      WITH o AS (SELECT o_orderstatus AS st, o_totalprice AS x FROM orders),
      ord1 AS (
        SELECT st, x, row_number() OVER (PARTITION BY st ORDER BY x) AS rn,
               COUNT(*) OVER (PARTITION BY st) AS n
        FROM o),
      med AS (
        SELECT st, MAX(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT) THEN x END) AS m
        FROM ord1 GROUP BY st),
      dev AS (SELECT o.st, med.m, abs(o.x - med.m) AS d FROM o JOIN med USING (st)),
      ord2 AS (
        SELECT st, m, d, row_number() OVER (PARTITION BY st ORDER BY d) AS rn,
               COUNT(*) OVER (PARTITION BY st) AS n
        FROM dev)
      SELECT st AS o_orderstatus, MAX(m) AS med,
             MAX(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT) THEN d END) AS mad
      FROM ord2 GROUP BY st ORDER BY o_orderstatus
    """)),

    // Equi-width histogram of order values: global min/max in pass 1
    // (broadcast — 1 row), bucket assignment + count in pass 2. The
    // canonical two-pass distribution profile; at 100 TB both passes are
    // single scans with mergeable aggregates. Bucket arithmetic is
    // written with explicit parens so both engines run the identical
    // IEEE op sequence.
    Q("g23_histogram", (s, dir) => {
      import s.implicits._
      val o = t(s, dir, "orders")
      val mm = o.agg(min($"o_totalprice").as("mn"), max($"o_totalprice").as("mx"))
      // mx == mn (single-valued slice) would make the bucket 0.0/0.0 =
      // NaN — guard it to bucket 0 instead of relying on either engine's
      // NaN-cast behavior
      o.crossJoin(broadcast(mm))
        .withColumn("bucket", when($"mx" === $"mn", lit(0L)).otherwise(
          least(floor((($"o_totalprice" - $"mn") * 10) / ($"mx" - $"mn")), lit(9L))
            .cast("long")))
        .groupBy($"bucket").agg(count(lit(1)).as("n"))
        .orderBy($"bucket")
    }, sql = Some("""
      WITH mm AS (SELECT MIN(o_totalprice) AS mn, MAX(o_totalprice) AS mx FROM orders)
      SELECT CASE WHEN mx = mn THEN 0
                  ELSE LEAST(CAST(floor(((o_totalprice - mn) * 10) / (mx - mn)) AS BIGINT), 9)
             END AS bucket,
             COUNT(*) AS n
      FROM orders CROSS JOIN mm
      GROUP BY 1 ORDER BY bucket
    """)),

    // String aggregation with a pinned within-group order (collect_list
    // alone is partition-order-dependent — sorting the array first is
    // what makes it deterministic and cross-engine).
    Q("fn_string_agg", (s, dir) => {
      import s.implicits._
      t(s, dir, "orders")
        .filter($"o_orderkey" < 40)
        .groupBy($"o_orderstatus")
        .agg(concat_ws(",", sort_array(collect_list($"o_orderkey"))).as("keys_csv"),
          count(lit(1)).as("n"))
        .orderBy($"o_orderstatus")
    }, sql = Some("""
      SELECT o_orderstatus,
             string_agg(CAST(o_orderkey AS VARCHAR), ',' ORDER BY o_orderkey) AS keys_csv,
             COUNT(*) AS n
      FROM orders WHERE o_orderkey < 40
      GROUP BY o_orderstatus ORDER BY o_orderstatus
    """)),

    // G16: incremental aggregation (materialized-view maintenance): the
    // mart over rows before a cutoff is a STORED partial state (counts +
    // fixed-point hi/lo sum longs, the dsum decomposition); a delta batch
    // aggregates alone and merges by pure long addition — never
    // rescanning the base. Because the partial state is integer, the
    // merged result is bit-identical to a full recompute at ANY split
    // point or partitioning — which is exactly what the oracle checks
    // (the SQL below is the one-shot full aggregation, no split).
    // At 100 TB: the nightly delta touches only the new partition;
    // state size = |groups|, merge cost O(groups).
    Q("g16_incremental_agg", (s, dir) => {
      import s.implicits._
      val q = floor($"o_totalprice" * 100 + 0.5).cast("long")
      def state(df: org.apache.spark.sql.DataFrame) =
        df.select($"o_orderpriority", (q % 100L).as("lo"),
            (((q - q % 100L) / 100L).cast("long")).as("hi"))
          .groupBy($"o_orderpriority")
          .agg(count(lit(1)).as("cnt"), sum($"hi").as("shi"), sum($"lo").as("slo"))
      val base  = state(t(s, dir, "orders").filter($"o_orderdate" < "1997-01-01"))
      val delta = state(t(s, dir, "orders").filter($"o_orderdate" >= "1997-01-01"))
      base.unionByName(delta).groupBy($"o_orderpriority")
        .agg(sum($"cnt").as("n_orders"),
          ((sum($"shi").cast("double") * 100 + sum($"slo").cast("double")) / 100)
            .as("sum_price"))
        .orderBy($"o_orderpriority")
    }, sql = Some("""
      SELECT o_orderpriority, COUNT(*) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """))
  )

  /** The g7 mart reconstruction, shared by g7_mart_aggregate and
    * serve_statistic (one definition, Scala side — the SQL twin is
    * `martCte`). Unordered; callers add their own ORDER BY / compose. */
  private def reconstructedMart(s: org.apache.spark.sql.SparkSession,
                                dir: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val grid = t(s, dir, "lineitem").select(
        lpad(pmod($"l_partkey", lit(100)).cast("string"), 2, "0").as("number_value"),
        $"l_shipdate".cast("date").as("d"))
      .groupBy($"number_value", $"d")
      .agg(count(lit(1)).as("cnt"))
    // `when(cnt >= 1, d)` ≡ `d` (cnt is a count(*), always ≥ 1) but keeps
    // `cnt` referenced in this branch: otherwise column pruning drops the
    // count from totals' copy of the grid aggregate, the two exchange
    // subtrees stop being identical, and ReuseExchange can no longer
    // serve this branch from the per-number branch's shuffle — costing a
    // second full lineitem scan.
    val totals = grid.agg(
      countDistinct(when($"cnt" >= 1, $"d")).as("total_draws"),
      max(when($"cnt" >= 1, $"d")).as("global_last"))
    grid.groupBy($"number_value")
      .agg(sum($"cnt").as("occ"), max($"d").as("last_d"))
      .crossJoin(broadcast(totals))
      .select(
        $"number_value", $"occ".as("total_occurrences"), $"total_draws",
        ($"occ".cast("double") / $"total_draws").as("probability"),
        $"last_d".cast("string").as("last_appeared_date"),
        datediff($"global_last", $"last_d").cast("long").as("days_since_last"))
  }

  /** SQL twin of `reconstructedMart` as a WITH prefix ending in `mart`. */
  private val martCte = """WITH grid AS (
        SELECT lpad(CAST(l_partkey % 100 AS VARCHAR), 2, '0') AS number_value,
               CAST(l_shipdate AS DATE) AS d, COUNT(*) AS cnt
        FROM lineitem GROUP BY 1, 2),
      totals AS (
        SELECT COUNT(DISTINCT d) AS total_draws, MAX(d) AS global_last FROM grid),
      mart AS (
        SELECT number_value, CAST(SUM(cnt) AS BIGINT) AS total_occurrences,
               CAST(total_draws AS BIGINT) AS total_draws,
               CAST(SUM(cnt) AS DOUBLE) / total_draws AS probability,
               CAST(MAX(d) AS VARCHAR) AS last_appeared_date,
               date_diff('day', MAX(d), global_last) AS days_since_last
        FROM grid CROSS JOIN totals
        GROUP BY number_value, total_draws, global_last)"""
}
