package graft.sources

import graft.{Q, QModule}
import graft.Tables.t
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Idempotent-append helpers — the reference's "preload existing keys, skip
  * matches" pattern (A1 dim_date ETLMain.java:235-255, A2 dim_number
  * :291-327, A3 fact :348-356) as declarative anti-joins.
  *
  * Scale posture: `existing` is only the *key projection*, never the full
  * table, and it is broadcast, so the incoming stream never shuffles. The
  * callers' key sets are dimension-sized.
  */
object Upsert {

  /** Rows of `incoming` whose key is absent from `existing` (K3's
    * INSERT-IGNORE / guarded-insert semantics), intra-batch deduped first
    * (the reference's A3 quirk canonicalized, SURVEY §7.2). */
  def newRows(existing: DataFrame, incoming: DataFrame, keys: Seq[String]): DataFrame =
    incoming.dropDuplicates(keys)
      .join(broadcast(existing.select(keys.map(existing.col): _*)), keys, "left_anti")

  /** Append-only upsert: union of existing rows and genuinely-new incoming
    * rows — `load(load(t, b), b) == load(t, b)` (SURVEY §5.2 idempotence). */
  def appendNew(existing: DataFrame, incoming: DataFrame, keys: Seq[String]): DataFrame =
    existing.unionByName(newRows(existing, incoming, keys))

  /** SCD Type-2 merge — the versioned generalization of the reference's
    * K4 keyed UPDATE (ETLMain.java:291-327 overwrites in place and loses
    * history; a warehouse dim keeps every version with validity windows).
    *
    * `dim` carries `keys ++ attrs ++ (valid_from, valid_to, is_current)`;
    * `batch` carries `keys ++ attrs`. Per joined row:
    *   - key only in dim, or attrs unchanged  → current row passes through
    *   - attrs changed → current row closes (`valid_to = effDate`) AND a
    *     new current version opens at `effDate`
    *   - key only in batch → new current version opens at `effDate`
    * History rows (`is_current = false`) never join — they union through.
    *
    * Scale shape: ONE full-outer equi-join of the WHOLE dim against the
    * batch — the join predicate includes `is_current`, so history rows
    * simply never match and flow through unmatched (no separate
    * current/history split, one dim scan) — then a map-side explode of
    * 1-or-2 output structs per row. No window, no driver loop; applying
    * the same batch twice is a fixed point (spec'd). Dates travel as
    * strings so outputs hash identically across engines.
    *
    * CONTRACT: `batch` must be key-unique and its key columns non-null —
    * a duplicate batch key would close/reopen the same current row once
    * per duplicate. Dedupe upstream with an explicit precedence rule
    * (an arbitrary dropDuplicates here would be partition-order-
    * dependent, breaking replayability). */
  def scd2Merge(dim: DataFrame, batch: DataFrame, keys: Seq[String],
                attrs: Seq[String], effDate: String): DataFrame = {
    val meta = Seq("valid_from", "valid_to", "is_current")
    val bat  = batch.select((keys ++ attrs).map(c => col(c).as(s"b_$c")): _*)

    val inDim   = col(keys.head).isNotNull
    val inBatch = col(s"b_${keys.head}").isNotNull
    val changed = attrs.map(a => !(col(a) <=> col(s"b_$a"))).reduce(_ || _)

    def row(keyOf: String => Column, attrOf: String => Column,
            vf: Column, vt: Column, ic: Column): Column =
      struct(keys.map(k => keyOf(k).as(k)) ++ attrs.map(a => attrOf(a).as(a)) ++
        Seq(vf.as("valid_from"), vt.cast("string").as("valid_to"),
            ic.as("is_current")): _*)

    val dimRow    = row(col, col, col("valid_from"), col("valid_to"), col("is_current"))
    val closedRow = row(col, col, col("valid_from"), lit(effDate), lit(false))
    val freshRow  = row(k => col(s"b_$k"), a => col(s"b_$a"),
                        lit(effDate), lit(null), lit(true))

    dim
      .join(bat,
        keys.map(k => col(k) === col(s"b_$k")).reduce(_ && _) && col("is_current"),
        "full_outer")
      .select(explode(
        when(!inBatch, array(dimRow)) // history rows + current rows not in batch
          .when(!inDim, array(freshRow)) // new key (or key with no current version)
          .when(changed, array(closedRow, freshRow))
          .otherwise(array(dimRow))).as("r"))
      .select((keys ++ attrs ++ meta).map(c => col(s"r.$c")): _*)
  }

  /** Snapshot CHANGESET: diff two keyed snapshots into the I/U/D change
    * feed a downstream CDC consumer replays — the INVERSE of the
    * apply-changes view (`EventStream.cdcLatestTws` folds a change feed
    * into a snapshot; this produces the feed FROM two snapshots, the
    * nightly-export diff a warehouse publishes when the source system
    * can't emit CDC itself).
    *
    * Per key: absent→present = I, present→absent = D, both-but-different
    * = U (struct inequality over the non-key columns, null-safe);
    * unchanged rows are DROPPED — the changeset is the delta, its size
    * tracks churn, not table size. I/U rows carry the NEW values, D rows
    * the old. One full-outer equi-join = one shuffle per side — or ZERO
    * if both snapshots live in the bucketed layout on the key
    * ([[Bucketed]]); the round-trip law `apply(old, changeset) == new`
    * is spec-pinned (PropertySpec). */
  def changeset(oldSnap: DataFrame, newSnap: DataFrame, key: String): DataFrame = {
    require(oldSnap.columns.sameElements(newSnap.columns),
      s"changeset: snapshot schemas differ (${oldSnap.columns.mkString(",")} " +
        s"vs ${newSnap.columns.mkString(",")})")
    val dataCols = oldSnap.columns.filterNot(_ == key).toSeq
    val o = oldSnap.select(col(key).as("__ok"),
      struct(dataCols.map(col): _*).as("__ov"))
    val n = newSnap.select(col(key).as("__nk"),
      struct(dataCols.map(col): _*).as("__nv"))
    val out = Seq(coalesce(col("__ok"), col("__nk")).as(key), col("op")) ++
      dataCols.map(c => coalesce(col(s"__nv.$c"), col(s"__ov.$c")).as(c))
    o.join(n, col("__ok") === col("__nk"), "full_outer")
      .withColumn("op",
        when(col("__ok").isNull, lit("I"))
          .when(col("__nk").isNull, lit("D"))
          .when(!(col("__ov") <=> col("__nv")), lit("U")))
      .filter(col("op").isNotNull)
      .select(out: _*)
  }

  /** Replay a [[changeset]] onto the old snapshot: delete D keys, upsert
    * I/U rows. `apply(old, changeset(old, new)) == new` by construction;
    * PropertySpec pins it on real data. */
  def applyChangeset(oldSnap: DataFrame, changes: DataFrame, key: String): DataFrame = {
    val dataCols = oldSnap.columns.filterNot(_ == key).toSeq
    oldSnap.join(changes.select(col(key)), Seq(key), "left_anti")
      .unionByName(changes.filter(col("op") =!= "D")
        .select(col(key) +: dataCols.map(col): _*))
  }
}

object UpsertQueries extends QModule {
  import Upsert._

  def qs: Seq[Q] = Seq(
    // SCD2 merge demo on the customer dim: a deterministic batch moves the
    // segment of custkey%10∈{0,1,2}, re-sends {3,4} unchanged, and adds
    // brand-new keys — exercising close+reopen, pass-through, and insert
    // in one merge. Output is the full versioned dim, totally ordered.
    Q("k6_scd2_merge", (s, dir) => {
      import s.implicits._
      val dim = t(s, dir, "customer").select(
        $"c_custkey".cast("long").as("c_custkey"), $"c_mktsegment",
        lit("1990-01-01").as("valid_from"),
        lit(null).cast("string").as("valid_to"), lit(true).as("is_current"))
      val batch = t(s, dir, "customer").filter($"c_custkey" % 10 < 5)
        .select($"c_custkey".cast("long").as("c_custkey"),
          when($"c_custkey" % 10 < 3, concat(lit("MOVED-"), $"c_mktsegment"))
            .otherwise($"c_mktsegment").as("c_mktsegment"))
        .unionByName(t(s, dir, "customer").filter($"c_custkey" % 500 === 0)
          .select(($"c_custkey" + 1000000).cast("long").as("c_custkey"),
            lit("NEWSEG").as("c_mktsegment")))
      scd2Merge(dim, batch, Seq("c_custkey"), Seq("c_mktsegment"), "2000-01-01")
        .orderBy($"c_custkey", $"valid_from")
    }, sql = Some("""
      WITH dim AS (
        SELECT CAST(c_custkey AS BIGINT) AS c_custkey, c_mktsegment,
               '1990-01-01' AS valid_from, CAST(NULL AS VARCHAR) AS valid_to,
               TRUE AS is_current
        FROM customer),
      batch AS (
        SELECT CAST(c_custkey AS BIGINT) AS c_custkey,
               CASE WHEN c_custkey % 10 < 3 THEN 'MOVED-' || c_mktsegment
                    ELSE c_mktsegment END AS c_mktsegment
        FROM customer WHERE c_custkey % 10 < 5
        UNION ALL
        SELECT CAST(c_custkey + 1000000 AS BIGINT), 'NEWSEG'
        FROM customer WHERE c_custkey % 500 = 0),
      j AS (
        SELECT d.c_custkey, d.c_mktsegment, d.valid_from, d.valid_to,
               d.is_current, b.c_custkey AS bk, b.c_mktsegment AS bseg
        FROM dim d FULL OUTER JOIN batch b ON d.c_custkey = b.c_custkey)
      SELECT * FROM (
        SELECT c_custkey, c_mktsegment, valid_from, valid_to, is_current
        FROM j WHERE c_custkey IS NOT NULL
          AND (bk IS NULL OR c_mktsegment IS NOT DISTINCT FROM bseg)
        UNION ALL
        SELECT c_custkey, c_mktsegment, valid_from, '2000-01-01', FALSE
        FROM j WHERE c_custkey IS NOT NULL AND bk IS NOT NULL
          AND c_mktsegment IS DISTINCT FROM bseg
        UNION ALL
        SELECT bk, bseg, '2000-01-01', CAST(NULL AS VARCHAR), TRUE
        FROM j WHERE bk IS NOT NULL
          AND (c_custkey IS NULL OR c_mktsegment IS DISTINCT FROM bseg))
      ORDER BY c_custkey, valid_from
    """)),

    // K7: cascade-deletion impact report (the GDPR right-to-erasure
    // shape): given a deletion set of customers, how many rows would be
    // purged from each downstream table through key propagation? Pure
    // semi-join fan-out — customer keys → orders → lineitems — each hop
    // one equi-join, the deletion set broadcastable at any fact scale.
    // A real pipeline runs exactly this report before the destructive
    // pass; negative-balance customers stand in for erasure requests.
    Q("k7_cascade_delete", (s, dir) => {
      import s.implicits._
      val victims = t(s, dir, "customer")
        .filter($"c_acctbal" < 0).select($"c_custkey")
      val orders = t(s, dir, "orders")
        .join(broadcast(victims), $"o_custkey" === $"c_custkey", "left_semi")
      val doomedOrders = orders.select($"o_orderkey")
      val lineitems = t(s, dir, "lineitem")
        .join(doomedOrders, $"l_orderkey" === doomedOrders("o_orderkey"), "left_semi")
      victims.agg(count(lit(1)).as("n")).select(lit("customer").as("table_name"), $"n")
        .unionByName(orders.agg(count(lit(1)).as("n"))
          .select(lit("orders").as("table_name"), $"n"))
        .unionByName(lineitems.agg(count(lit(1)).as("n"))
          .select(lit("lineitem").as("table_name"), $"n"))
        .orderBy($"table_name")
    }, sql = Some("""
      WITH victims AS (SELECT c_custkey FROM customer WHERE c_acctbal < 0),
      o AS (SELECT o_orderkey FROM orders
            WHERE o_custkey IN (SELECT c_custkey FROM victims)),
      l AS (SELECT 1 FROM lineitem
            WHERE l_orderkey IN (SELECT o_orderkey FROM o))
      SELECT * FROM (
        SELECT 'customer' AS table_name, COUNT(*) AS n FROM victims
        UNION ALL SELECT 'orders', COUNT(*) FROM o
        UNION ALL SELECT 'lineitem', COUNT(*) FROM l)
      ORDER BY table_name
    """)),

    // K10: snapshot changeset — two latest-wins snapshots built from
    // OVERLAPPING windows (each side drops a different 20% of events for
    // U rows AND a different ~9% of users for I/D rows) diffed into the
    // I/U/D feed. Keys only in the old window → D, only in the new → I,
    // in both with a different latest → U, identical latest → dropped.
    // Inverse of e25 (changeset ∘ apply round-trip pinned in
    // PropertySpec); the latest-per-key subqueries are the same
    // struct-max single-shuffle shape as e25.
    Q("k10_changeset", (s, dir) => {
      import s.implicits._
      def snap(evResidue: Int, userResidue: Int): DataFrame =
        t(s, dir, "events")
          .filter($"event_id" % 5 =!= evResidue && $"user_id" % 11 =!= userResidue)
          .groupBy($"user_id")
          .agg(max(struct($"ts", $"event_id", $"value")).as("m"))
          .select($"user_id", $"m.ts".as("ts"),
            $"m.event_id".as("event_id"), $"m.value".as("value"))
      changeset(snap(4, 3), snap(0, 7), "user_id")
        .orderBy($"user_id")
    }, sql = Some("""
      WITH o AS (
        SELECT user_id, ts, event_id, value FROM (
          SELECT user_id, epoch_ns(ts) AS ts, event_id, value,
                 row_number() OVER (PARTITION BY user_id
                   ORDER BY ts DESC, event_id DESC) AS rn
          FROM events WHERE event_id % 5 <> 4 AND user_id % 11 <> 3) WHERE rn = 1),
      n AS (
        SELECT user_id, ts, event_id, value FROM (
          SELECT user_id, epoch_ns(ts) AS ts, event_id, value,
                 row_number() OVER (PARTITION BY user_id
                   ORDER BY ts DESC, event_id DESC) AS rn
          FROM events WHERE event_id % 5 <> 0 AND user_id % 11 <> 7) WHERE rn = 1)
      SELECT * FROM (
        SELECT coalesce(o.user_id, n.user_id) AS user_id,
               CASE WHEN o.user_id IS NULL THEN 'I'
                    WHEN n.user_id IS NULL THEN 'D'
                    WHEN o.ts <> n.ts OR o.event_id <> n.event_id
                         OR o.value <> n.value THEN 'U' END AS op,
               coalesce(n.ts, o.ts) AS ts,
               coalesce(n.event_id, o.event_id) AS event_id,
               coalesce(n.value, o.value) AS value
        FROM o FULL JOIN n ON o.user_id = n.user_id)
      WHERE op IS NOT NULL ORDER BY user_id
    """))
  )
}
