package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}
import java.util.Random

/** Randomized differential fuzzing against the DuckDB oracle (round-6
  * verdict item 2).
  *
  * The 174 fixed oracles are point coverage; this generator emits N seeded
  * random filter / join (inner, left, full outer, 3-table chain) / agg /
  * window / set-op / CASE-and-string-scalar compositions over the
  * testdata tables, building each query TWICE from the same random
  * decisions — once as a DataFrame plan (the engine idiom under test) and
  * once as ANSI SQL for DuckDB — and dumps them in exactly `Verify`'s
  * layout (result parquet per query + oracle_sql.json), so
  * `scripts/check.py` hash-compares both engines unchanged.
  *
  * Usage:
  *   sbt "runMain graft.Fuzz <sfDir> <outDir> [seed] [n]"
  *   python3 scripts/check.py <sfDir> <outDir>
  *
  * The committed corpus (`fuzz/corpus_seed42.json`) pins seed 42 / n 200:
  * FuzzSpec asserts the generator still reproduces it byte-for-byte, so
  * the reviewed corpus cannot drift silently under generator edits.
  *
  * Determinism rules (each keeps a random query hash-comparable across
  * engines, mirroring the fixed suite's conventions):
  *  - every query ends in ORDER BY all output columns ASC; ties are then
  *    only between fully identical rows, so LIMIT k is deterministic;
  *  - Spark sorts ASC nulls-first, so the SQL renders NULLS FIRST
  *    explicitly (DuckDB defaults to NULLS LAST);
  *  - no raw floating-point SUMs — double columns appear projected raw,
  *    under MIN/MAX (exact), or summed through the fixed suite's exact
  *    decimal-quantized dsum pattern (CAST(SUM(CAST(c AS DECIMAL(18,2)))
  *    AS DOUBLE), order-independent both sides); AVG is integer-only
  *    (exact integer sum, one rounding on the divide, identical in both
  *    engines);
  *  - integer SUMs are CAST(... AS BIGINT) in the SQL (DuckDB widens to
  *    HUGEINT, the r4/r5 driver-hash bug class) — windowed ones too;
  *  - double literals are eighth-fractions of the column range (exactly
  *    representable in binary and in DECIMAL(_,4), so both engines parse
  *    the same double);
  *  - string columns are all-ASCII in the testdata (probed), so binary
  *    vs collated ordering agree; `events.ts` participates as BIGINT
  *    nanos pinned to the microsecond grid on both sides (normalized
  *    reader + div-1000 truncation / epoch_us derived table — see the
  *    catalog entry and ref()); only `props` is held out.
  */
object Fuzz {

  // ---- column catalog ----------------------------------------------------

  sealed trait Kind
  case object IntK extends Kind // any <=64-bit integer (driver-hash family)
  case object DblK extends Kind
  case object StrK extends Kind
  case object TsK  extends Kind
  // Long-nanos timestamp (the normalized events.ts contract): the engine
  // side is a plain BIGINT; the SQL side reads through the `ref(...)`
  // derived table that applies epoch_ns, so both engines see identical
  // exact integers. Held out of group-key pools (near-unique — grouping
  // on it would emit corpus-sized unlimited results), in everywhere else.
  case object TsNsK extends Kind

  /** lits: categorical values (StrK); [lo,hi]: literal sampling range for
    * numeric kinds (sf0.01 ranges — they only steer selectivity). */
  final case class Col(name: String, kind: Kind, lits: Seq[String] = Nil,
                       lo: Double = 0, hi: Double = 0)

  /** uniq: the table's id-like columns — used only to keep them out of
    * the window partition-key pool. NOT assumed unique: the synthetic
    * lineitem has ~12k duplicate (l_orderkey, l_linenumber) pairs, which
    * seed 1002 caught diverging a running sum when the window order
    * leaned on them as a tie-break (fz1002_104, spark−oracle = one
    * partkey swap). Window order is therefore built from ALL columns. */
  final case class Tbl(name: String, uniq: Seq[String], cols: Seq[Col])

  private val tables: Seq[Tbl] = Seq(
    Tbl("lineitem", Seq("l_orderkey", "l_linenumber"), Seq(
      Col("l_orderkey", IntK, lo = 0, hi = 14999),
      Col("l_partkey", IntK, lo = 0, hi = 1999),
      Col("l_suppkey", IntK, lo = 0, hi = 99),
      Col("l_linenumber", IntK, lo = 1, hi = 7),
      Col("l_quantity", DblK, lo = 1, hi = 50),
      Col("l_extendedprice", DblK, lo = 901, hi = 104998),
      Col("l_returnflag", StrK, lits = Seq("A", "N", "R")),
      Col("l_linestatus", StrK, lits = Seq("F", "O")),
      Col("l_shipdate", TsK))),
    Tbl("orders", Seq("o_orderkey"), Seq(
      Col("o_orderkey", IntK, lo = 0, hi = 14999),
      Col("o_custkey", IntK, lo = 0, hi = 1499),
      Col("o_orderstatus", StrK, lits = Seq("F", "O", "P")),
      Col("o_totalprice", DblK, lo = 1013, hi = 499979),
      Col("o_orderdate", TsK),
      Col("o_orderpriority", StrK, lits = Seq(
        "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")))),
    Tbl("customer", Seq("c_custkey"), Seq(
      Col("c_custkey", IntK, lo = 0, hi = 1499),
      Col("c_nationkey", IntK, lo = 0, hi = 24),
      Col("c_acctbal", DblK, lo = -995, hi = 9998),
      Col("c_mktsegment", StrK, lits = Seq(
        "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")))),
    Tbl("supplier", Seq("s_suppkey"), Seq(
      Col("s_suppkey", IntK, lo = 0, hi = 99),
      Col("s_nationkey", IntK, lo = 0, hi = 24),
      Col("s_acctbal", DblK, lo = -822, hi = 9957))),
    Tbl("part", Seq("p_partkey"), Seq(
      Col("p_partkey", IntK, lo = 0, hi = 1999),
      Col("p_size", IntK, lo = 1, hi = 50),
      Col("p_retailprice", DblK, lo = 900, hi = 1000),
      Col("p_brand", StrK, lits = (1 to 25).map(i => s"Brand#$i")),
      Col("p_type", StrK, lits = Seq(
        "ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")))),
    Tbl("nation", Seq("n_nationkey"), Seq(
      Col("n_nationkey", IntK, lo = 0, hi = 24),
      Col("n_regionkey", IntK, lo = 0, hi = 4),
      Col("n_name", StrK, lits = (0 to 24).map(i => s"NATION_$i")))),
    Tbl("region", Seq("r_regionkey"), Seq(
      Col("r_regionkey", IntK, lo = 0, hi = 4),
      Col("r_name", StrK, lits = Seq(
        "AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")))),
    Tbl("documents", Seq("doc_id"), Seq(
      Col("doc_id", IntK, lo = 0, hi = 499),
      Col("n_chars", IntK, lo = 48, hi = 553),
      Col("lang", StrK, lits = Seq("de", "en", "es", "fr", "zh")),
      Col("source", StrK, lits = (0 to 19).map(i => s"src$i")))),
    // events: one column held out — `props` (free-form JSON strings, not
    // a categorical the StrK atom generator can enumerate). `ts` joined
    // the surface in r8: Tables.normalizeEventTs gives Spark long nanos
    // for every physical encoding, and BOTH engines then pin ts to the
    // microsecond grid (read()'s div-1000 truncation / ref()'s epoch_us
    // rendering), so the compared BIGINTs are identical for every file
    // encoding and DuckDB version. lo/hi are epoch SECONDS (the literal
    // sampler scales to nanos — a nanos range would overflow the Int
    // sampling arithmetic).
    Tbl("events", Seq("event_id"), Seq(
      Col("event_id", IntK, lo = 0, hi = 9999),
      Col("ts", TsNsK, lo = 1704067200, hi = 1706659200),
      Col("user_id", IntK, lo = 0, hi = 149),
      Col("event_type", StrK,
          lits = Seq("click", "error", "purchase", "signup", "view")),
      Col("value", DblK, lo = 0.01, hi = 490.02))))

  /** (fact, mid, dim, factKey, midKeyIn, midKeyOut, dimKey) 3-table
    * chains: fact JOIN mid ON factKey = midKeyIn JOIN dim ON midKeyOut =
    * dimKey. All inner — the chain shape itself (two shuffles or
    * broadcast picks, key propagation through the middle table) is what
    * the template exercises. */
  private val chains: Seq[(String, String, String, String, String, String, String)] = Seq(
    ("lineitem", "orders", "customer",
     "l_orderkey", "o_orderkey", "o_custkey", "c_custkey"),
    ("lineitem", "supplier", "nation",
     "l_suppkey", "s_suppkey", "s_nationkey", "n_nationkey"),
    ("orders", "customer", "nation",
     "o_custkey", "c_custkey", "c_nationkey", "n_nationkey"),
    ("customer", "nation", "region",
     "c_nationkey", "n_nationkey", "n_regionkey", "r_regionkey"),
    ("supplier", "nation", "region",
     "s_nationkey", "n_nationkey", "n_regionkey", "r_regionkey"))

  /** (left table, right table, left key, right key) equi-join pairs. */
  private val joins: Seq[(String, String, String, String)] = Seq(
    ("orders", "customer", "o_custkey", "c_custkey"),
    ("lineitem", "orders", "l_orderkey", "o_orderkey"),
    ("lineitem", "part", "l_partkey", "p_partkey"),
    ("lineitem", "supplier", "l_suppkey", "s_suppkey"),
    ("customer", "nation", "c_nationkey", "n_nationkey"),
    ("supplier", "nation", "s_nationkey", "n_nationkey"),
    ("nation", "region", "n_regionkey", "r_regionkey"))

  private def tbl(n: String): Tbl = tables.find(_.name == n).get

  /** SQL-side table reference. `events` reads through a derived table that
    * renders ts as BIGINT nanos ON THE MICROSECOND GRID (epoch_us × 1000),
    * aliased back to the table name so qualified references still resolve;
    * every other table is its plain name. The micro grid — mirrored on the
    * Spark side in read() — is what makes ts cross-engine exact for EVERY
    * file encoding and DuckDB version: timestamp[us] files are already on
    * the grid (truncation is identity), and on legacy TIMESTAMP(NANOS)
    * files Spark would otherwise project exact nanos while DuckDB 1.0
    * truncates its read to micros (measured: epoch_ns returns
    * ...456000 for a ...456789 nanos value). Explicit truncation on both
    * sides replaces that accidental agreement with a pinned contract. */
  private def ref(n: String): String =
    if (n == "events")
      "(SELECT * REPLACE (epoch_us(ts) * 1000 AS ts) FROM events) AS events"
    else n

  // ---- paired fragments ----------------------------------------------------
  // Every random decision is materialized eagerly into BOTH renderings;
  // the DataFrame thunk captures only immutable locals (never the RNG).

  /** A boolean predicate rendered for both engines. */
  private final case class Pred(c: Column, sql: String)

  /** A generated query: DataFrame thunk + the DuckDB oracle SQL.
    * `template` names the generator class, so FuzzSpec can prove every
    * template's Spark plan actually executes. */
  final case class FuzzQuery(name: String,
                             df: (SparkSession, String) => DataFrame,
                             sql: String,
                             template: String)

  private def pick[A](r: Random, xs: Seq[A]): A = xs(r.nextInt(xs.size))

  /** Exactly-representable double literal: lo + (hi-lo) * k/8. */
  private def dblLit(r: Random, c: Col): (Double, String) = {
    val v = c.lo + (c.hi - c.lo) * (1 + r.nextInt(7)) / 8.0
    (v, Fmt.num(v, 4))
  }

  private def tsLit(r: Random): String = {
    val y = 1995 + r.nextInt(7)
    val m = 1 + r.nextInt(12)
    val d = 1 + r.nextInt(28)
    f"$y-$m%02d-$d%02d"
  }

  /** One comparison on a random column of `t`. */
  private def atom(r: Random, t: Tbl): Pred = {
    val c = pick(r, t.cols)
    c.kind match {
      case IntK =>
        r.nextInt(3) match {
          case 0 =>
            val v = c.lo.toLong + r.nextInt((c.hi - c.lo).toInt + 1)
            val op = pick(r, Seq("<", "<=", ">", ">=", "="))
            val cc = op match {
              case "<"  => col(c.name) < v
              case "<=" => col(c.name) <= v
              case ">"  => col(c.name) > v
              case ">=" => col(c.name) >= v
              case _    => col(c.name) === v
            }
            Pred(cc, s"${c.name} $op $v")
          case 1 =>
            val a = c.lo.toLong + r.nextInt((c.hi - c.lo).toInt + 1)
            val b = a + r.nextInt(math.max(1, ((c.hi - a) / 2).toInt + 1))
            Pred(col(c.name).between(a, b), s"${c.name} BETWEEN $a AND $b")
          case _ =>
            val n = 2 + r.nextInt(4)
            val vs = Seq.fill(n)(
              c.lo.toLong + r.nextInt((c.hi - c.lo).toInt + 1)).distinct
            Pred(col(c.name).isin(vs: _*),
                 s"${c.name} IN (${vs.mkString(", ")})")
        }
      case DblK =>
        val (v, s) = dblLit(r, c)
        val op = pick(r, Seq("<", "<=", ">", ">="))
        val cc = op match {
          case "<"  => col(c.name) < v
          case "<=" => col(c.name) <= v
          case ">"  => col(c.name) > v
          case _    => col(c.name) >= v
        }
        Pred(cc, s"${c.name} $op CAST($s AS DOUBLE)")
      case StrK =>
        r.nextInt(3) match {
          case 0 =>
            val v = pick(r, c.lits)
            Pred(col(c.name) === v, s"${c.name} = '$v'")
          case 1 =>
            val v = pick(r, c.lits)
            Pred(col(c.name) =!= v, s"${c.name} <> '$v'")
          case _ =>
            val n = 2 + r.nextInt(math.min(4, c.lits.size))
            val vs = Seq.fill(n)(pick(r, c.lits)).distinct
            Pred(col(c.name).isin(vs: _*),
                 s"${c.name} IN (${vs.map(v => s"'$v'").mkString(", ")})")
        }
      case TsK =>
        val v = tsLit(r)
        val op = pick(r, Seq(">=", "<"))
        val cc = if (op == ">=") col(c.name) >= lit(v).cast("timestamp")
                 else col(c.name) < lit(v).cast("timestamp")
        Pred(cc, s"${c.name} $op TIMESTAMP '$v'")
      case TsNsK =>
        // sample epoch seconds in the data range, compare in exact nanos
        val sec = c.lo.toLong + r.nextInt((c.hi - c.lo).toInt + 1)
        val ns = sec * 1000000000L
        val op = pick(r, Seq(">=", "<"))
        val cc = if (op == ">=") col(c.name) >= ns else col(c.name) < ns
        Pred(cc, s"${c.name} $op $ns")
    }
  }

  /** 1-3 atoms folded with AND/OR, parenthesized identically both sides. */
  private def preds(r: Random, t: Tbl): Pred = {
    val n = 1 + r.nextInt(3)
    (1 until n).foldLeft(atom(r, t)) { (acc, _) =>
      val p = atom(r, t)
      if (r.nextBoolean())
        Pred(acc.c && p.c, s"(${acc.sql}) AND (${p.sql})")
      else
        Pred(acc.c || p.c, s"(${acc.sql}) OR (${p.sql})")
    }
  }

  /** Render the canonical tail: ORDER BY every output column ASC NULLS
    * FIRST (Spark's asc default) — ties are then only between identical
    * rows, making any LIMIT deterministic. */
  private def orderSql(cols: Seq[String]): String =
    "ORDER BY " + cols.map(c => s"$c ASC NULLS FIRST").mkString(", ")

  private def orderCols(cols: Seq[String]): Seq[Column] = cols.map(col(_).asc)

  /** Distinct non-empty random subset preserving catalog order. */
  private def subset(r: Random, xs: Seq[String], max: Int): Seq[String] = {
    val n = 1 + r.nextInt(math.min(max, xs.size))
    r.ints(0, xs.size).distinct().limit(n).toArray.sorted.map(xs(_)).toSeq
  }

  // ---- aggregate menu ------------------------------------------------------

  /** One aggregate rendered for both engines (alias included). */
  private final case class Agg(c: Column, sql: String, name: String)

  private def aggs(r: Random, t: Tbl, exclude: Set[String]): Seq[Agg] = {
    val numInt = t.cols.filter(c => c.kind == IntK && !exclude(c.name))
    val numDbl = t.cols.filter(c => c.kind == DblK && !exclude(c.name))
    val any    = t.cols.filterNot(c => exclude(c.name))
    val picked = scala.collection.mutable.LinkedHashMap[String, Agg]()
    picked("cnt") = Agg(count(lit(1)).as("cnt"), "COUNT(*) AS cnt", "cnt")
    val extra = r.nextInt(3)
    (0 until extra).foreach { _ =>
      r.nextInt(5) match {
        case 0 if numInt.nonEmpty =>
          val c = pick(r, numInt)
          picked.getOrElseUpdate(s"sum_${c.name}", Agg(
            sum(col(c.name)).cast("long").as(s"sum_${c.name}"),
            s"CAST(SUM(${c.name}) AS BIGINT) AS sum_${c.name}",
            s"sum_${c.name}"))
        case 1 if any.nonEmpty =>
          val c = pick(r, any)
          val (f, fn) = if (r.nextBoolean()) (min(col(c.name)), "MIN")
                        else (max(col(c.name)), "MAX")
          val a = s"${fn.toLowerCase}_${c.name}"
          picked.getOrElseUpdate(a, Agg(f.as(a), s"$fn(${c.name}) AS $a", a))
        case 2 if numInt.nonEmpty =>
          val c = pick(r, numInt)
          picked.getOrElseUpdate(s"avg_${c.name}", Agg(
            avg(col(c.name)).as(s"avg_${c.name}"),
            s"AVG(${c.name}) AS avg_${c.name}", s"avg_${c.name}"))
        case 3 if numDbl.nonEmpty =>
          // float SUM through the fixed suite's exact decimal-quantized
          // pattern (Tables.dsum): order-independent on the Spark side,
          // one identical final rounding on both — hash-exact where a
          // raw double SUM would drift in the last bits
          val c = pick(r, numDbl)
          picked.getOrElseUpdate(s"dsum_${c.name}", Agg(
            Tables.dsum(col(c.name), 2).as(s"dsum_${c.name}"),
            s"CAST(SUM(CAST(${c.name} AS DECIMAL(18,2))) AS DOUBLE) " +
              s"AS dsum_${c.name}",
            s"dsum_${c.name}"))
        case _ if any.nonEmpty =>
          val c = pick(r, any)
          picked.getOrElseUpdate(s"nd_${c.name}", Agg(
            countDistinct(col(c.name)).as(s"nd_${c.name}"),
            s"COUNT(DISTINCT ${c.name}) AS nd_${c.name}", s"nd_${c.name}"))
        case _ => ()
      }
    }
    picked.values.toSeq
  }

  // ---- templates -----------------------------------------------------------

  private def read(s: SparkSession, dir: String, t: String): DataFrame = {
    val df = Tables.t(s, dir, t)
    // events.ts pinned to the microsecond grid for the differential —
    // identity on timestamp[us] data, and exact parity with ref()'s
    // epoch_us rendering on legacy nanos files (see ref's scaladoc)
    if (t == "events") df.withColumn("ts", expr("ts div 1000 * 1000")) else df
  }

  /** T0: filtered projection scan (optionally + one computed int column). */
  private def genScan(r: Random, name: String): FuzzQuery = {
    val t = pick(r, tables)
    val p = preds(r, t)
    val cols0 = subset(r, t.cols.map(_.name), 4)
    val compute = r.nextBoolean()
    val intCols = t.cols.filter(_.kind == IntK).map(_.name)
    val (outCols, sqlSel, sparkSel) =
      if (compute && intCols.nonEmpty) {
        val c = pick(r, intCols)
        val k = 2 + r.nextInt(12)
        val (sqlE, sparkE) =
          if (r.nextBoolean()) (s"$c % $k AS m", (col(c) % k).as("m"))
          else (s"$c + $k AS m", (col(c) + k).as("m"))
        (cols0 :+ "m", (cols0 :+ sqlE).mkString(", "),
         cols0.map(col) :+ sparkE)
      } else (cols0, cols0.mkString(", "), cols0.map(col))
    val sql = s"SELECT $sqlSel FROM ${ref(t.name)} WHERE ${p.sql} " +
      s"${orderSql(outCols)} LIMIT 500"
    FuzzQuery(name, (s, dir) =>
      read(s, dir, t.name).filter(p.c).select(sparkSel: _*)
        .orderBy(orderCols(outCols): _*).limit(500), sql, "scan")
  }

  /** T1: two-table equi-join (inner or left), projected scan. */
  private def genJoin(r: Random, name: String): FuzzQuery = {
    val (ln, rn, lk, rk) = pick(r, joins)
    val (lt, rt) = (tbl(ln), tbl(rn))
    val lp = preds(r, lt)
    val rp = preds(r, rt)
    val lcols = subset(r, lt.cols.map(_.name), 3)
    val rcols = subset(r, rt.cols.map(_.name), 2)
    val out = lcols ++ rcols
    val left = r.nextBoolean()
    val sql =
      if (left)
        // right-side predicate belongs in the ON clause for a left join
        s"SELECT ${out.mkString(", ")} FROM ${ref(ln)} LEFT JOIN ${ref(rn)} " +
          s"ON $lk = $rk AND (${rp.sql}) WHERE ${lp.sql} " +
          s"${orderSql(out)} LIMIT 500"
      else
        s"SELECT ${out.mkString(", ")} FROM ${ref(ln)} JOIN ${ref(rn)} ON $lk = $rk " +
          s"WHERE (${lp.sql}) AND (${rp.sql}) ${orderSql(out)} LIMIT 500"
    FuzzQuery(name, (s, dir) => {
      val l = read(s, dir, ln).filter(lp.c)
      val rght = read(s, dir, rn)
      val joined =
        if (left) l.join(rght, col(lk) === col(rk) && rp.c, "left")
        else l.join(rght.filter(rp.c), col(lk) === col(rk))
      joined.select(out.map(col): _*)
        .orderBy(orderCols(out): _*).limit(500)
    }, sql, "join")
  }

  /** T2/T3: group-by aggregate over a table or an inner join. */
  private def genAgg(r: Random, name: String, joined: Boolean): FuzzQuery = {
    if (!joined) {
      val t = pick(r, tables)
      val p = preds(r, t)
      val keyPool = t.cols.filter(c => c.kind != DblK && c.kind != TsNsK).map(_.name)
      val keys = subset(r, keyPool, 2)
      val as = aggs(r, t, keys.toSet)
      val out = keys ++ as.map(_.name)
      val having = r.nextInt(3) == 0
      val hk = 1 + r.nextInt(4)
      val hsql = if (having) s"HAVING COUNT(*) >= $hk " else ""
      val sql = s"SELECT ${(keys ++ as.map(_.sql)).mkString(", ")} " +
        s"FROM ${ref(t.name)} WHERE ${p.sql} GROUP BY ${keys.mkString(", ")} " +
        hsql + orderSql(out)
      FuzzQuery(name, (s, dir) => {
        val base = read(s, dir, t.name).filter(p.c)
          .groupBy(keys.map(col): _*)
          .agg(as.head.c, as.tail.map(_.c): _*)
        val gated = if (having) base.filter(col("cnt") >= hk) else base
        gated.select(out.map(col): _*).orderBy(orderCols(out): _*)
      }, sql, "agg")
    } else {
      val (ln, rn, lk, rk) = pick(r, joins)
      val (lt, rt) = (tbl(ln), tbl(rn))
      val lp = preds(r, lt)
      // group on right-side (dim) keys, aggregate left-side (fact) columns
      val keyPool = rt.cols.filter(c => c.kind != DblK && c.kind != TsNsK).map(_.name)
      val keys = subset(r, keyPool, 2)
      val as = aggs(r, lt, Set(lk))
      val out = keys ++ as.map(_.name)
      val sql = s"SELECT ${(keys ++ as.map(_.sql)).mkString(", ")} " +
        s"FROM ${ref(ln)} JOIN ${ref(rn)} ON $lk = $rk WHERE ${lp.sql} " +
        s"GROUP BY ${keys.mkString(", ")} " + orderSql(out)
      FuzzQuery(name, (s, dir) => {
        read(s, dir, ln).filter(lp.c)
          .join(read(s, dir, rn), col(lk) === col(rk))
          .groupBy(keys.map(col): _*)
          .agg(as.head.c, as.tail.map(_.c): _*)
          .select(out.map(col): _*).orderBy(orderCols(out): _*)
      }, sql, "join_agg")
    }
  }

  /** T4: windowed computation in a subquery. Deterministic order WITHOUT
    * assuming any unique key: the window sorts by the chosen column then
    * ALL remaining table columns, so ties are fully-identical rows —
    * interchangeable under every emitted function (sum/lag read equal
    * values, rank ties share a rank, row_number permutes identical rows
    * into the same output multiset). Ordering by an id-pair instead
    * proved wrong: lineitem's (l_orderkey, l_linenumber) is NOT unique
    * in the testdata and seed 1002 caught the running sum diverging. */
  private def genWindow(r: Random, name: String): FuzzQuery = {
    val t = pick(r, tables)
    val p = preds(r, t)
    val pkPool = t.cols.filter(c => c.kind == StrK ||
      (c.kind == IntK && !t.uniq.contains(c.name))).map(_.name)
    val pk = if (pkPool.nonEmpty) pick(r, pkPool) else t.cols.head.name
    val oc = pick(r, t.cols.map(_.name).filterNot(n => n == pk))
    val ord = Seq(oc) ++ t.cols.map(_.name).filterNot(n => n == oc || n == pk)
    val ordSql = ord.map(c => s"$c ASC NULLS FIRST").mkString(", ")
    val w = Window.partitionBy(col(pk)).orderBy(ord.map(col(_).asc): _*)
    val intCols = t.cols.filter(c => c.kind == IntK).map(_.name)
    val over = s"OVER (PARTITION BY $pk ORDER BY $ordSql)"
    val (wc, wsqlFull, rankLike) = r.nextInt(7) match {
      case 0 => (row_number().over(w), s"ROW_NUMBER() $over", true)
      case 1 => (rank().over(w), s"RANK() $over", true)
      case 2 if intCols.nonEmpty =>
        val c = pick(r, intCols)
        // the OVER binds to LAG, inside the widening cast
        (lag(col(c), 1).over(w).cast("long"),
         s"CAST(LAG($c, 1) $over AS BIGINT)", false)
      case 3 if intCols.nonEmpty =>
        val c = pick(r, intCols)
        // running sum: DuckDB widens windowed SUM to HUGEINT — cast back
        (sum(col(c)).over(w.rowsBetween(Window.unboundedPreceding,
                                        Window.currentRow)).cast("long"),
         s"CAST(SUM($c) OVER (PARTITION BY $pk ORDER BY $ordSql " +
           "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)",
         false)
      case 4 => (dense_rank().over(w), s"DENSE_RANK() $over", true)
      case 5 if intCols.nonEmpty =>
        val c = pick(r, intCols)
        (lead(col(c), 1).over(w).cast("long"),
         s"CAST(LEAD($c, 1) $over AS BIGINT)", false)
      case 6 if intCols.nonEmpty =>
        // bounded sliding frame — the moving-aggregate shape the
        // unbounded running sum can't exercise
        val c = pick(r, intCols)
        val k = 1 + r.nextInt(3)
        (sum(col(c)).over(w.rowsBetween(-k, Window.currentRow)).cast("long"),
         s"CAST(SUM($c) OVER (PARTITION BY $pk ORDER BY $ordSql " +
           s"ROWS BETWEEN $k PRECEDING AND CURRENT ROW) AS BIGINT)",
         false)
      case _ => (row_number().over(w), s"ROW_NUMBER() $over", true)
    }
    val out = (Seq(pk) ++ ord).distinct :+ "w"
    val topk = rankLike && r.nextBoolean()
    val kk = 1 + r.nextInt(4)
    val inner = s"SELECT ${(out.dropRight(1) :+ (wsqlFull + " AS w"))
      .mkString(", ")} FROM ${ref(t.name)} WHERE ${p.sql}"
    val sql =
      if (topk) s"SELECT ${out.mkString(", ")} FROM ($inner) sub " +
        s"WHERE w <= $kk ${orderSql(out)}"
      else s"SELECT ${out.mkString(", ")} FROM ($inner) sub ${orderSql(out)}"
    FuzzQuery(name, (s, dir) => {
      val base = read(s, dir, t.name).filter(p.c)
        .select((out.dropRight(1).map(col) :+ wc.as("w")): _*)
      val gated = if (topk) base.filter(col("w") <= kk) else base
      gated.orderBy(orderCols(out): _*)
    }, sql, "window")
  }

  /** T5: set operation between two filtered projections of one table. */
  private def genSetOp(r: Random, name: String): FuzzQuery = {
    val t = pick(r, tables)
    val p1 = preds(r, t)
    val p2 = preds(r, t)
    val cols0 = subset(r, t.cols.map(_.name), 3)
    val (opSql, opDf): (String, (DataFrame, DataFrame) => DataFrame) =
      r.nextInt(3) match {
        case 0 => ("UNION ALL", (a, b) => a.union(b))
        case 1 => ("INTERSECT", (a, b) => a.intersect(b))
        case _ => ("EXCEPT", (a, b) => a.except(b))
      }
    val sel = cols0.mkString(", ")
    val sql = s"SELECT * FROM (SELECT $sel FROM ${ref(t.name)} WHERE ${p1.sql} " +
      s"$opSql SELECT $sel FROM ${ref(t.name)} WHERE ${p2.sql}) u " +
      s"${orderSql(cols0)} LIMIT 500"
    FuzzQuery(name, (s, dir) => {
      val base = read(s, dir, t.name)
      val a = base.filter(p1.c).select(cols0.map(col): _*)
      val b = base.filter(p2.c).select(cols0.map(col): _*)
      opDf(a, b).orderBy(orderCols(cols0): _*).limit(500)
    }, sql, "setop")
  }

  /** T6: DISTINCT projection. */
  private def genDistinct(r: Random, name: String): FuzzQuery = {
    val t = pick(r, tables)
    val p = preds(r, t)
    val cols0 = subset(r, t.cols.filter(_.kind != DblK).map(_.name), 3)
    val sql = s"SELECT DISTINCT ${cols0.mkString(", ")} FROM ${ref(t.name)} " +
      s"WHERE ${p.sql} ${orderSql(cols0)} LIMIT 500"
    FuzzQuery(name, (s, dir) =>
      read(s, dir, t.name).filter(p.c).select(cols0.map(col): _*)
        .distinct().orderBy(orderCols(cols0): _*).limit(500), sql, "distinct")
  }

  /** T7: semi/anti join via EXISTS / NOT EXISTS. */
  private def genSemiAnti(r: Random, name: String): FuzzQuery = {
    val (ln, rn, lk, rk) = pick(r, joins)
    val (lt, rt) = (tbl(ln), tbl(rn))
    val lp = preds(r, lt)
    val rp = preds(r, rt)
    val cols0 = subset(r, lt.cols.map(_.name), 3)
    val anti = r.nextBoolean()
    val ex = if (anti) "NOT EXISTS" else "EXISTS"
    val sql = s"SELECT ${cols0.mkString(", ")} FROM ${ref(ln)} " +
      s"WHERE (${lp.sql}) AND $ex (SELECT 1 FROM ${ref(rn)} " +
      s"WHERE $rk = $ln.$lk AND (${rp.sql})) ${orderSql(cols0)} LIMIT 500"
    FuzzQuery(name, (s, dir) => {
      val l = read(s, dir, ln).filter(lp.c)
      val rf = read(s, dir, rn).filter(rp.c)
      l.join(rf, col(lk) === col(rk), if (anti) "leftanti" else "leftsemi")
        .select(cols0.map(col): _*)
        .orderBy(orderCols(cols0): _*).limit(500)
    }, sql, "semi_anti")
  }

  /** T8: FULL OUTER equi-join — both predicates live in the ON clause
    * (standard full-outer form; a WHERE would silently turn it inner),
    * so the result carries null-extended rows from BOTH sides. The
    * NULLS FIRST ordering convention is what makes those rows
    * hash-comparable — this template is the one that would catch either
    * engine drifting on null-extension or null ordering. */
  private def genFullJoin(r: Random, name: String): FuzzQuery = {
    val (ln, rn, lk, rk) = pick(r, joins)
    val (lt, rt) = (tbl(ln), tbl(rn))
    val lp = preds(r, lt)
    val rp = preds(r, rt)
    val lcols = subset(r, lt.cols.map(_.name), 3)
    val rcols = subset(r, rt.cols.map(_.name), 2)
    val out = lcols ++ rcols
    val sql = s"SELECT ${out.mkString(", ")} FROM ${ref(ln)} FULL JOIN ${ref(rn)} " +
      s"ON $lk = $rk AND (${lp.sql}) AND (${rp.sql}) " +
      s"${orderSql(out)} LIMIT 500"
    FuzzQuery(name, (s, dir) => {
      read(s, dir, ln)
        .join(read(s, dir, rn), col(lk) === col(rk) && lp.c && rp.c, "full")
        .select(out.map(col): _*)
        .orderBy(orderCols(out): _*).limit(500)
    }, sql, "full_join")
  }

  /** T9: three-table inner-join chain (fact -> mid -> dim), filtered on
    * the fact side; coin flip between a projected scan across all three
    * tables and a grouped aggregate keyed on dim columns. Exercises key
    * propagation through the middle table — a shape no 2-table template
    * reaches. */
  private def genJoin3(r: Random, name: String): FuzzQuery = {
    val (fn, mn, dn, fk, mkIn, mkOut, dk) = pick(r, chains)
    val (ft, dt) = (tbl(fn), tbl(dn))
    val fp = preds(r, ft)
    val joinSql = s"FROM ${ref(fn)} JOIN ${ref(mn)} ON $fk = $mkIn " +
      s"JOIN ${ref(dn)} ON $mkOut = $dk WHERE ${fp.sql}"
    def joinDf(s: SparkSession, dir: String): DataFrame =
      read(s, dir, fn).filter(fp.c)
        .join(read(s, dir, mn), col(fk) === col(mkIn))
        .join(read(s, dir, dn), col(mkOut) === col(dk))
    if (r.nextBoolean()) {
      val fcols = subset(r, ft.cols.map(_.name), 2)
      val dcols = subset(r, dt.cols.map(_.name), 2)
      val out = fcols ++ dcols
      val sql = s"SELECT ${out.mkString(", ")} $joinSql " +
        s"${orderSql(out)} LIMIT 500"
      FuzzQuery(name, (s, dir) => joinDf(s, dir).select(out.map(col): _*)
        .orderBy(orderCols(out): _*).limit(500), sql, "join3")
    } else {
      val keyPool = dt.cols.filter(c => c.kind != DblK && c.kind != TsNsK).map(_.name)
      val keys = subset(r, keyPool, 2)
      val as = aggs(r, ft, Set(fk))
      val out = keys ++ as.map(_.name)
      val sql = s"SELECT ${(keys ++ as.map(_.sql)).mkString(", ")} " +
        s"$joinSql GROUP BY ${keys.mkString(", ")} " + orderSql(out)
      FuzzQuery(name, (s, dir) => joinDf(s, dir)
        .groupBy(keys.map(col): _*)
        .agg(as.head.c, as.tail.map(_.c): _*)
        .select(out.map(col): _*).orderBy(orderCols(out): _*), sql, "join3")
    }
  }

  /** T10: CASE WHEN + string scalar functions. The CASE arms reuse the
    * predicate generator (first-match-wins evaluation order is part of
    * what's under test); the string column goes through one of
    * UPPER / LOWER / SUBSTR / LENGTH (ASCII-only testdata, so char
    * semantics agree across engines). Coin flip between the projected
    * form and a GROUP BY over the computed tag — the latter checks the
    * engines agree on the tag BEFORE hashing collapses row identity. */
  private def genCaseStr(r: Random, name: String): FuzzQuery = {
    val pool = tables.filter(_.cols.exists(_.kind == StrK))
    val t = pick(r, pool)
    val p = preds(r, t)
    val a1 = atom(r, t)
    val a2 = atom(r, t)
    val tagC = when(a1.c, "hi").when(a2.c, "mid").otherwise("lo").as("tag")
    val tagSql = s"CASE WHEN ${a1.sql} THEN 'hi' WHEN ${a2.sql} " +
      "THEN 'mid' ELSE 'lo' END AS tag"
    val sc = pick(r, t.cols.filter(_.kind == StrK)).name
    val (fnC, fnSql) = r.nextInt(4) match {
      case 0 => (upper(col(sc)).as("sfn"), s"UPPER($sc) AS sfn")
      case 1 => (lower(col(sc)).as("sfn"), s"LOWER($sc) AS sfn")
      case 2 =>
        val k = 1 + r.nextInt(5)
        (substring(col(sc), 1, k).as("sfn"), s"SUBSTR($sc, 1, $k) AS sfn")
      case _ => (length(col(sc)).cast("int").as("sfn"),
                 s"CAST(LENGTH($sc) AS INTEGER) AS sfn")
    }
    if (r.nextBoolean()) {
      val cols0 = subset(r, t.cols.filter(_.kind != DblK).map(_.name), 2)
      val out = cols0 ++ Seq("tag", "sfn")
      val sql = s"SELECT ${(cols0 :+ tagSql :+ fnSql).mkString(", ")} " +
        s"FROM ${ref(t.name)} WHERE ${p.sql} ${orderSql(out)} LIMIT 500"
      FuzzQuery(name, (s, dir) =>
        read(s, dir, t.name).filter(p.c)
          .select((cols0.map(col) :+ tagC :+ fnC): _*)
          .orderBy(orderCols(out): _*).limit(500), sql, "case_str")
    } else {
      val out = Seq("tag", "sfn", "cnt")
      val sql = s"SELECT $tagSql, $fnSql, COUNT(*) AS cnt " +
        s"FROM ${ref(t.name)} WHERE ${p.sql} GROUP BY tag, sfn ${orderSql(out)}"
      FuzzQuery(name, (s, dir) =>
        read(s, dir, t.name).filter(p.c)
          .select(tagC, fnC)
          .groupBy(col("tag"), col("sfn"))
          .agg(count(lit(1)).as("cnt"))
          .orderBy(orderCols(out): _*), sql, "case_str")
    }
  }

  /** T11: session windows over the event stream — Spark's session_window
    * operator (e11's streaming-native shape, batch-planned here) against
    * a lag/gap session reconstruction in the oracle. The gap test is
    * STRICTLY > gap: an event at exactly the previous session's end
    * touches and MERGES (Spark unions touching intervals — the
    * StreamingSpec-pinned boundary). All session arithmetic is exact
    * BIGINT nanos on the microsecond grid; bounds emit as BIGINT micros
    * (micros parity holds for every file encoding — see ref()). */
  private def genSession(r: Random, name: String): FuzzQuery = {
    val t = tbl("events")
    val p = preds(r, t)
    val gapMin = pick(r, Seq(5, 15, 30, 60, 120))
    val gapNs = gapMin * 60L * 1000000000L
    val gapUs = gapMin * 60L * 1000000L
    // nd_ (count-distinct) aggs must take the set-union form under
    // session_window: Spark 4.1.2's count_distinct is WRONG when a value
    // recurs in a session separated by more than the gap (seed 9003 found
    // it; see EventStream.distinctInSession scaladoc + StreamingSpec
    // canary). The oracle keeps plain COUNT(DISTINCT) — the differential
    // verifies the safe form against ground truth on every seed.
    val as = aggs(r, t, Set("user_id", "ts")).map { a =>
      if (a.name.startsWith("nd_"))
        a.copy(c = graft.streaming.EventStream
          .distinctInSession(col(a.name.stripPrefix("nd_"))).as(a.name))
      else a
    }
    val out = Seq("user_id", "session_start_us", "session_end_us") ++ as.map(_.name)
    val sql =
      s"WITH g AS (SELECT *, CASE WHEN (lag(ts) OVER w) IS NULL THEN 1 " +
        s"WHEN ts - (lag(ts) OVER w) > $gapNs THEN 1 ELSE 0 END AS new_s " +
        s"FROM ${ref("events")} WHERE ${p.sql} " +
        "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), " +
        "s AS (SELECT *, CAST(SUM(new_s) OVER (PARTITION BY user_id " +
        "ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND " +
        "CURRENT ROW) AS BIGINT) AS sid FROM g) " +
        "SELECT user_id, CAST(MIN(ts) // 1000 AS BIGINT) AS session_start_us, " +
        s"CAST(MAX(ts) // 1000 + $gapUs AS BIGINT) AS session_end_us, " +
        s"${as.map(_.sql).mkString(", ")} FROM s GROUP BY user_id, sid " +
        orderSql(out)
    FuzzQuery(name, (s, dir) => {
      val ev = read(s, dir, "events").filter(p.c)
        .withColumn("tss", timestamp_micros(expr("ts div 1000")))
      ev.groupBy(session_window(col("tss"), s"$gapMin minutes").as("w"),
          col("user_id"))
        .agg(as.head.c, as.tail.map(_.c): _*)
        .select((Seq(col("user_id"),
          unix_micros(col("w.start")).as("session_start_us"),
          unix_micros(col("w.end")).as("session_end_us")) ++
          as.map(a => col(a.name))): _*)
        .orderBy(orderCols(out): _*)
    }, sql, "session")
  }

  /** T12: hopping-window aggregation (tumbling when the multiplier lands
    * on 1) — Spark's window(ts, W, S) per-event expansion against an
    * explicit k-offset grid replay in the oracle: an event at t belongs
    * to the W/S epoch-aligned slide multiples at or below t within W.
    * Window starts are exact BIGINT arithmetic on both sides; emitted
    * as BIGINT micros. */
  private def genHopping(r: Random, name: String): FuzzQuery = {
    val t = tbl("events")
    val p = preds(r, t)
    val slideMin = pick(r, Seq(5, 10, 15, 30))
    val m = 1 + r.nextInt(4)
    val winMin = slideMin * m
    val slideNs = slideMin * 60L * 1000000000L
    val keyed = r.nextBoolean()
    val keyCols = if (keyed) Seq("event_type") else Nil
    val as = aggs(r, t, Set("ts", "event_type"))
    val out = Seq("ws_us") ++ keyCols ++ as.map(_.name)
    val keySql = if (keyed) ", event_type" else ""
    val sql =
      s"SELECT CAST(ws_ns // 1000 AS BIGINT) AS ws_us$keySql, " +
        s"${as.map(_.sql).mkString(", ")} " +
        s"FROM (SELECT *, ((ts // $slideNs) - u.k) * $slideNs AS ws_ns " +
        s"FROM ${ref("events")}, UNNEST(range(0, $m)) u(k) " +
        s"WHERE ${p.sql}) t GROUP BY ws_us$keySql " + orderSql(out)
    FuzzQuery(name, (s, dir) => {
      val ev = read(s, dir, "events").filter(p.c)
        .withColumn("tss", timestamp_micros(expr("ts div 1000")))
      val keys = window(col("tss"), s"$winMin minutes", s"$slideMin minutes")
        .as("w") +: keyCols.map(col)
      ev.groupBy(keys: _*)
        .agg(as.head.c, as.tail.map(_.c): _*)
        .select((unix_micros(col("w.start")).as("ws_us") +:
          (keyCols.map(col) ++ as.map(a => col(a.name)))): _*)
        .orderBy(orderCols(out): _*)
    }, sql, "hopping")
  }

  /** T13: ROLLUP/CUBE grouping-sets aggregation — Spark's rollup()/cube()
    * (the g8/g9 shape, randomized) against DuckDB's GROUP BY ROLLUP/CUBE.
    * GROUPING(keys...) is emitted on both sides: it disambiguates a
    * rolled-up NULL key from a genuine NULL key value, so row identity
    * stays exact, and both engines follow the SQL-standard bit order
    * (first listed key = most significant). Aggregates come from the
    * shared exactness-safe pool (cast SUMs, integer AVG, dsum).
    *
    * Both sides carry `HAVING cnt > 0`: on EMPTY filtered input the SQL
    * standard (and DuckDB) still emit the grand-total grouping set as one
    * all-NULL row with COUNT(*)=0, while Spark's rollup()/cube() emit
    * nothing (seed-42 found it; EdgeCasesSpec pins the Spark behavior as
    * an upstream canary). The guard is a no-op on every non-degenerate
    * group — COUNT(*) >= 1 by construction — so the differential still
    * verifies all real content. */
  private def genRollup(r: Random, name: String): FuzzQuery = {
    val t = pick(r, tables)
    val p = preds(r, t)
    val keyPool = t.cols.filter(c => c.kind != DblK && c.kind != TsNsK).map(_.name)
    val keys = subset(r, keyPool, 2)
    val as = aggs(r, t, keys.toSet)
    val cube = r.nextBoolean()
    val opSql = if (cube) "CUBE" else "ROLLUP"
    val out = keys ++ Seq("gid") ++ as.map(_.name)
    val sql = s"SELECT ${keys.mkString(", ")}, " +
      s"GROUPING(${keys.mkString(", ")}) AS gid, " +
      s"${as.map(_.sql).mkString(", ")} FROM ${ref(t.name)} " +
      s"WHERE ${p.sql} GROUP BY $opSql (${keys.mkString(", ")}) " +
      s"HAVING COUNT(*) > 0 " + orderSql(out)
    FuzzQuery(name, (s, dir) => {
      val base = read(s, dir, t.name).filter(p.c)
      val g = if (cube) base.cube(keys.map(col): _*)
              else base.rollup(keys.map(col): _*)
      g.agg(grouping_id().cast("long").as("gid"), as.map(_.c): _*)
        .filter(col("cnt") > 0)
        .select(out.map(col): _*).orderBy(orderCols(out): _*)
    }, sql, "rollup")
  }

  /** T16: correlated scalar subqueries — the decorrelation planner path
    * (RewriteCorrelatedScalarSubquery and friends): a per-outer-row
    * COUNT(*) subquery always (exact BIGINT; 0 over empty is the classic
    * decorrelation trap), optionally a MAX over a numeric inner column
    * (NULL over empty — MAX is exact on any engine), optionally a scalar
    * COUNT comparison in WHERE. The Spark side runs the SAME text
    * through spark.sql over conformed temp views — the engine's declared
    * SQL surface — so the differential covers Spark's subquery planning
    * end-to-end rather than a hand-decorrelated join rewrite. All
    * fragments from the shared atom generator are dialect-portable
    * verbatim (events and its ts grid are excluded from the pair list). */
  private def genScalarSub(r: Random, name: String): FuzzQuery = {
    val pairs = Seq(
      ("orders", "lineitem", "o_orderkey", "l_orderkey"),
      ("customer", "orders", "c_custkey", "o_custkey"),
      ("part", "lineitem", "p_partkey", "l_partkey"),
      ("supplier", "lineitem", "s_suppkey", "l_suppkey"),
      ("nation", "customer", "n_nationkey", "c_nationkey"))
    val (outer, inner, ok, ik) = pick(r, pairs)
    val po = preds(r, tbl(outer))
    val pl = preds(r, tbl(inner))
    val corr = s"i.$ik = o.$ok"
    val mc = pick(r, tbl(inner).cols.filter(c => c.kind == IntK || c.kind == DblK))
    val maxExpr = mc.kind match {
      case IntK =>
        s"CAST((SELECT MAX(i.${mc.name}) FROM $inner i WHERE $corr AND (${pl.sql})) AS BIGINT)"
      case _ =>
        s"(SELECT MAX(i.${mc.name}) FROM $inner i WHERE $corr AND (${pl.sql}))"
    }
    val withMax = r.nextBoolean()
    val whereSub =
      if (r.nextBoolean()) ""
      else {
        val thr = 1 + r.nextInt(5)
        s" AND (SELECT COUNT(*) FROM $inner i WHERE $corr) >= $thr"
      }
    val out = Seq(ok, "sub_cnt") ++ (if (withMax) Seq("sub_max") else Nil)
    val q = s"SELECT o.$ok AS $ok, " +
      s"CAST((SELECT COUNT(*) FROM $inner i WHERE $corr AND (${pl.sql})) AS BIGINT) AS sub_cnt" +
      (if (withMax) s", $maxExpr AS sub_max" else "") +
      s" FROM $outer o WHERE (${po.sql})$whereSub " +
      orderSql(out) + " LIMIT 500"
    FuzzQuery(name, (s, dir) => {
      Seq(outer, inner).foreach(tn =>
        read(s, dir, tn).createOrReplaceTempView(tn))
      s.sql(q)
    }, q, "scalar_sub")
  }

  /** T17: LATERAL top-N per outer row — sql_lateral_topn's shape
    * randomized over the same portable pair list as T16 (events
    * excluded). Per-row ORDER BY + LIMIT inside a correlated lateral is
    * the construct most likely to regress into a per-row loop;
    * Catalyst's DecorrelateInnerQuery must keep rewriting it to a
    * rank-filtered window over an equi-join, and the differential keeps
    * the RESULTS honest while the sql_lateral_topn plan pin keeps the
    * shape honest. Tie-breaks rank on the inner table's declared unique
    * key columns, so the top-N set is deterministic in both engines. */
  private def genLateral(r: Random, name: String): FuzzQuery = {
    val pairs = Seq(
      ("orders", "lineitem", "o_orderkey", "l_orderkey"),
      ("customer", "orders", "c_custkey", "o_custkey"),
      ("part", "lineitem", "p_partkey", "l_partkey"),
      ("supplier", "lineitem", "s_suppkey", "l_suppkey"),
      ("nation", "customer", "n_nationkey", "c_nationkey"))
    val (outer, inner, ok, fk) = pick(r, pairs)
    val po = preds(r, tbl(outer))
    val pl = preds(r, tbl(inner))
    val it = tbl(inner)
    val ordCol = pick(r, it.cols.filter(c => c.kind == IntK || c.kind == DblK)).name
    val dir = if (r.nextBoolean()) "DESC" else "ASC"
    val k = 1 + r.nextInt(3)
    val uniq = it.uniq
    val tieSql = uniq.map(c => s"$c ASC").mkString(", ")
    val innerSel = (uniq :+ ordCol).distinct
    val out = Seq(ok) ++ innerSel
    val q = s"SELECT o.$ok AS $ok, " +
      innerSel.map(c => s"t.$c AS $c").mkString(", ") +
      s" FROM $outer o, LATERAL (SELECT ${innerSel.mkString(", ")}" +
      s" FROM $inner i WHERE i.$fk = o.$ok AND (${pl.sql})" +
      s" ORDER BY $ordCol $dir, $tieSql LIMIT $k) t" +
      s" WHERE (${po.sql}) " + orderSql(out) + " LIMIT 500"
    FuzzQuery(name, (s, dir0) => {
      Seq(outer, inner).foreach(tn =>
        read(s, dir0, tn).createOrReplaceTempView(tn))
      s.sql(q)
    }, q, "lateral")
  }

  /** T18: [NOT] IN subqueries with optional NULL injection — Spark's
    * IN-subquery planning route including the null-aware anti-join
    * (NAAJ), run as the SAME text through spark.sql and DuckDB over the
    * portable pair list (events excluded, as in T16/T17). NULLIF on the
    * inner key turns one listed key value into NULL: under IN those rows
    * simply never match, while a single NULL under NOT IN must empty the
    * ENTIRE result (three-valued logic — `x <> NULL` is unknown for every
    * x). That asymmetry is the subquery-semantics class engines break
    * most often; the differential pins both engines to it. */
  private def genInSub(r: Random, name: String): FuzzQuery = {
    val pairs = Seq(
      ("orders", "lineitem", "o_orderkey", "l_orderkey"),
      ("customer", "orders", "c_custkey", "o_custkey"),
      ("part", "lineitem", "p_partkey", "l_partkey"),
      ("supplier", "lineitem", "s_suppkey", "l_suppkey"),
      ("nation", "customer", "n_nationkey", "c_nationkey"))
    val (outer, inner, ok, fk) = pick(r, pairs)
    val po = preds(r, tbl(outer))
    val pl = preds(r, tbl(inner))
    val not = r.nextBoolean()
    val injectNull = r.nextBoolean()
    val fkc = tbl(inner).cols.find(_.name == fk).get
    val v = fkc.lo.toLong + r.nextInt((fkc.hi - fkc.lo).toInt + 1)
    val innerExpr = if (injectNull) s"NULLIF(i.$fk, $v)" else s"i.$fk"
    val cols0 = subset(r, tbl(outer).cols.map(_.name), 3)
    val q = s"SELECT ${cols0.mkString(", ")} FROM $outer o " +
      s"WHERE (${po.sql}) AND o.$ok ${if (not) "NOT IN" else "IN"} " +
      s"(SELECT $innerExpr FROM $inner i WHERE (${pl.sql})) " +
      orderSql(cols0) + " LIMIT 500"
    FuzzQuery(name, (s, dir) => {
      Seq(outer, inner).foreach(tn =>
        read(s, dir, tn).createOrReplaceTempView(tn))
      s.sql(q)
    }, q, "in_sub")
  }

  /** T19: FILTER-clause aggregates — per-aggregate predicates inside one
    * grouped (or global: the coin-flip branch) scan, Spark's
    * AggregateExpression-filter path, same text in both engines. Exact
    * aggregates only per the corpus conventions: COUNT, CAST-widened
    * integer SUM, MIN/MAX; an unmatched filter yields 0 for COUNT and
    * NULL for the rest, ordered deterministically by NULLS FIRST. */
  private def genFilterAgg(r: Random, name: String): FuzzQuery = {
    val t0 = pick(r, tables.filterNot(_.name == "events"))
    val p = preds(r, t0)
    val fp = preds(r, t0)
    val grouped = r.nextBoolean()
    val keyPool = t0.cols.filter(c => c.kind != DblK && c.kind != TsNsK).map(_.name)
    val keys = if (grouped) subset(r, keyPool, 2) else Seq.empty
    val numInt = t0.cols.filter(c => c.kind == IntK && !keys.contains(c.name))
    val others = t0.cols.filterNot(c => keys.contains(c.name))
    val fAggs = Seq.newBuilder[(String, String)]
    fAggs += (("cnt_f", s"COUNT(*) FILTER (WHERE ${fp.sql}) AS cnt_f"))
    if (numInt.nonEmpty && r.nextBoolean()) {
      val c = pick(r, numInt)
      fAggs += ((s"sumf_${c.name}",
        s"CAST(SUM(${c.name}) FILTER (WHERE ${fp.sql}) AS BIGINT) AS sumf_${c.name}"))
    }
    if (others.nonEmpty && r.nextBoolean()) {
      val c = pick(r, others)
      val fn = if (r.nextBoolean()) "MIN" else "MAX"
      fAggs += ((s"${fn.toLowerCase}f_${c.name}",
        s"$fn(${c.name}) FILTER (WHERE ${fp.sql}) AS ${fn.toLowerCase}f_${c.name}"))
    }
    val as = fAggs.result()
    val out = keys ++ Seq("cnt") ++ as.map(_._1)
    val sel = (keys ++ Seq("COUNT(*) AS cnt") ++ as.map(_._2)).mkString(", ")
    val q = s"SELECT $sel FROM ${t0.name} WHERE ${p.sql} " +
      (if (grouped) s"GROUP BY ${keys.mkString(", ")} " else "") +
      orderSql(out) + " LIMIT 500"
    FuzzQuery(name, (s, dir) => {
      read(s, dir, t0.name).createOrReplaceTempView(t0.name)
      s.sql(q)
    }, q, "filter_agg")
  }

  /** T21: EXISTS as a *projected* boolean — `SELECT …, [NOT] EXISTS(…)
    * AS has_match` rather than a WHERE gate (T7's shape). Projected
    * existential subqueries decorrelate to a LEFT OUTER existence join
    * (a different planner path from the semi/anti rewrite), and the
    * emitted boolean participates in ordering/hashing — same text
    * through spark.sql and DuckDB over the portable pair list. */
  private def genExistsProj(r: Random, name: String): FuzzQuery = {
    val pairs = Seq(
      ("orders", "lineitem", "o_orderkey", "l_orderkey"),
      ("customer", "orders", "c_custkey", "o_custkey"),
      ("part", "lineitem", "p_partkey", "l_partkey"),
      ("supplier", "lineitem", "s_suppkey", "l_suppkey"),
      ("nation", "customer", "n_nationkey", "c_nationkey"))
    val (outer, inner, ok, fk) = pick(r, pairs)
    val po = preds(r, tbl(outer))
    val pl = preds(r, tbl(inner))
    val not = if (r.nextBoolean()) "NOT " else ""
    val cols0 = subset(r, tbl(outer).cols.map(_.name), 3)
    val out = cols0 :+ "has_match"
    val q = s"SELECT ${cols0.mkString(", ")}, " +
      s"${not}EXISTS (SELECT 1 FROM $inner i WHERE i.$fk = o.$ok AND (${pl.sql})) AS has_match " +
      s"FROM $outer o WHERE (${po.sql}) " + orderSql(out) + " LIMIT 500"
    FuzzQuery(name, (s, dir) => {
      Seq(outer, inner).foreach(tn =>
        read(s, dir, tn).createOrReplaceTempView(tn))
      s.sql(q)
    }, q, "exists_proj")
  }

  /** T23: CTE referenced TWICE (self-join over an aggregate) — the CTE
    * inlining / exchange-reuse planner path: Spark decides between
    * inlining the definition into both references (two scans, possibly a
    * ReusedExchange) and `WITH ... AS` materialization, DuckDB
    * materializes — results must agree regardless. The join key is a
    * modular bucket of an integer column with a ±delta shift, so both
    * arms of the self-join carry real aggregate rows and the left-join
    * arm exercises null extension of the second reference. */
  private def genCteReuse(r: Random, name: String): FuzzQuery = {
    val tn = pick(r, Seq("lineitem", "orders", "customer", "part", "supplier"))
    val t0 = tbl(tn)
    val p = preds(r, t0)
    val keyCol = pick(r, t0.cols.filter(_.kind == IntK)).name
    val m = 20 + r.nextInt(41)
    val delta = 1 + r.nextInt(3)
    val joinKw = if (r.nextBoolean()) "LEFT JOIN" else "JOIN"
    val as = aggs(r, t0, Set(keyCol))
    val outPairs = as.map(a => (s"a.${a.name} AS a_${a.name}",
                                s"b.${a.name} AS b_${a.name}"))
    val out = Seq("k") ++ as.flatMap(a => Seq(s"a_${a.name}", s"b_${a.name}"))
    val q =
      s"WITH agg AS (SELECT $keyCol % $m AS k, ${as.map(_.sql).mkString(", ")} " +
      s"FROM $tn WHERE ${p.sql} GROUP BY $keyCol % $m) " +
      s"SELECT a.k AS k, ${outPairs.map(pr => pr._1 + ", " + pr._2).mkString(", ")} " +
      s"FROM agg a $joinKw agg b ON b.k = a.k + $delta " + orderSql(out)
    FuzzQuery(name, (s, dir) => {
      read(s, dir, tn).createOrReplaceTempView(tn)
      s.sql(q)
    }, q, "cte_reuse")
  }

  /** T22: recursive-CTE date spine + fact join-aggregate — Spark 4's
    * UnionLoop planner path (WITH RECURSIVE), same text in both engines.
    * UNION ALL arm only: Spark 4.1.2 rejects the distinct arm
    * ([UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE]), so the generator stays on
    * the supported surface; termination is a bounded integer level
    * (<= 60, under Spark's default 100-level recursion limit). The spine
    * anchors at the fact's MIN date and strides 1/2/7 days (DATE + INT
    * arithmetic — probed identical across engines); the outer query
    * joins facts back per day (LEFT keeps empty spine days, INNER drops
    * them — both deterministic) under a random ON-clause predicate. */
  private def genRecSpine(r: Random, name: String): FuzzQuery = {
    val (tn, dcol) = pick(r, Seq(("lineitem", "l_shipdate"), ("orders", "o_orderdate")))
    val t0 = tbl(tn)
    val p = preds(r, t0)
    val steps = 10 + r.nextInt(51)
    val stride = pick(r, Seq(1, 2, 7))
    val joinKw = if (r.nextBoolean()) "LEFT JOIN" else "JOIN"
    val as = aggs(r, t0, Set(dcol))
    val out = Seq("day", "lvl") ++ as.map(_.name)
    val q =
      s"WITH RECURSIVE spine(d, lvl) AS (" +
      s"SELECT CAST(MIN(CAST($dcol AS DATE)) AS DATE) AS d, 0 AS lvl FROM $tn " +
      s"UNION ALL SELECT d + $stride, lvl + 1 FROM spine WHERE lvl < $steps) " +
      s"SELECT s.d AS day, s.lvl AS lvl, ${as.map(_.sql).mkString(", ")} " +
      s"FROM spine s $joinKw $tn f ON CAST(f.$dcol AS DATE) = s.d AND (${p.sql}) " +
      s"GROUP BY s.d, s.lvl " + orderSql(out)
    FuzzQuery(name, (s, dir) => {
      read(s, dir, tn).createOrReplaceTempView(tn)
      s.sql(q)
    }, q, "rec_spine")
  }

  /** T20: time-bucket aggregation — `date_trunc` grains (year → hour,
    * including the Monday-anchored week) or a CAST-widened `EXTRACT`
    * field as the group key, same text through spark.sql and DuckDB over
    * the timestamp-bearing tables. Calendar semantics (week anchoring,
    * quarter boundaries, UTC truncation) are a classic silent-divergence
    * class between engines; the differential pins both to the same
    * answer. EXTRACT results are CAST AS BIGINT on both sides (DuckDB
    * widens EXTRACT to BIGINT, Spark to INT — the r4/r5 hash-type
    * class). */
  private def genTimeBucket(r: Random, name: String): FuzzQuery = {
    val (tn, tsCol) = pick(r, Seq(("lineitem", "l_shipdate"), ("orders", "o_orderdate")))
    val t0 = tbl(tn)
    val p = preds(r, t0)
    val useTrunc = r.nextBoolean()
    // the portable contract the first pin run surfaced: DuckDB returns
    // DATE for day-or-coarser date_trunc while Spark returns TIMESTAMP —
    // CAST AS DATE on both; and DOW anchors differently (Spark 1-based
    // vs DuckDB 0=Sunday), so the day-of-week field is DOY (1-based in
    // both engines)
    val bucketSql =
      if (useTrunc) {
        val grain = pick(r, Seq("year", "quarter", "month", "week", "day"))
        s"CAST(date_trunc('$grain', $tsCol) AS DATE)"
      } else {
        val field = pick(r, Seq("YEAR", "QUARTER", "MONTH", "DAY", "DOY"))
        s"CAST(EXTRACT($field FROM $tsCol) AS BIGINT)"
      }
    val as = aggs(r, t0, Set(tsCol))
    val out = Seq("bucket") ++ as.map(_.name)
    val q = s"SELECT $bucketSql AS bucket, ${as.map(_.sql).mkString(", ")} " +
      s"FROM $tn WHERE ${p.sql} GROUP BY bucket " + orderSql(out)
    FuzzQuery(name, (s, dir) => {
      read(s, dir, tn).createOrReplaceTempView(tn)
      s.sql(q)
    }, q, "time_bucket")
  }

  /** T14: as-of join over the event stream — the j4/j9 family randomized.
    * Each LEFT-type event matches the latest RIGHT-type event at-or-
    * before it (backward; equal ts counts as before) or the earliest
    * STRICTLY-after it (forward), per user, optionally within a tolerance
    * window. The Spark side is the single-shuffle union+window
    * composition (never an inequality join — the j4 scale argument); the
    * oracle replays with an explicit inequality LEFT JOIN + arg_max/
    * arg_min keyed by the exact (ts, event_id) combo (HUGEINT
    * intermediate only — output stays BIGINT; the j4 pattern). GROUP BY
    * v.event_id leans on the TESTDATA dense-unique event_id contract,
    * same as the fixed j4 oracle. */
  private def genAsof(r: Random, name: String): FuzzQuery = {
    val t = tbl("events")
    val p = preds(r, t)
    val types = Seq("click", "error", "purchase", "signup", "view")
    val li = r.nextInt(types.size)
    val lt = types(li)
    val rt = types((li + 1 + r.nextInt(types.size - 1)) % types.size)
    val backward = r.nextBoolean()
    val tolMin = if (r.nextBoolean()) 0 else pick(r, Seq(10, 30, 60, 240))
    val tolNs = tolMin * 60L * 1000000000L
    val out = Seq("left_id", "matched")
    val combo = "CAST(p.ts AS HUGEINT) * 1000000000000 + p.event_id"
    val onDir = if (backward) "p.ts <= v.ts" else "p.ts > v.ts"
    val onTol =
      if (tolMin == 0) ""
      else if (backward) s" AND p.ts >= v.ts - $tolNs"
      else s" AND p.ts <= v.ts + $tolNs"
    val agg = if (backward) s"arg_max(p.event_id, $combo)"
              else s"arg_min(p.event_id, $combo)"
    val sql = s"SELECT v.event_id AS left_id, $agg AS matched " +
      s"FROM (SELECT * FROM ${ref("events")} WHERE (${p.sql}) " +
      s"AND event_type = '$lt') v " +
      s"LEFT JOIN (SELECT * FROM ${ref("events")} WHERE (${p.sql}) " +
      s"AND event_type = '$rt') p " +
      s"ON p.user_id = v.user_id AND $onDir$onTol " +
      s"GROUP BY v.event_id " + orderSql(out)
    FuzzQuery(name, (s, dir) => {
      val ev = read(s, dir, "events").filter(p.c)
      val lefts = ev.filter(col("event_type") === lt)
        .select(col("user_id"), col("ts"), lit(0).as("is_r"), col("event_id"))
      val rights = ev.filter(col("event_type") === rt)
        .select(col("user_id"), col("ts"), lit(1).as("is_r"), col("event_id"))
      // right events sort BEFORE left at equal ts (is_r desc): the
      // backward frame then includes equal-ts rights and the forward
      // frame excludes them — the two directions' boundary semantics
      val w0 = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("is_r").desc, col("event_id").asc)
      val rStruct = when(col("is_r") === 1, struct(col("ts"), col("event_id")))
      val u = lefts.unionByName(rights)
      val m =
        if (backward)
          u.withColumn("m", last(rStruct, ignoreNulls = true)
            .over(w0.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        else
          u.withColumn("m", first(rStruct, ignoreNulls = true)
            .over(w0.rowsBetween(Window.currentRow, Window.unboundedFollowing)))
      val inTol =
        if (tolMin == 0) col("m").isNotNull
        else if (backward)
          col("m").isNotNull && col("ts") - col("m.ts") <= tolNs
        else col("m").isNotNull && col("m.ts") - col("ts") <= tolNs
      m.filter(col("is_r") === 0)
        .select(col("event_id").as("left_id"),
          when(inTol, col("m.event_id")).as("matched"))
        .orderBy(orderCols(out): _*)
    }, sql, "asof")
  }

  /** T24: array lane over the embeddings vectors — slice / element_at /
    * size / quantized-fold parity between Spark's array HOFs and DuckDB's
    * list functions, the exact surface the similarity/PQ tier is built on
    * (slice offsets, 1-based element indexing, fold order, zip
    * truncation). Every cross-element op runs on the e6 integer grid
    * (CAST(floor(x*1e6+0.5)) per element before any sum/min/max), so both
    * engines fold identical integers; integer sums are CAST to BIGINT on
    * the DuckDB side (list_sum widens to HUGEINT — the r4/r5 driver-hash
    * class). vec_id is unique, so ORDER BY vec_id makes LIMIT exact. */
  private def genArrayLane(r: Random, name: String): FuzzQuery = {
    val dim = 64
    val len = 2 + r.nextInt(7)
    val o = r.nextInt(dim - len)
    val o2 = r.nextInt(dim - len)
    val idx = 1 + r.nextInt(dim)
    val modK = 2 + r.nextInt(5)
    def e6d(e: String): String =
      s"list_transform($e, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT))"
    def e6s(e: String): String =
      s"transform($e, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT))"
    val branch = r.nextInt(3)
    val (outCols, sqlSel, sparkSel): (Seq[String], String, Seq[Column]) = branch match {
      case 0 =>
        // slice fold: exact integer sum + max + min of one e6 slice
        val sd = e6d(s"list_slice(embedding, ${o + 1}, ${o + len})")
        val ss = e6s(s"slice(embedding, ${o + 1}, $len)")
        (Seq("vec_id", "s", "mx", "mn"),
          s"vec_id, CAST(list_sum($sd) AS BIGINT) AS s, " +
            s"list_max($sd) AS mx, list_min($sd) AS mn",
          Seq(col("vec_id"),
            expr(s"aggregate($ss, CAST(0 AS BIGINT), (a, x) -> a + x)").as("s"),
            expr(s"array_max($ss)").as("mx"),
            expr(s"array_min($ss)").as("mn")))
      case 1 =>
        // element pick + length (1-based indexing parity; len/size both
        // rendered BIGINT)
        (Seq("vec_id", "e", "n"),
          s"vec_id, CAST(floor(CAST(embedding[$idx] AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS e, " +
            s"CAST(len(embedding) AS BIGINT) AS n",
          Seq(col("vec_id"),
            expr(s"CAST(floor(CAST(element_at(embedding, $idx) AS DOUBLE) * 1000000 + 0.5) AS BIGINT)").as("e"),
            expr("CAST(size(embedding) AS BIGINT)").as("n")))
      case _ =>
        // zip dot of two same-length e6 slices (zip + fold-order parity)
        val ad = e6d(s"list_slice(embedding, ${o + 1}, ${o + len})")
        val bd = e6d(s"list_slice(embedding, ${o2 + 1}, ${o2 + len})")
        val as0 = e6s(s"slice(embedding, ${o + 1}, $len)")
        val bs0 = e6s(s"slice(embedding, ${o2 + 1}, $len)")
        (Seq("vec_id", "dp"),
          s"vec_id, CAST(list_sum(list_transform(list_zip($ad, $bd), p -> p[1] * p[2])) AS BIGINT) AS dp",
          Seq(col("vec_id"),
            expr(s"aggregate(zip_with($as0, $bs0, (x, y) -> x * y), CAST(0 AS BIGINT), (a, v) -> a + v)").as("dp")))
    }
    val sql = s"SELECT $sqlSel FROM embeddings WHERE vec_id % $modK = 0 " +
      orderSql(Seq("vec_id")) + " LIMIT 500"
    FuzzQuery(name, (s, dir) =>
      read(s, dir, "embeddings").filter(col("vec_id") % modK === 0)
        .select(sparkSel: _*)
        .orderBy(orderCols(Seq("vec_id")): _*).limit(500), sql, "array_lane")
  }

  /** T25: SpGEMM — sparse count-matrix products through the 1-shuffle
    * join-aggregate form (the e13 pattern, randomized). Branch (a) squares
    * the event-type transition matrix (per-user LEAD over the micro-grid
    * ts, random user slice, random nnz threshold on the counts); branch
    * (b) multiplies the supplier×part incidence counts by their transpose
    * (supplier co-occurrence weights, upper triangle). All integer
    * arithmetic — counts of counts — so the hash compare is exact; the
    * product SUM is CAST BIGINT on the DuckDB side (HUGEINT widening). */
  private def genSpGemm(r: Random, name: String): FuzzQuery = {
    if (r.nextBoolean()) {
      val k = 2 + r.nextInt(4)
      val j = r.nextInt(k)
      val h = 1 + r.nextInt(3)
      val outCols = Seq("from_type", "to_type", "paths2")
      val sql =
        s"""WITH tr AS (
           |  SELECT event_type AS f,
           |         LEAD(event_type) OVER (PARTITION BY user_id
           |                                ORDER BY ts, event_id) AS t
           |  FROM ${ref("events")} WHERE user_id % $k = $j),
           |c AS (SELECT f, t, COUNT(*) AS c FROM tr WHERE t IS NOT NULL
           |      GROUP BY f, t HAVING COUNT(*) >= $h)
           |SELECT a.f AS from_type, b.t AS to_type,
           |       CAST(SUM(a.c * b.c) AS BIGINT) AS paths2
           |FROM c a JOIN c b ON a.t = b.f
           |GROUP BY a.f, b.t ${orderSql(outCols)} LIMIT 500""".stripMargin
      FuzzQuery(name, (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val c = read(s, dir, "events").filter(col("user_id") % k === j)
          .withColumn("t2", lead(col("event_type"), 1).over(w))
          .filter(col("t2").isNotNull)
          .groupBy(col("event_type").as("f"), col("t2").as("t"))
          .agg(count(lit(1)).as("c")).filter(col("c") >= h)
        val a = c.select(col("f").as("a_f"), col("t").as("a_t"),
          col("c").as("a_c"))
        val b = c.select(col("f").as("b_f"), col("t").as("b_t"),
          col("c").as("b_c"))
        a.join(b, col("a_t") === col("b_f"))
          .groupBy(col("a_f").as("from_type"), col("b_t").as("to_type"))
          .agg(sum(col("a_c") * col("b_c")).cast("long").as("paths2"))
          .orderBy(orderCols(outCols): _*).limit(500)
      }, sql, "spgemm")
    } else {
      val p = preds(r, tbl("lineitem"))
      val outCols = Seq("u", "v", "w")
      val sql =
        s"""WITH ps AS (
           |  SELECT l_suppkey AS s2, l_partkey AS p2, COUNT(*) AS c
           |  FROM lineitem WHERE ${p.sql} GROUP BY l_suppkey, l_partkey)
           |SELECT a.s2 AS u, b.s2 AS v, CAST(SUM(a.c * b.c) AS BIGINT) AS w
           |FROM ps a JOIN ps b ON a.p2 = b.p2 AND a.s2 < b.s2
           |GROUP BY a.s2, b.s2 ${orderSql(outCols)} LIMIT 500""".stripMargin
      FuzzQuery(name, (s, dir) => {
        val ps = read(s, dir, "lineitem").filter(p.c)
          .groupBy(col("l_suppkey").as("s2"), col("l_partkey").as("p2"))
          .agg(count(lit(1)).as("c"))
        val a = ps.select(col("s2").as("u"), col("p2").as("ap"),
          col("c").as("ac"))
        val b = ps.select(col("s2").as("v"), col("p2").as("bp"),
          col("c").as("bc"))
        a.join(b, col("ap") === col("bp") && col("u") < col("v"))
          .groupBy(col("u"), col("v"))
          .agg(sum(col("ac") * col("bc")).cast("long").as("w"))
          .orderBy(orderCols(outCols): _*).limit(500)
      }, sql, "spgemm")
    }
  }

  /** T26: iterative graph tier, differential against the LIBRARY functions
    * (`Graph.pagerankFixedPoint` / `Graph.triangleCount`) rather than a
    * re-derivation — a generator bug and a library bug cannot cancel.
    * Branch (a): fixed-point PageRank, random 1-3 iterations, over the
    * part↔supplier bipartite graph of a random lineitem slice (parity-
    * disjoint node ids; symmetric edges so outdeg >= 1 holds by
    * construction); oracle = the same iteration unrolled as chained CTEs
    * (K is small and fixed). Integer exactness: both engines divide
    * non-negative longs (Spark `div` truncates, DuckDB `//` floors — equal
    * on non-negatives; ranks stay positive from the +150000 floor).
    * Branch (b): triangle count of the supplier co-occurrence graph with
    * the orientation coin-flipped (byDegree true/false must agree — the
    * count is orientation-invariant); oracle = the canonical id-ordered
    * 3-way self-join. */
  private def genGraphIter(r: Random, name: String): FuzzQuery = {
    val p = preds(r, tbl("lineitem"))
    if (r.nextBoolean()) {
      val iters = 1 + r.nextInt(3)
      val iterCtes = (1 to iters).map { i =>
        s"""r$i AS (
           |  SELECT e.dst AS node,
           |         150000 + (85 * CAST(SUM(p.r // d.outdeg) AS BIGINT)) // 100 AS r
           |  FROM r${i - 1} p
           |  JOIN deg d ON p.node = d.src
           |  JOIN edges e ON p.node = e.src
           |  GROUP BY e.dst)""".stripMargin
      }.mkString(",\n")
      val outCols = Seq("node", "rank_fp")
      val sql =
        s"""WITH e0 AS (
           |  SELECT DISTINCT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst
           |  FROM lineitem WHERE ${p.sql}),
           |edges AS (SELECT src, dst FROM e0
           |          UNION ALL SELECT dst AS src, src AS dst FROM e0),
           |deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
           |r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS r FROM deg),
           |$iterCtes
           |SELECT node, r AS rank_fp FROM r$iters
           |${orderSql(outCols)} LIMIT 500""".stripMargin
      FuzzQuery(name, (s, dir) => {
        val e0 = read(s, dir, "lineitem").filter(p.c)
          .select((col("l_partkey") * 2).as("src"),
            (col("l_suppkey") * 2 + 1).as("dst")).distinct()
        val edges = e0.unionByName(
          e0.select(col("dst").as("src"), col("src").as("dst")))
        operators.Graph.pagerankFixedPoint(edges, iters)
          .orderBy(orderCols(outCols): _*).limit(500)
      }, sql, "graph_iter")
    } else {
      val byDeg = r.nextBoolean()
      val sql =
        s"""WITH ps AS (
           |  SELECT DISTINCT l_partkey AS p2, l_suppkey AS s2
           |  FROM lineitem WHERE ${p.sql}),
           |e AS (SELECT DISTINCT a.s2 AS u, b.s2 AS v
           |      FROM ps a JOIN ps b ON a.p2 = b.p2 AND a.s2 < b.s2)
           |SELECT CAST(COUNT(*) AS BIGINT) AS triangles
           |FROM e e1
           |JOIN e e2 ON e2.u = e1.v
           |JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
           |ORDER BY triangles ASC NULLS FIRST""".stripMargin
      FuzzQuery(name, (s, dir) => {
        val ps = read(s, dir, "lineitem").filter(p.c)
          .select(col("l_partkey").as("p2"), col("l_suppkey").as("s2"))
          .distinct()
        val e = ps.as("a").join(ps.as("b"),
            col("a.p2") === col("b.p2") && col("a.s2") < col("b.s2"))
          .select(col("a.s2").as("u"), col("b.s2").as("v")).distinct()
        operators.Graph.triangleCount(e, byDegree = byDeg)
          .orderBy(col("triangles").asc)
      }, sql, "graph_iter")
    }
  }

  /** T27: hybrid skew join, differential on the EXACTNESS-FOR-ANY-THRESHOLD
    * claim (`Skew.hybridSkewJoin` scaladoc): the hot/cold branch split is a
    * partition of the fact by key, so the union must equal the plain join
    * the oracle runs — for every threshold, including all-hot (1) and
    * none-hot (10^9). Fact-side keys are bounded dims (suppkey/partkey/
    * custkey, <= ~2000 distinct), so even all-hot stays inside the maxHot
    * broadcast guard. Aggregated through the exact menu: COUNT, BIGINT-cast
    * integer SUM, decimal-quantized dsum. */
  private def genHybridSkew(r: Random, name: String): FuzzQuery = {
    val pairs = Seq(
      ("lineitem", "supplier", "l_suppkey", "s_suppkey", "s_nationkey"),
      ("lineitem", "part", "l_partkey", "p_partkey", "p_brand"),
      ("orders", "customer", "o_custkey", "c_custkey", "c_mktsegment"))
    val (ft, dt, fk, dk, g) = pick(r, pairs)
    val thr = pick(r, Seq(1L, 4L, 16L, 64L, 256L, 1024L, 1000000000L))
    val factTbl = tbl(ft)
    val p = preds(r, factTbl)
    val intC = pick(r, factTbl.cols.filter(_.kind == IntK)).name
    val dblC = pick(r, factTbl.cols.filter(_.kind == DblK)).name
    val outCols = Seq(g, "cnt", s"sum_$intC", s"dsum_$dblC")
    val sql =
      s"""SELECT $g, COUNT(*) AS cnt,
         |       CAST(SUM($intC) AS BIGINT) AS sum_$intC,
         |       CAST(SUM(CAST($dblC AS DECIMAL(18,2))) AS DOUBLE) AS dsum_$dblC
         |FROM $ft JOIN $dt ON $fk = $dk
         |WHERE ${p.sql}
         |GROUP BY $g ${orderSql(outCols)} LIMIT 500""".stripMargin
    FuzzQuery(name, (s, dir) => {
      // overflowToCold: at sf0.1 the key domains are 10x the catalog's
      // sf0.01 ranges, so a low threshold can pass more than maxHot keys —
      // the heaviest-maxHot degradation keeps the split exact AND bounded
      // (and the fuzzer differentials exactly that claim).
      val joined = operators.Skew.hybridSkewJoin(
        read(s, dir, ft).filter(p.c), read(s, dir, dt), fk, dk,
        hotThreshold = thr, overflowToCold = true)
      joined.groupBy(col(g))
        .agg(count(lit(1)).as("cnt"),
          sum(col(intC)).cast("long").as(s"sum_$intC"),
          Tables.dsum(col(dblC), 2).as(s"dsum_$dblC"))
        .orderBy(orderCols(outCols): _*).limit(500)
    }, sql, "hybrid_skew")
  }

  /** T29: sketch-valued tws STATE differential — the e15/e16 processors
    * (theta / KLL bytes in per-hour ValueState) run as BATCH queries
    * over a random filter. Theta arm: optional key transform
    * (user_id % m — varies the per-bucket cardinality) vs plain per-hour
    * COUNT(DISTINCT); EQUALITY compare (the user domain keeps every hour
    * bucket deep inside theta's 4096-hash exact regime at any gated SF).
    * KLL arm: the returned p50's exact rank must sit within eps of 0.5
    * per hour AND the sketch's n must equal the exact row count (the
    * g29 rank-interval pattern — KLL compaction is randomized, the
    * BOUND is the deterministic contract). The hour key is exact
    * integer division of the micro-grid nanos ts on both sides —
    * DuckDB `//` floors while Spark `div` truncates toward zero, which
    * agree ONLY for non-negative ts; the testdata contract canary
    * (TestdataContractSpec) asserts min(ts) >= 0 so a regen with
    * negative timestamps fails loudly there, not as a silent
    * hour-key skew here. */
  private def genSketchState(r: Random, name: String): FuzzQuery = {
    val t = tbl("events")
    val p = preds(r, t)
    val useKll = r.nextBoolean()
    if (useKll) {
      val sql = s"SELECT ts // 3600000000000 AS hour_key, " +
        s"COUNT(*) AS n_rows, TRUE AS p50_within_bound, TRUE AS n_matches " +
        s"FROM ${ref("events")} WHERE ${p.sql} GROUP BY 1 " +
        orderSql(Seq("hour_key"))
      FuzzQuery(name, (s, dir) => {
        s.streams.active // StateStoreCoordinator lazy-init (see e14)
        val enc = org.apache.spark.sql.Encoders.product[graft.streaming.Event]
        val base = read(s, dir, "events").filter(p.c)
        val sk = graft.streaming.EventStream
          .hourlyQuantileSketchTws(base.as(enc))
          .toDF("hour_key", "n_sk", "p50")
        val eps = 0.03
        base.withColumn("hour_key", expr("ts div 3600000000000"))
          .join(broadcast(sk), Seq("hour_key"))
          .groupBy(col("hour_key"))
          .agg(count(lit(1)).as("n_rows"),
            (sum(when(col("value") < col("p50"), 1L).otherwise(0L))
               < (lit(0.5) + eps) * count(lit(1)) &&
             sum(when(col("value") <= col("p50"), 1L).otherwise(0L))
               >= (lit(0.5) - eps) * count(lit(1))).as("p50_within_bound"),
            (max(col("n_sk")) === count(lit(1))).as("n_matches"))
          .orderBy(col("hour_key"))
      }, sql, "sketch_state")
    } else {
      val m = pick(r, Seq(0, 7, 13, 50)) // 0 = raw user_id
      val keySql = if (m == 0) "user_id" else s"user_id % $m"
      val sql = s"SELECT ts // 3600000000000 AS hour_key, " +
        s"COUNT(DISTINCT $keySql) AS n_users FROM ${ref("events")} " +
        s"WHERE ${p.sql} GROUP BY 1 " + orderSql(Seq("hour_key"))
      FuzzQuery(name, (s, dir) => {
        s.streams.active // StateStoreCoordinator lazy-init (see e14)
        val enc = org.apache.spark.sql.Encoders.product[graft.streaming.Event]
        val ds0 = read(s, dir, "events").filter(p.c).as(enc)
        val ds = if (m == 0) ds0
          else ds0.map(e => e.copy(user_id = e.user_id % m))(enc)
        graft.streaming.EventStream.hourlyDistinctSketchTws(ds)
          .toDF("hour_key", "n_users")
          .orderBy(col("hour_key"))
      }, sql, "sketch_state")
    }
  }

  /** T28: sketch accuracy-bound differential — the bound-row pattern of
    * the fixed suite (g11b/g21/g27) randomized over columns, filters, and
    * groupings. The ESTIMATE is engine-specific, so what's differentialed
    * is the CONTRACT: Spark computes estimate + exact and emits exact +
    * a within-bound boolean; the oracle recomputes exact and asserts
    * literal TRUE. Branches: (a) global approx_count_distinct at rsd 0.01
    * (bound 5% with absolute slack 3 — small-cardinality sketches are
    * exact-ish, relative bound alone would be vacuous at 0); (b) grouped,
    * same bound per group; (c) Datasketches HLL built per random int
    * shard and union-merged (the g27 lifecycle, bound 6%); (d) KLL
    * quantile rank-interval; (e) Datasketches THETA per-shard build +
    * union (the g31/g32 lifecycle — same bound as HLL; theta is exact
    * below 4096 retained so small filtered cardinalities measure zero
    * error). Deterministic: every family here is hash-based (KLL's
    * internal randomness is covered by the rank BOUND, not a value pin),
    * so a bound that holds once holds every run on fixed data. */
  private def genSketchBound(r: Random, name: String): FuzzQuery = {
    val t = pick(r, tables)
    val p = preds(r, t)
    def bound(approx: Column, exact: Column, rel: Double, slack: Double): Column =
      (abs(coalesce(approx, lit(0L)) - exact).cast("double")
        <= greatest(exact * rel, lit(slack))).as("within_bound")
    r.nextInt(5) match {
      case 4 =>
        // theta shard-merge: the HLL branch's lifecycle with set-sketch
        // bytes (g31/g32's persistable tier) — per-shard thetaSketchAgg,
        // thetaUnionAgg rollup, estimate vs exact
        val ints = t.cols.filter(_.kind == IntK)
        if (ints.size < 2) return genSketchBound(r, name)
        val c = pick(r, ints).name
        val sh = pick(r, ints.filterNot(_.name == c)).name
        val m = 2 + r.nextInt(7)
        val sql = s"SELECT COUNT(DISTINCT $c) AS exact_c, TRUE AS within_bound " +
          s"FROM ${ref(t.name)} WHERE ${p.sql} " + orderSql(Seq("exact_c"))
        FuzzQuery(name, (s, dir) => {
          import graft.functions.SketchFunctions._
          val base = read(s, dir, t.name).filter(p.c)
          val merged = base.groupBy(pmod(col(sh), lit(m)).as("shard"))
            .agg(thetaSketchAgg(col(c)).as("sk"))
            .agg(round(thetaEstimate(thetaUnionAgg(col("sk")))).as("approx"))
          base.agg(countDistinct(col(c)).as("exact_c"))
            .crossJoin(broadcast(merged))
            .select(col("exact_c"), bound(col("approx"), col("exact_c"), 0.06, 3.0))
            .orderBy(col("exact_c").asc)
        }, sql, "sketch_bound")
      case 0 =>
        val c = pick(r, t.cols).name
        val sql = s"SELECT COUNT(DISTINCT $c) AS exact_c, TRUE AS within_bound " +
          s"FROM ${ref(t.name)} WHERE ${p.sql} " + orderSql(Seq("exact_c"))
        FuzzQuery(name, (s, dir) =>
          read(s, dir, t.name).filter(p.c)
            .agg(approx_count_distinct(col(c), 0.01).as("approx"),
              countDistinct(col(c)).as("exact_c"))
            .select(col("exact_c"), bound(col("approx"), col("exact_c"), 0.05, 3.0))
            .orderBy(col("exact_c").asc),
          sql, "sketch_bound")
      case 1 =>
        val groupable = t.cols.filter(c => c.kind == StrK && c.lits.nonEmpty)
        if (groupable.isEmpty) return genSketchBound(r, name)
        val g = pick(r, groupable).name
        val c = pick(r, t.cols.filterNot(_.name == g)).name
        val sql = s"SELECT $g, COUNT(DISTINCT $c) AS exact_c, TRUE AS within_bound " +
          s"FROM ${ref(t.name)} WHERE ${p.sql} GROUP BY $g " +
          orderSql(Seq(g, "exact_c", "within_bound"))
        FuzzQuery(name, (s, dir) =>
          read(s, dir, t.name).filter(p.c).groupBy(col(g))
            .agg(approx_count_distinct(col(c), 0.01).as("approx"),
              countDistinct(col(c)).as("exact_c"))
            .select(col(g), col("exact_c"),
              bound(col("approx"), col("exact_c"), 0.05, 3.0))
            .orderBy(orderCols(Seq(g, "exact_c", "within_bound")): _*),
          sql, "sketch_bound")
      case 3 =>
        // KLL quantile sketch: per-shard build over a random double
        // column, merge, rank-interval check of a random quantile vs
        // exact counting (the g29 contract; eps 0.03 ≈ 3.7σ of the
        // k=200 rank error, deterministic headroom on fixed data even
        // though KLL compaction is internally randomized — the BOUND is
        // what's pinned, not the sampled value).
        val dbls = t.cols.filter(_.kind == DblK)
        val ints0 = t.cols.filter(_.kind == IntK)
        if (dbls.isEmpty || ints0.isEmpty) return genSketchBound(r, name)
        val c = pick(r, dbls).name
        val sh = pick(r, ints0).name
        val m = 2 + r.nextInt(7)
        val q = Seq(0.25, 0.5, 0.75, 0.9)(r.nextInt(4))
        val sql = s"SELECT COUNT(*) AS n_rows, TRUE AS within_bound " +
          s"FROM ${ref(t.name)} WHERE ${p.sql} " + orderSql(Seq("n_rows"))
        FuzzQuery(name, (s, dir) => {
          import graft.functions.SketchFunctions._
          val base = read(s, dir, t.name).filter(p.c)
          val merged = base.groupBy(pmod(col(sh), lit(m)).as("shard"))
            .agg(kllSketchAgg(col(c)).as("sk"))
            .agg(kllMergeAgg(col("sk")).as("sk"))
            .select(kllQuantile(col("sk"), q).as("qv"))
          base.crossJoin(broadcast(merged))
            .agg(count(lit(1)).as("n_rows"),
              (coalesce(sum(when(col(c) < col("qv"), 1L).otherwise(0L)), lit(0L))
                 < (lit(q) + 0.03) * count(lit(1)) &&
               coalesce(sum(when(col(c) <= col("qv"), 1L).otherwise(0L)), lit(0L))
                 >= (lit(q) - 0.03) * count(lit(1)) ||
               count(lit(1)) === 0).as("within_bound"))
            .orderBy(col("n_rows").asc)
        }, sql, "sketch_bound")
      case _ =>
        val ints = t.cols.filter(_.kind == IntK)
        if (ints.size < 2) return genSketchBound(r, name)
        val c = pick(r, ints).name
        val sh = pick(r, ints.filterNot(_.name == c)).name
        val m = 2 + r.nextInt(7)
        val sql = s"SELECT COUNT(DISTINCT $c) AS exact_c, TRUE AS within_bound " +
          s"FROM ${ref(t.name)} WHERE ${p.sql} " + orderSql(Seq("exact_c"))
        FuzzQuery(name, (s, dir) => {
          val base = read(s, dir, t.name).filter(p.c)
          val merged = base.groupBy(pmod(col(sh), lit(m)).as("shard"))
            .agg(hll_sketch_agg(col(c)).as("sk"))
            .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("approx"))
          base.agg(countDistinct(col(c)).as("exact_c"))
            .crossJoin(broadcast(merged))
            .select(col("exact_c"), bound(col("approx"), col("exact_c"), 0.06, 3.0))
            .orderBy(col("exact_c").asc)
        }, sql, "sketch_bound")
    }
  }

  /** T30: LEFT OUTER interval join — the e17 attribution shape
    * randomized: every LEFT-type event joined to the same user's
    * RIGHT-type events landing within [ts, ts+gap]; unmatched lefts
    * SURVIVE the join. Folded per left event (match count + first match)
    * so the outer rows are pinned by n_matched = 0 / first_match NULL
    * instead of raw null-row ordering. The Spark side is the literal
    * left-outer interval join (user_id equi-key + band residual — never
    * a nested loop, the same plan family e8/e17 ship); both sides share
    * one random predicate, and the interval arithmetic is exact integer
    * nanos in both engines. */
  private def genOuterInterval(r: Random, name: String): FuzzQuery = {
    val t = tbl("events")
    val p = preds(r, t)
    val types = Seq("click", "error", "purchase", "signup", "view")
    val li = r.nextInt(types.size)
    val lt = types(li)
    val rt = types((li + 1 + r.nextInt(types.size - 1)) % types.size)
    val gapNs = pick(r, Seq(5, 30, 120, 720)) * 60L * 1000000000L
    val sql = s"SELECT v.event_id AS left_id, COUNT(p.event_id) AS n_matched, " +
      s"MIN(p.event_id) AS first_match " +
      s"FROM (SELECT * FROM ${ref("events")} WHERE (${p.sql}) " +
      s"AND event_type = '$lt') v " +
      s"LEFT JOIN (SELECT * FROM ${ref("events")} WHERE (${p.sql}) " +
      s"AND event_type = '$rt') p " +
      s"ON p.user_id = v.user_id AND p.ts >= v.ts AND p.ts <= v.ts + $gapNs " +
      s"GROUP BY v.event_id " + orderSql(Seq("left_id"))
    FuzzQuery(name, (s, dir) => {
      val ev = read(s, dir, "events").filter(p.c)
      val l = ev.filter(col("event_type") === lt)
        .select(col("user_id"), col("event_id").as("left_id"),
          col("ts").as("l_ts"))
      val rr = ev.filter(col("event_type") === rt)
        .select(col("user_id").as("r_user"), col("event_id").as("r_id"),
          col("ts").as("r_ts"))
      l.join(rr, col("user_id") === col("r_user") &&
          col("r_ts") >= col("l_ts") && col("r_ts") <= col("l_ts") + gapNs,
          "left_outer")
        .groupBy(col("left_id"))
        .agg(count(col("r_id")).as("n_matched"),
          min(col("r_id")).as("first_match"))
        .orderBy(col("left_id").asc)
    }, sql, "outer_interval")
  }

  /** T31: connected-components differential — `Dedup.dupClusters` (the
    * bounded-round min-label propagation behind dedup_clusters, with the
    * pointer-doubling `jump` arm randomized: both modes must land on the
    * IDENTICAL fixpoint) over a random bounded edge set: supplier co-order
    * pairs under a random lineitem predicate (suppkey domain — ≤ ~1k nodes
    * at any gated SF, so the oracle's transitive closure stays small). The
    * oracle computes the same unique fixpoint by a DIFFERENT algorithm —
    * recursive reachability + min over the reach set — which is the point:
    * any propagation bug (a dropped round, a wrong merge in jump mode, a
    * label that climbed) diverges from closure-derived labels. Output is
    * (doc_id, rep_id, cluster_size), the dedup_clusters shape. */
  private def genClusters(r: Random, name: String): FuzzQuery = {
    val p = preds(r, tbl("lineitem"))
    val jump = r.nextBoolean()
    val out = Seq("doc_id", "rep_id", "cluster_size")
    val sql =
      s"""WITH RECURSIVE os AS (
         |  SELECT DISTINCT l_orderkey AS o, l_suppkey AS sk
         |  FROM lineitem WHERE ${p.sql}),
         |e0 AS (SELECT DISTINCT a.sk AS u, b.sk AS v
         |       FROM os a JOIN os b ON a.o = b.o AND a.sk < b.sk),
         |edges AS (SELECT u AS a, v AS b FROM e0
         |          UNION ALL SELECT v, u FROM e0),
         |reach(a, b) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         |lab AS (SELECT a AS doc_id, LEAST(a, MIN(b)) AS rep_id
         |        FROM reach GROUP BY a)
         |SELECT l.doc_id, l.rep_id, s.cluster_size
         |FROM lab l JOIN (SELECT rep_id, COUNT(*) AS cluster_size
         |                 FROM lab GROUP BY rep_id) s USING (rep_id)
         |${orderSql(out)} LIMIT 500""".stripMargin
    FuzzQuery(name, (s, dir) => {
      val os = read(s, dir, "lineitem").filter(p.c)
        .select(col("l_orderkey").as("o"), col("l_suppkey").as("sk"))
        .distinct()
      val prs = os.as("a").join(os.as("b"),
          col("a.o") === col("b.o") && col("a.sk") < col("b.sk"))
        .select(col("a.sk").as("doc_i"), col("b.sk").as("doc_j")).distinct()
      ext.Dedup.dupClusters(prs, jump = jump)
        .orderBy(orderCols(out): _*).limit(500)
    }, sql, "cc_fixpoint")
  }

  /** T32: CDC extremum-wins differential — e25's argmax-per-key shape
    * randomized: random predicate, optional key coarsening (user_id % m
    * deepens per-key row count), and a coin flip between latest-wins
    * (struct MAX) and earliest-wins (struct MIN). The oracle picks the
    * same row via row_number() over the mirrored (ts, event_id)
    * ordering — a TOTAL order (event ids are dense-unique, testdata
    * contract canary), so both engines must land on the identical
    * (ts, event_id, value) triple per key. */
  private def genCdcExtremum(r: Random, name: String): FuzzQuery = {
    val t = tbl("events")
    val p = preds(r, t)
    val m = pick(r, Seq(0, 8, 64)) // 0 = raw user_id
    val latest = r.nextBoolean()
    val keySql = if (m == 0) "user_id" else s"user_id % $m"
    val ord = if (latest) "DESC" else "ASC"
    val sql = s"SELECT k, pick_ts, pick_event, pick_value FROM (" +
      s"SELECT $keySql AS k, ts AS pick_ts, event_id AS pick_event, " +
      s"value AS pick_value, row_number() OVER (PARTITION BY $keySql " +
      s"ORDER BY ts $ord, event_id $ord) AS rn " +
      s"FROM ${ref("events")} WHERE ${p.sql}) WHERE rn = 1 " +
      orderSql(Seq("k"))
    FuzzQuery(name, (s, dir) => {
      val key = if (m == 0) col("user_id") else col("user_id") % m
      val st = struct(col("ts"), col("event_id"), col("value"))
      read(s, dir, "events").filter(p.c)
        .groupBy(key.as("k"))
        .agg((if (latest) max(st) else min(st)).as("mm"))
        .select(col("k"), col("mm.ts").as("pick_ts"),
          col("mm.event_id").as("pick_event"),
          col("mm.value").as("pick_value"))
        .orderBy(col("k").asc)
    }, sql, "cdc_extremum")
  }

  /** T33: interval-join FAMILY differential — the e19/e20/e23 shapes
    * (full outer / left semi / right outer) randomized the way T30
    * randomizes the left-outer arm; together the four cover every join
    * type the streaming interval family ships. Right-outer folds per
    * RIGHT event (orphans pinned by n_matched = 0); left-semi emits the
    * matched left ids exactly once; full-outer reduces to a one-row
    * summary (pair count, both orphan counts, id checksum) because no
    * single-side group key covers both null halves. */
  private def genIntervalFamily(r: Random, name: String): FuzzQuery = {
    val t = tbl("events")
    val p = preds(r, t)
    val types = Seq("click", "error", "purchase", "signup", "view")
    val li = r.nextInt(types.size)
    val lt = types(li)
    val rt = types((li + 1 + r.nextInt(types.size - 1)) % types.size)
    val gapNs = pick(r, Seq(5, 30, 120, 720)) * 60L * 1000000000L
    val arm = r.nextInt(3) // 0 = right_outer, 1 = left_semi, 2 = full_outer
    val leftSql = s"(SELECT * FROM ${ref("events")} WHERE (${p.sql}) " +
      s"AND event_type = '$lt') v"
    val rightSql = s"(SELECT * FROM ${ref("events")} WHERE (${p.sql}) " +
      s"AND event_type = '$rt') p"
    val onSql = s"ON p.user_id = v.user_id AND p.ts >= v.ts " +
      s"AND p.ts <= v.ts + $gapNs"
    val sql = arm match {
      case 0 => s"SELECT p.event_id AS right_id, COUNT(v.event_id) AS n_matched, " +
        s"MIN(v.event_id) AS first_match FROM $leftSql RIGHT JOIN $rightSql " +
        s"$onSql GROUP BY p.event_id " + orderSql(Seq("right_id"))
      case 1 => s"SELECT v.event_id AS left_id FROM $leftSql WHERE EXISTS (" +
        s"SELECT 1 FROM $rightSql WHERE p.user_id = v.user_id " +
        s"AND p.ts >= v.ts AND p.ts <= v.ts + $gapNs) " + orderSql(Seq("left_id"))
      case _ => s"SELECT COUNT(*) AS n_rows, " +
        s"CAST(SUM(CASE WHEN v.event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_right_orphans, " +
        s"CAST(SUM(CASE WHEN p.event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_left_orphans, " +
        s"CAST(SUM(coalesce(v.event_id, 0) + coalesce(p.event_id, 0)) AS BIGINT) AS id_sum " +
        s"FROM $leftSql FULL JOIN $rightSql $onSql " + orderSql(Seq("n_rows"))
    }
    FuzzQuery(name, (s, dir) => {
      val ev = read(s, dir, "events").filter(p.c)
      val l = ev.filter(col("event_type") === lt)
        .select(col("user_id"), col("event_id").as("left_id"),
          col("ts").as("l_ts"))
      val rr = ev.filter(col("event_type") === rt)
        .select(col("user_id").as("r_user"), col("event_id").as("r_id"),
          col("ts").as("r_ts"))
      val cond = col("user_id") === col("r_user") &&
        col("r_ts") >= col("l_ts") && col("r_ts") <= col("l_ts") + gapNs
      arm match {
        case 0 => l.join(rr, cond, "right_outer")
          .groupBy(col("r_id").as("right_id"))
          .agg(count(col("left_id")).as("n_matched"),
            min(col("left_id")).as("first_match"))
          .orderBy(col("right_id").asc)
        case 1 => l.join(rr, cond, "left_semi")
          .select(col("left_id")).orderBy(col("left_id").asc)
        case _ => l.join(rr, cond, "full_outer")
          .agg(count(lit(1)).as("n_rows"),
            sum(when(col("left_id").isNull, 1L).otherwise(0L)).as("n_right_orphans"),
            sum(when(col("r_id").isNull, 1L).otherwise(0L)).as("n_left_orphans"),
            sum(coalesce(col("left_id"), lit(0L)) +
              coalesce(col("r_id"), lit(0L))).as("id_sum"))
          .orderBy(col("n_rows").asc) // 1 row; lint requires full ordering
      }
    }, sql, "interval_family")
  }

  /** T34: snapshot-changeset differential — K10's diff randomized: one
    * shared random predicate, two OVERLAPPING snapshot windows (each side
    * drops a random event-id residue and a random user residue, drawn
    * distinct so I/D rows exist), optional key coarsening (user_id % m
    * deepens per-key rows). The Spark side runs the LIBRARY operator
    * (`Upsert.changeset` over two struct-max snapshots); the oracle
    * rebuilds both snapshots via mirrored row_number() and classifies
    * with explicit column comparisons — so a misclassified op, a leaked
    * unchanged key, or a wrong-side value in the I/U/D payload all
    * diverge. */
  private def genChangeset(r: Random, name: String): FuzzQuery = {
    val t = tbl("events")
    val p = preds(r, t)
    val m = pick(r, Seq(0, 16)) // 0 = raw user_id
    val evA = r.nextInt(5); val evB = (evA + 1 + r.nextInt(4)) % 5
    val uA = r.nextInt(11); val uB = (uA + 1 + r.nextInt(10)) % 11
    val keySql = if (m == 0) "user_id" else s"user_id % $m"
    def snapSql(ev: Int, u: Int): String =
      s"SELECT k, ts, event_id, value FROM (" +
      s"SELECT $keySql AS k, ts, event_id, value, " +
      s"row_number() OVER (PARTITION BY $keySql ORDER BY ts DESC, event_id DESC) AS rn " +
      s"FROM ${ref("events")} WHERE (${p.sql}) " +
      s"AND event_id % 5 <> $ev AND user_id % 11 <> $u) WHERE rn = 1"
    val sql = s"SELECT * FROM (" +
      s"SELECT coalesce(o.k, n.k) AS k, " +
      s"CASE WHEN o.k IS NULL THEN 'I' WHEN n.k IS NULL THEN 'D' " +
      s"WHEN o.ts <> n.ts OR o.event_id <> n.event_id OR o.value <> n.value " +
      s"THEN 'U' END AS op, " +
      s"coalesce(n.ts, o.ts) AS ts, coalesce(n.event_id, o.event_id) AS event_id, " +
      s"coalesce(n.value, o.value) AS value " +
      s"FROM (${snapSql(evA, uA)}) o FULL JOIN (${snapSql(evB, uB)}) n ON o.k = n.k) " +
      s"WHERE op IS NOT NULL " + orderSql(Seq("k"))
    FuzzQuery(name, (s, dir) => {
      val key = if (m == 0) col("user_id") else col("user_id") % m
      def snap(ev: Int, u: Int): DataFrame =
        read(s, dir, "events").filter(p.c)
          .filter(col("event_id") % 5 =!= ev && col("user_id") % 11 =!= u)
          .groupBy(key.as("k"))
          .agg(max(struct(col("ts"), col("event_id"), col("value"))).as("mm"))
          .select(col("k"), col("mm.ts").as("ts"),
            col("mm.event_id").as("event_id"), col("mm.value").as("value"))
      sources.Upsert.changeset(snap(evA, uA), snap(evB, uB), "k")
        .orderBy(col("k").asc)
    }, sql, "changeset")
  }

  /** T35: table-profile differential — g33's per-column DQ profile
    * randomized: a random table, a shared random predicate, a random
    * column subset (double columns render min/max through DECIMAL(18,2)
    * exactly as g33 does), plus an optional DERIVED nullable column
    * (value-above-threshold, else NULL) exercising the null-rate path
    * the all-NOT-NULL physical columns can't. The Spark side runs the
    * LIBRARY operator (`Aggregations.profileTablePerColumn` — the
    * pruned-scan union that measurement chose over the one-pass Expand);
    * the oracle recomputes every per-column aggregate as an explicit
    * UNION ALL, so a wrong null count, a distinct-vs-rows swap, a lost
    * column, or a mis-rendered decimal min/max all diverge. */
  private def genProfile(r: Random, name: String): FuzzQuery = {
    val t = pick(r, tables)
    val p = preds(r, t)
    val colsPicked = subset(r, t.cols.map(_.name), 4)
    val kindOf = t.cols.map(c => c.name -> c.kind).toMap
    val dbls = t.cols.filter(_.kind == DblK)
    val derived: Option[(String, String, Double, String)] =
      if (dbls.nonEmpty && r.nextBoolean()) {
        val c = pick(r, dbls)
        val (v, vs) = dblLit(r, c)
        Some((s"hi_${c.name}", c.name, v, vs))
      } else None
    val spec: Seq[(String, Boolean)] =
      colsPicked.map(c => (c, kindOf(c) == DblK)) ++
        derived.map { case (a, _, _, _) => (a, true) }
    def mm(num: Boolean, x: String): String =
      if (num) s"CAST(CAST($x AS DECIMAL(18,2)) AS VARCHAR)"
      else s"CAST($x AS VARCHAR)"
    val unions = spec.map { case (cn, num) =>
      s"SELECT '$cn' AS column_name, COUNT(*) AS n_rows, " +
        s"CAST(SUM(CASE WHEN $cn IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null, " +
        s"COUNT(DISTINCT $cn) AS n_distinct, " +
        s"${mm(num, s"MIN($cn)")} AS min_v, " +
        s"${mm(num, s"MAX($cn)")} AS max_v FROM o"
    }.mkString(" UNION ALL ")
    val derivedSql = derived.map { case (a, src, _, vs) =>
      s", CASE WHEN $src > $vs THEN $src END AS $a" }.getOrElse("")
    val sql = s"WITH o AS (SELECT *$derivedSql FROM ${ref(t.name)} " +
      s"WHERE (${p.sql})) SELECT * FROM ($unions) " +
      orderSql(Seq("column_name"))
    FuzzQuery(name, (s, dir) => {
      val base0 = read(s, dir, t.name).filter(p.c)
      val base = derived match {
        case Some((a, src, v, _)) =>
          base0.withColumn(a, when(col(src) > v, col(src)))
        case None => base0
      }
      operators.Aggregations.profileTablePerColumn(base, spec)
        .orderBy(col("column_name").asc)
    }, sql, "profile")
  }

  /** T36: calendar-grain rollup differential — e22 randomized: a random
    * grain (week/month/quarter/year) under the session's UTC pin, a
    * shared random predicate, the LIBRARY operator
    * (`EventStream.calendarRollup`: date_trunc keys, exact distinct
    * users, decimal-quantized value sum) against the oracle's
    * date_trunc over the micro-grid timestamps. A timezone drift, a
    * grain-key rendering change, or a week-start disagreement (both
    * engines truncate to Monday) all diverge here. */
  private def genCalendarRollup(r: Random, name: String): FuzzQuery = {
    val t = tbl("events")
    val p = preds(r, t)
    val grain = pick(r, Seq("week", "month", "quarter", "year"))
    val sql =
      s"SELECT strftime(date_trunc('$grain', make_timestamp(ts // 1000)), " +
        s"'%Y-%m-%d') AS ${grain}_start, " +
        s"event_type, COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users, " +
        s"CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value " +
        s"FROM ${ref("events")} WHERE (${p.sql}) GROUP BY 1, 2 " +
        orderSql(Seq(s"${grain}_start", "event_type"))
    FuzzQuery(name, (s, dir) =>
      streaming.EventStream.calendarRollup(
        read(s, dir, "events").filter(p.c), grain)
        .orderBy(col(s"${grain}_start").asc, col("event_type").asc),
      sql, "calendar_rollup")
  }

  /** T37: double-correlated EXISTS + NOT EXISTS differential — the
    * TPC-H q21 pattern randomized: rows of a multi-row-per-key table
    * that (a) pass a random predicate, (b) have a DIFFERENT sibling row
    * under the same key (EXISTS), and (c) have no sibling satisfying a
    * second random predicate (NOT EXISTS). The Spark side compiles the
    * correlation explicitly — LEFT SEMI for the witness, LEFT ANTI for
    * the guard, key-equi joins with the row-inequality as residual (the
    * q21_waiting_supplier discipline); the oracle runs the same logic
    * as correlated subqueries, so a semi/anti residual mis-compile, a
    * dropped witness, or a leaked guard row all diverge. */
  private def genDoubleCorr(r: Random, name: String): FuzzQuery = {
    // multi-row-per-key tables: (table, corr key, row discriminator)
    val (tn, key, disc) = pick(r, Seq(
      ("lineitem", "l_orderkey", "l_linenumber"),
      ("lineitem", "l_partkey", "l_orderkey"),
      ("events", "user_id", "event_id"),
      ("orders", "o_custkey", "o_orderkey")))
    val t = tbl(tn)
    val p1 = preds(r, t)
    val p3 = preds(r, t)
    val outCols = (Seq(key, disc) ++
      subset(r, t.cols.map(_.name).filterNot(Set(key, disc)), 2)).distinct
    // ref("events") carries its own alias; re-alias for the three scopes
    def refAs(a: String): String =
      if (tn == "events")
        s"(SELECT * REPLACE (epoch_us(ts) * 1000 AS ts) FROM events) AS $a"
      else s"$tn AS $a"
    // unqualified columns in each subquery resolve innermost-first (the
    // SQL scoping rule), so only the correlation comparisons qualify
    val sql = s"SELECT ${outCols.mkString(", ")} FROM ${refAs("e1")} " +
      s"WHERE (${p1.sql}) " +
      s"AND EXISTS (SELECT 1 FROM ${refAs("e2")} " +
      s"WHERE e2.$key = e1.$key AND e2.$disc <> e1.$disc) " +
      s"AND NOT EXISTS (SELECT 1 FROM ${refAs("e3")} " +
      s"WHERE e3.$key = e1.$key AND e3.$disc <> e1.$disc " +
      s"AND (${p3.sql})) " +
      orderSql(outCols)
    FuzzQuery(name, (s, dir) => {
      val all = read(s, dir, tn)
      val base = all.filter(p1.c)
      val witness = all.select(col(key).as("w_k"), col(disc).as("w_d"))
      val guard = all.filter(p3.c)
        .select(col(key).as("g_k"), col(disc).as("g_d"))
      base
        .join(witness, col(key) === col("w_k") && col(disc) =!= col("w_d"),
          "left_semi")
        .join(guard, col(key) === col("g_k") && col(disc) =!= col("g_d"),
          "left_anti")
        .select(outCols.map(col): _*)
        .orderBy(orderCols(outCols): _*)
    }, sql, "double_corr")
  }

  /** T39: the ingest→retrain LIFECYCLE randomized end to end — the epoch
    * half of the self-maintaining index (the fixed registry row
    * sim_ann_ivfpq_retrain pins ONE path; this family randomizes it).
    * Randomized: the residue layout (a residue that is NEVER ingested, an
    * optional FIRST batch deduplicated at a random threshold with an
    * explicit random nprobe, then 1-2 admit-all batches), the RETRAIN
    * geometry (m, ksub — possibly different from the init's, the
    * "parameter change on the epoch cadence" path), and the final probe's
    * (query, k). The Spark side runs the REAL stateful lifecycle on a
    * fresh root (initIngest → ingests → retrain → probe of the persisted
    * artifacts); the oracle is a FROM-SCRATCH IVF×PQ build + probe over
    * the SURVIVING corpus — standing ∪ dedup-batch survivors ∪ admitted
    * residues — with the survivor set itself computed by the T38
    * semantic-ingest SQL embedded as a corpus predicate
    * (duckSemanticIngestOver), and the build text shared with the fixed
    * rows (duckFullIvfPqProbeOver). A retrain that re-reads anything
    * narrower than the grown corpus, leaks a stale quantizer, loses a
    * batch, or mis-handles a changed geometry hash-diverges here. */
  private def genRetrainLifecycle(r: Random, name: String): FuzzQuery = {
    import graft.ext.{Similarity, SimilarityQueries}
    val mod = pick(r, Seq(8, 10, 12))
    val pool = scala.collection.mutable.ArrayBuffer.from(0 until mod)
    val rs = (0 until mod).map(_ => pool.remove(r.nextInt(pool.size)))
    val out = rs.head                          // residue never ingested
    val dedup = r.nextBoolean()
    val dedupRes = rs(1)
    val nAdmit = 1 + r.nextInt(2)
    val admits = rs.slice(2, 2 + nAdmit)
    val ingested = (if (dedup) Seq(dedupRes) else Nil) ++ admits
    val standingRes = (0 until mod).filterNot(x =>
      x == out || ingested.contains(x))
    val thr = pick(r, Seq(250000000L, 400000000L, 550000000L))
    val kDedup = 1 + r.nextInt(5)
    val np = 6 + r.nextInt(10)                 // explicit on BOTH sides
    val (m2, ks2) = pick(r, Seq(
      (Similarity.pqM, Similarity.pqKsub), (8, 16), (16, 16), (8, 32)))
    val k = 3 + r.nextInt(8)
    val qid = standingRes.head.toLong          // vec_id=r < mod is standing
    val standingIn = standingRes.mkString(", ")
    val corpusResIn = (standingRes ++ admits).mkString(", ")
    val survivorsSql =
      if (!dedup) ""
      else {
        val verdicts = SimilarityQueries.duckSemanticIngestOver(
          s"(vec_id % $mod) IN ($standingIn)",
          s"vec_id % $mod = $dedupRes", thr, kDedup, np)
        s"""
           OR (vec_id % $mod = $dedupRes AND vec_id IN (
             SELECT vec_id FROM ($verdicts) dv WHERE NOT is_dup))"""
      }
    val corpusSql =
      s"""SELECT vec_id, embedding FROM embeddings
          WHERE (vec_id % $mod) IN ($corpusResIn)$survivorsSql"""
    val sql = SimilarityQueries.duckFullIvfPqProbeOver(
      corpusSql, qid, k, 8, m2, ks2)
    FuzzQuery(name, (s, dir) => {
      val emb = read(s, dir, "embeddings")
      val standing = emb.filter(
        (col("vec_id") % mod).isin(standingRes.map(Int.box): _*))
      val root = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft_fuzz_retrain_$name")
      org.apache.commons.io.FileUtils.deleteQuietly(root)
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(root.getParentFile, root.getName + ".lock"))
      graft.sources.AnnIndex.initIngest(standing, root.getPath)
      if (dedup)
        graft.sources.AnnIndex.ingest(root.getPath,
          emb.filter(col("vec_id") % mod === dedupRes), kDedup, thr,
          nprobe = np)
      admits.zipWithIndex.foreach { case (res, i) =>
        graft.sources.AnnIndex.ingest(root.getPath,
          emb.filter(col("vec_id") % mod === res),
          thresholdE9 = 1000000001L, batchId = Some(i + 1L))
      }
      val idx = graft.sources.AnnIndex.retrain(s, root.getPath,
        m = m2, ksub = ks2)
      val corpus = graft.sources.AnnIndex.vectorsOf(s, root.getPath)
      val nl = Similarity.autoNlist(corpus.count())
      Similarity.ivfPqTopK(corpus, qid, k, nlist = nl, m = m2, ksub = ks2,
        centroids = Some(idx.centroids), codebooks = Some(idx.codebooks),
        index = Some(idx.index))
    }, sql, "retrain_lifecycle")
  }

  /** T38: randomized semantic-ingest differential — the self-maintaining
    * ANN index's admission kernel under a random standing/batch split,
    * duplicate threshold, k, and probe width. The Spark side runs the
    * REAL stateful lifecycle (fresh ingest root, initIngest on the
    * standing residue, one ingest step — persisted verdicts, distributed
    * survivor anti-join and appends), so a divergence between the
    * stateful path and the stateless kernel surfaces here too; the
    * oracle replays the from-scratch training + per-member probe +
    * threshold in SQL (the SAME parameterized text the registry row
    * dedup_semantic_ingest pins at 10/3/4e8/5/derived, so the fuzz
    * family and the fixed row can never drift apart). nprobe coin-flips
    * between the derived 3/8-of-nlist formula and an explicit override
    * (the recall/cost serving knob a deployment actually turns). */
  private def genSemanticIngest(r: Random, name: String): FuzzQuery = {
    val mod = pick(r, Seq(7, 9, 11, 13))
    val res = r.nextInt(mod)
    val thr = pick(r, Seq(250000000L, 400000000L, 550000000L, 700000000L))
    val k = 1 + r.nextInt(6)
    val np = if (r.nextBoolean()) 0 else 6 + r.nextInt(10)
    val sql = graft.ext.SimilarityQueries.duckSemanticIngest(
      mod, res, thr, k, np)
    FuzzQuery(name, (s, dir) => {
      val emb = read(s, dir, "embeddings")
      val standing = emb.filter(col("vec_id") % mod =!= res)
      val batch = emb.filter(col("vec_id") % mod === res)
      val root = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft_fuzz_ingest_$name")
      org.apache.commons.io.FileUtils.deleteQuietly(root)
      graft.sources.AnnIndex.initIngest(standing, root.getPath)
      graft.sources.AnnIndex.ingest(root.getPath, batch, k, thr, nprobe = np)
    }, sql, "semantic_ingest")
  }

  // ---- corpus --------------------------------------------------------------

  /** The deterministic corpus for (seed, n): same seed → same queries,
    * byte-for-byte (FuzzSpec pins seed 42 against the committed file). */
  def corpus(seed: Long, n: Int): Seq[FuzzQuery] = {
    val r = new Random(seed)
    (0 until n).map { i =>
      val name = f"fz${seed}%03d_$i%03d"
      r.nextInt(39) match {
        case 0 => genScan(r, name)
        case 1 => genJoin(r, name)
        case 2 => genAgg(r, name, joined = false)
        case 3 => genAgg(r, name, joined = true)
        case 4 => genWindow(r, name)
        case 5 => genSetOp(r, name)
        case 6 => genDistinct(r, name)
        case 7 => genSemiAnti(r, name)
        case 8 => genFullJoin(r, name)
        case 9 => genJoin3(r, name)
        case 10 => genCaseStr(r, name)
        case 11 => genSession(r, name)
        case 12 => genHopping(r, name)
        case 13 => genRollup(r, name)
        case 14 => genAsof(r, name)
        case 15 => genScalarSub(r, name)
        case 16 => genLateral(r, name)
        case 17 => genInSub(r, name)
        case 18 => genFilterAgg(r, name)
        case 19 => genTimeBucket(r, name)
        case 20 => genExistsProj(r, name)
        case 21 => genRecSpine(r, name)
        case 22 => genCteReuse(r, name)
        case 23 => genArrayLane(r, name)
        case 24 => genSpGemm(r, name)
        case 25 => genGraphIter(r, name)
        case 26 => genHybridSkew(r, name)
        case 27 => genSketchState(r, name)
        case 28 => genSketchBound(r, name)
        case 29 => genOuterInterval(r, name)
        case 30 => genClusters(r, name)
        case 31 => genCdcExtremum(r, name)
        case 32 => genIntervalFamily(r, name)
        case 33 => genChangeset(r, name)
        case 34 => genProfile(r, name)
        case 35 => genCalendarRollup(r, name)
        case 36 => genDoubleCorr(r, name)
        case 37 => genSemanticIngest(r, name)
        case _ => genRetrainLifecycle(r, name)
      }
    }
  }

  /** JSON rendering shared by the dump and the committed corpus file
    * (same escaping as Verify's oracle_sql.json writer). */
  def corpusJson(qs: Seq[FuzzQuery]): String = {
    def esc(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    qs.map(q => s"${esc(q.name)}: ${esc(q.sql)}").mkString("{", ",\n", "}")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val outDir = if (args.length > 1) args(1) else "/tmp/fuzz_out"
    val seed = if (args.length > 2) args(2).toLong else 42L
    val n = if (args.length > 3) args(3).toInt else 120
    val spark = Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val qs = corpus(seed, n)
    var failed = 0
    qs.foreach { q =>
      try q.df(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${q.name}")
      catch { case e: Throwable =>
        failed += 1
        System.err.println(s"[fuzz] ${q.name} failed: ${e.getMessage}")
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), corpusJson(qs))
    println(s"[fuzz] wrote ${qs.size - failed}/${qs.size} results " +
      s"(seed=$seed) to $outDir; now run scripts/check.py")
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}
