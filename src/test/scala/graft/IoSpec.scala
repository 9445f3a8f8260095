package graft

import graft.pipeline.{Control, Lottery}
import graft.sources.Upsert
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Sink inventory (SURVEY §2.2): CSV writer (K1), parquet append (K2),
  * anti-join upsert (K3 — UpsertSpec in LotteryPipelineSpec), run-log
  * append + gate (K5/S7), partitioned fact layout (§4.2 scale posture),
  * and the S6 config scan.
  */
class IoSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("K1: CSV write round-trips with header and proper quoting") {
    import spark.implicits._
    val out = tmp("csv") + "/out"
    val df = Seq(("Giải Bảy", "09", "a,b comma"), ("Giải Nhất", "12345", "plain"))
      .toDF("prize", "number_value", "note")
    df.write.option("header", "true").csv(out)
    val back = spark.read.option("header", "true").csv(out)
    assert(rows(back) === rows(df))  // quoting survives the comma
  }

  test("K2: parquet append accumulates batches") {
    import spark.implicits._
    val out = tmp("pq") + "/t"
    Seq((1, "a")).toDF("k", "v").write.mode("append").parquet(out)
    Seq((2, "b")).toDF("k", "v").write.mode("append").parquet(out)
    assert(spark.read.parquet(out).count() === 2)
  }

  test("K2+evolution: schema drift across appends — mergeSchema unions, plain read keeps footer schema") {
    import spark.implicits._
    val out = tmp("evo") + "/t"
    // v1 batch, then the pipeline evolves and v2 adds a column — the
    // ordinary life of a long-lived warehouse directory
    Seq((1L, "a")).toDF("k", "v").write.mode("append").parquet(out)
    Seq((2L, "b", 0.5)).toDF("k", "v", "score").write.mode("append").parquet(out)
    // mergeSchema=true: union schema, v1 rows read score as null
    val merged = spark.read.option("mergeSchema", "true").parquet(out)
    assert(merged.columns.sorted.toSeq === Seq("k", "score", "v"))
    assert(merged.filter($"score".isNull).select($"k").as[Long].collect().toSeq === Seq(1L))
    assert(merged.count() === 2)
    // explicit schema pin: old readers keep working against the v1 contract
    val pinned = spark.read.schema("k BIGINT, v STRING").parquet(out)
    assert(pinned.columns.toSeq === Seq("k", "v") && pinned.count() === 2)
  }

  test("K2+scale: fact written partitionBy(year) prunes partitions on read") {
    val out = tmp("fact") + "/fact"
    val dir = "/root/testdata/sf0.001"
    Tables.t(spark, dir, "orders")
      .withColumn("year_value", year(col("o_orderdate")))
      .write.partitionBy("year_value").parquet(out)
    val one = spark.read.parquet(out).filter(col("year_value") === 1996)
    val plan = one.queryExecution.executedPlan.toString
    // partition pruning: the scan must carry the partition filter
    assert(plan.contains("PartitionFilters: [isnotnull(year_value"), plan)
    assert(one.count() > 0)
  }

  test("K2 alt format: ORC round-trip with predicate pushdown") {
    val out = tmp("orc") + "/t"
    val dir = "/root/testdata/sf0.001"
    Tables.t(spark, dir, "orders").write.orc(out)
    val back = spark.read.orc(out).filter(col("o_orderkey") === 1L)
    // ORC scans take pushed filters like parquet ones do
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(o_orderkey), EqualTo(o_orderkey,1)"), plan)
    assert(rows(back) === rows(
      Tables.t(spark, dir, "orders").filter(col("o_orderkey") === 1L)))
  }

  test("K2 alt format: JSON-lines round-trip with explicit schema (no inference scan)") {
    val out = tmp("jsonl") + "/t"
    val dir = "/root/testdata/sf0.001"
    val src = Tables.t(spark, dir, "orders")
    src.write.json(out)
    // schema passed explicitly: at 100 TB a schema-inference pre-scan of
    // the whole input is a second full read — never rely on it
    val back = spark.read.schema(src.schema).json(out)
    assert(rows(back) === rows(src))
    assert(back.schema === src.schema)
  }

  test("S2 hardening: PERMISSIVE CSV read quarantines malformed rows instead of failing") {
    import org.apache.spark.sql.types._
    val dir = tmp("csv_bad")
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "batch.csv"),
      ("id,amount,day\n" +
       "1,10.5,2025-01-01\n" +
       "2,not_a_number,2025-01-02\n" +  // bad cast
       "3,30.25,2025-01-03\n").getBytes("UTF-8"))
    val schema = StructType(Seq(
      StructField("id", IntegerType), StructField("amount", DoubleType),
      StructField("day", DateType), StructField("_corrupt", StringType)))
    val df = spark.read.schema(schema)
      .option("header", "true").option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .csv(dir).cache()
    try {
      val good = df.filter(col("_corrupt").isNull)
      val bad = df.filter(col("_corrupt").isNotNull)
      assert(good.count() === 2)
      assert(bad.count() === 1)
      // the quarantined row keeps its raw bytes for replay/debugging
      assert(bad.select("_corrupt").collect()(0).getString(0)
        .contains("not_a_number"))
    } finally df.unpersist()
  }

  test("compaction: many tiny files rewrite to few clustered files with disjoint key ranges") {
    import graft.sources.Compact
    val dir = "/root/testdata/sf0.001"
    val fragmented = tmp("frag") + "/t"
    val compacted = tmp("compacted") + "/t"
    // simulate a micro-batch ingest: 64 tiny files
    Tables.t(spark, dir, "orders").repartition(64).write.parquet(fragmented)
    def parquetFiles(p: String) = new java.io.File(p).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).map(_.getPath).sorted
    assert(parquetFiles(fragmented).length === 64)

    val back = Compact.compact(spark, fragmented, compacted, 4, Seq("o_orderkey"))
    val files = parquetFiles(compacted)
    assert(files.length === 4)
    // same data
    assert(rows(back.orderBy("o_orderkey")) ===
      rows(Tables.t(spark, dir, "orders").orderBy("o_orderkey")))
    // disjoint key ranges per file → parquet footer min/max can skip
    // whole files for point/range reads
    val ranges = files.map { f =>
      val r = spark.read.parquet(f)
        .agg(min(col("o_orderkey")), max(col("o_orderkey"))).collect()(0)
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) => assert(hi1 < lo2, s"overlapping file ranges: $ranges")
      case _ =>
    }
  }

  test("dynamic partition overwrite: backfilling one partition leaves the others untouched") {
    val out = tmp("dpo") + "/t"
    val dir = "/root/testdata/sf0.001"
    val orders = Tables.t(spark, dir, "orders")
      .withColumn("yr", year(col("o_orderdate")))
    orders.write.partitionBy("yr").parquet(out)
    val before = spark.read.parquet(out)
      .groupBy("yr").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap

    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      // backfill ONLY 1997 with half its rows (simulating a corrected load)
      orders.filter(col("yr") === 1997 && col("o_orderkey") % 2 === 0)
        .write.mode("overwrite").partitionBy("yr").parquet(out)
      val after = spark.read.parquet(out)
        .groupBy("yr").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      assert(after(1997) < before(1997))                    // 1997 replaced
      assert((after - 1997) === (before - 1997))            // everything else intact
    } finally prev match {
      case Some(p) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", p)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
  }

  test("z-order compaction: per-file bounding boxes shrink on BOTH keys vs single-key clustering") {
    import graft.sources.Compact
    val dir = "/root/testdata/sf0.001"
    val src = tmp("zsrc") + "/t"
    val zDir = tmp("zout") + "/t"
    Tables.t(spark, dir, "orders").write.parquet(src)
    // 64 files so the morton range splits cut ≥3 interleaved bits of EACH
    // key (few files only split the top — i.e. one — dimension's bits)
    val back = Compact.zorder(spark, src, zDir, 64, "o_custkey", "o_orderkey")
    assert(rows(back.orderBy("o_orderkey")) ===
      rows(Tables.t(spark, dir, "orders").orderBy("o_orderkey")))

    // per-file spans: each file must cover well under the full domain of
    // EACH key (single-key range clustering leaves the other key's span
    // at ~100%)
    val files = new java.io.File(zDir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getPath)
    assert(files.length === 64)
    val domain = Tables.t(spark, dir, "orders")
      .agg(max(col("o_custkey")) - min(col("o_custkey")),
           max(col("o_orderkey")) - min(col("o_orderkey"))).collect()(0)
    val (domC, domO) = (domain.getLong(0).toDouble, domain.getLong(1).toDouble)
    val spans = files.map { f =>
      val r = spark.read.parquet(f)
        .agg(max(col("o_custkey")) - min(col("o_custkey")),
             max(col("o_orderkey")) - min(col("o_orderkey"))).collect()(0)
      (r.getLong(0) / domC, r.getLong(1) / domO)
    }
    val (avgC, avgO) = (spans.map(_._1).sum / spans.length,
      spans.map(_._2).sum / spans.length)
    assert(avgC < 0.7 && avgO < 0.7,
      s"z-order did not shrink both dims: custkey=$avgC orderkey=$avgO")
  }

  test("cache layer: dependent queries read the cached dim from memory, results unchanged") {
    val dir = "/root/testdata/sf0.001"
    val dim = Tables.t(spark, dir, "nation")
    val expected = rows(dim.groupBy(col("n_regionkey")).count().orderBy("n_regionkey"))
    val cached = dim.cache()
    try {
      cached.count() // materialize
      val q = cached.groupBy(col("n_regionkey")).count().orderBy("n_regionkey")
      assert(rows(q) === expected)
      assert(q.queryExecution.executedPlan.toString.contains("InMemoryTableScan"),
        q.queryExecution.executedPlan.toString)
    } finally cached.unpersist()
  }

  test("catalog: saveAsTable registers an external table queryable by name via SQL") {
    val path = tmp("cat") + "/nation_ext"
    val dir = "/root/testdata/sf0.001"
    Tables.t(spark, dir, "nation").write.option("path", path)
      .saveAsTable("nation_ext")
    try {
      assert(spark.catalog.tableExists("nation_ext"))
      val viaSql = spark.sql(
        "SELECT n_regionkey, COUNT(*) AS n FROM nation_ext GROUP BY 1 ORDER BY 1")
      assert(rows(viaSql) === rows(
        Tables.t(spark, dir, "nation").groupBy(col("n_regionkey"))
          .agg(count(lit(1)).as("n")).orderBy("n_regionkey")))
    } finally spark.sql("DROP TABLE IF EXISTS nation_ext")
  }

  test("K5+S7: run-log append and stage-dependency gate") {
    val logDir = tmp("log") + "/process_log"
    // generated-key analog: RUNNING allocates the id, the terminal row
    // passes it back — the reference's INSERT→readback→UPDATE correlation
    val p2 = Control.logStatus(spark, logDir, "P2", "RUNNING", "start", sourceId = 2)
    Control.logStatus(spark, logDir, "P2", "SUCCESS", "loaded 12 rows",
      sourceId = 2, processId = p2)
    val p3 = Control.logStatus(spark, logDir, "P3", "RUNNING", "start", sourceId = 3)
    Control.logStatus(spark, logDir, "P3", "FAIL", "boom", sourceId = 3, processId = p3)
    assert(Control.lastStatusIsSuccess(spark, logDir, "P2"))
    assert(!Control.lastStatusIsSuccess(spark, logDir, "P3"))
    assert(!Control.lastStatusIsSuccess(spark, logDir, "P4")) // never ran
    // reference schema parity (SURVEY §1.3): process_id/source_id present,
    // ids distinct per run and shared across a run's RUNNING/terminal pair
    val log = spark.read.schema(Control.processLogSchema).parquet(logDir)
    assert(log.columns.take(2).toSeq === Seq("process_id", "source_id"))
    assert(p2 !== p3)
    val p2rows = log.filter(col("process_id") === p2).collect()
    assert(p2rows.length === 2 &&
      p2rows.forall(_.getAs[Int]("source_id") === 2))
  }

  test("K5: concurrent orchestrators on one log never share a process_id") {
    val logDir = tmp("log") + "/process_log"
    val ids = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val go = new java.util.concurrent.CountDownLatch(1)
    val threads = (1 to 8).map { i =>
      new Thread(() => {
        go.await()
        ids.add(Control.logStatus(spark, logDir, s"P$i", "RUNNING", "start"))
      })
    }
    threads.foreach(_.start())
    go.countDown()
    threads.foreach(_.join())
    assert(ids.size === 8, "a logStatus call failed")
    assert(ids.toArray.distinct.length === 8, s"ids collided: $ids")
    // every row landed under its own id, and no id claim is left behind
    val log = spark.read.schema(Control.processLogSchema).parquet(logDir)
    assert(log.select("process_id").distinct().count() === 8)
    assert(!new java.io.File(logDir).list().exists(_.startsWith("_")))
  }

  test("K5: a logged row reads back unchanged, leaving no temp or checksum file") {
    val logDir = tmp("log") + "/process_log"
    val started = java.sql.Timestamp.valueOf("2025-10-26 19:05:09.123456")
    val id = Control.logStatus(spark, logDir, "P4", "SUCCESS", "loaded batches 7: 1 days, 3 facts",
      started, sourceId = 4)
    val row = spark.read.schema(Control.processLogSchema).parquet(logDir).collect().toSeq
    assert(row.size === 1)
    val r = row.head
    assert((r.getLong(0), r.getInt(1), r.getString(2), r.getString(3), r.getTimestamp(4), r.getString(6)) ===
      ((id, 4, "P4", "SUCCESS", started, "loaded batches 7: 1 days, 3 facts")))
    assert(!r.getTimestamp(5).before(started))
    val names = new java.io.File(logDir).list().toSeq
    assert(names.size === 1 && names.head.endsWith(s"-$id-P4-SUCCESS.parquet"), names)
  }

  test("S6: config scans") {
    import spark.implicits._
    val kv = Seq(("db_host", "x"), ("staging_schema", "stg"))
      .toDF("config_key", "config_value")
    assert(Control.configMap(kv) === Map("db_host" -> "x", "staging_schema" -> "stg"))
    assert(Control.parseKvString("host: a, port: 33, weird") ===
      Map("host" -> "a", "port" -> "33"))
  }

  test("S6 (XML): control.xml connection config reads like the reference") {
    val f = new java.io.File(tmp("xmlcfg"), "control.xml")
    java.nio.file.Files.writeString(f.toPath,
      """<?xml version="1.0"?>
        |<config>
        |  <host>db.example</host>
        |  <port>3306</port>
        |  <database>control</database>
        |  <username>etl</username>
        |  <password>s3cret</password>
        |</config>""".stripMargin)
    assert(Control.readXmlConfig(f.getPath) === Some(Map(
      "host" -> "db.example", "port" -> "3306", "database" -> "control",
      "username" -> "etl", "password" -> "s3cret")))
    // missing file → None (reference returns null, XMLConfigReader.java:17-19)
    assert(Control.readXmlConfig(f.getPath + ".nope") === None)
  }

  test("idempotent re-load through a real sink (A1-A3 contract end-to-end)") {
    val out = tmp("upsert") + "/dim"
    val dimDate = Lottery.run(spark,
      getClass.getResource("/lottery").getPath).dimDate
    dimDate.write.mode("append").parquet(out)
    // second load: only genuinely-new rows appended
    val existing = spark.read.parquet(out)
    Upsert.newRows(existing, dimDate, Seq("date_key"))
      .write.mode("append").parquet(out)
    assert(spark.read.parquet(out).count() === dimDate.count())
  }
}
