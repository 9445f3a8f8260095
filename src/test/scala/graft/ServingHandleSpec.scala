package graft

import graft.Tables.t
import graft.sources.AnnIndex
import org.apache.spark.sql.functions._

/** The cached open-root serving handle (r14 verdict item 3):
  * `AnnIndex.open(root)` snapshots the epoch-constant artifacts once and
  * revalidates per probe against the on-root staleness token
  * (`meta/FINGERPRINT` — moves on retrain/rebuild; `meta/INGEST_SEQ` —
  * moves on every ingest step). The contract: a handle's probe is
  * ALWAYS row-identical to a fresh per-call `probeTopK`, across every
  * mutation class — ingest appends, epoch retrain, retrain under a
  * CHANGED bucket count (new catalog identifier), and a retrain with
  * changed PQ geometry. */
class ServingHandleSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private def emb = t(spark, dir, "embeddings")

  // every root and its `.lock`/`.retrain.tmp`/`.old.rebuild` siblings
  // live in one directory of this JVM's own, so two test JVMs on one
  // host never delete each other's roots
  private val base = java.nio.file.Files.createTempDirectory("graft_handle").toFile

  override def afterAll(): Unit =
    try org.apache.commons.io.FileUtils.deleteQuietly(base)
    finally super.afterAll()

  private def freshRoot(name: String): java.io.File = new java.io.File(base, name)

  test("handle probes match the per-call probe across ingest, retrain, and a changed bucket count") {
    val root = freshRoot("graft_servinghandle")
    try {
      AnnIndex.initIngest(emb.filter(col("vec_id") % 10 =!= 3), root.getPath)
      val handle = AnnIndex.open(spark, root.getPath)
      // epoch 0: straight parity
      assert(orderedRows(handle.probeTopK(0L, k = 10)) ===
        orderedRows(AnnIndex.probeTopK(spark, root.getPath, 0L, k = 10)))
      // ingest append: INGEST_SEQ moves; the handle must see the delta
      // and the appended index rows (a stale cached frame would miss the
      // admitted vectors entirely)
      AnnIndex.ingest(root.getPath, emb.filter(col("vec_id") % 10 === 3),
        thresholdE9 = 1000000001L, batchId = Some(1L)).count()
      val afterIngest = orderedRows(handle.probeTopK(0L, k = 10))
      assert(afterIngest ===
        orderedRows(AnnIndex.probeTopK(spark, root.getPath, 0L, k = 10)))
      // the admitted residue is visible through the handle (vec_id%10==3
      // rows can now appear in the top-k; at minimum the query answers)
      assert(afterIngest.nonEmpty)
      // epoch retrain: FINGERPRINT moves; quantizers and base files are
      // new under the same table identifier
      AnnIndex.retrain(spark, root.getPath)
      assert(orderedRows(handle.probeTopK(0L, k = 10)) ===
        orderedRows(AnnIndex.probeTopK(spark, root.getPath, 0L, k = 10)))
      // retrain under a CHANGED bucket count: the catalog identifier
      // itself changes (bucket spec is pinned at CREATE time); the
      // handle must re-resolve, not serve through the stale entry
      AnnIndex.retrain(spark, root.getPath, vecBuckets = 8)
      val afterRebucket = handle.probeTopK(0L, k = 5, refine = 2)
      afterRebucket.queryExecution.toRdd.count()
      val p = afterRebucket.queryExecution.executedPlan.toString
        .split("== Initial Plan ==", 2)(0)
      val sel = """SelectedBucketsCount: (\d+) out of (\d+)""".r
        .findFirstMatchIn(p)
      assert(sel.isDefined, "handle lost bucket pruning after rebucket:\n" + p)
      assert(sel.get.group(2).toInt === 8,
        s"handle fetches through the stale bucket spec: ${sel.get.group(2)}")
      assert(orderedRows(afterRebucket) ===
        orderedRows(AnnIndex.probeTopK(spark, root.getPath, 0L, k = 5,
          refine = 2)))
      // changed PQ geometry through retrain: still parity
      AnnIndex.retrain(spark, root.getPath, m = 8, ksub = 16)
      assert(orderedRows(handle.probeTopK(0L, k = 10, m = 8, ksub = 16)) ===
        orderedRows(AnnIndex.probeTopK(spark, root.getPath, 0L, k = 10,
          m = 8, ksub = 16)))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(root)
  }

  test("an unchanged root is served from the cached epoch; each token move reloads exactly once") {
    // the point of the handle: repeated probes on a quiet root must not
    // re-open the epoch artifacts (the per-call form pays three parquet
    // opens + an nl count job per probe). Pinned via the handle's load
    // counter: open = 1 load; N quiet probes = still 1; one ingest = 2
    // (INGEST_SEQ moved); more quiet probes = still 2; one retrain = 3
    // (FINGERPRINT moved).
    val root = freshRoot("graft_servinghandle_cached")
    try {
      AnnIndex.initIngest(emb.filter(col("vec_id") % 10 =!= 3), root.getPath)
      val handle = AnnIndex.open(spark, root.getPath)
      assert(handle.loads === 1)
      val first = orderedRows(handle.probeTopK(0L, k = 10))
      handle.probeTopK(5L, k = 3).count()
      handle.probeTopK(8L, k = 7).count()
      assert(handle.loads === 1,
        s"quiet-root probes reloaded the epoch ${handle.loads - 1} times")
      assert(orderedRows(handle.probeTopK(0L, k = 10)) === first)
      AnnIndex.ingest(root.getPath, emb.filter(col("vec_id") % 10 === 3),
        thresholdE9 = 1000000001L, batchId = Some(1L)).count()
      handle.probeTopK(0L, k = 10).count()
      assert(handle.loads === 2, "ingest did not invalidate the handle once")
      handle.probeTopK(3L, k = 4).count()
      assert(handle.loads === 2)
      AnnIndex.retrain(spark, root.getPath)
      handle.probeTopK(0L, k = 10).count()
      assert(handle.loads === 3, "retrain did not invalidate the handle once")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(root)
  }
}
