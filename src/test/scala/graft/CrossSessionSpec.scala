package graft

import graft.Tables.t
import graft.sources.AnnIndex
import org.apache.spark.sql.functions._

/** Cross-session semantics of the bucketed vector base (r14 verdict item
  * 1): the catalog entry over `root/vectors` is shared state, but each
  * live SparkSession caches its own resolved relation + file listing —
  * the r14 scaladoc promised "another live session refreshes on its
  * side" and nothing tested or enforced it. Since r15,
  * `vectorBaseTable` carries a per-session freshness token (the root
  * fingerprint), so a session that last probed BEFORE another session's
  * retrain refreshes its own cache on the next probe instead of reading
  * deleted files or, worse, wrong rows.
  *
  * Two ISOLATED sessions (SparkSession.newSession: separate session
  * state/catalog caches, shared external catalog — the sharpest
  * same-process approximation of two JVMs; a forked JVM would add
  * nothing here because the staleness under test lives in the
  * per-session relation cache, which a fresh JVM cannot even have):
  *
  *   1. B probes a root A built — parity with A.
  *   2. A retrains (same bucket count: same table identifier, files
  *      replaced underneath) — B's next probe serves the new epoch.
  *   3. A retrains under a CHANGED bucket count (new identifier) — B
  *      re-resolves and still prunes under the new count.
  *   4. B holds an open ServingHandle across A's retrain — the handle
  *      revalidates by token and serves the new epoch.
  *   5. B probes a root A crashed MID-SWAP — fails loudly on the swap
  *      marker, never returns mixed-epoch rows; after A's replayed
  *      retrain heals, B serves correctly again.
  */
class CrossSessionSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private def emb = t(spark, dir, "embeddings")

  // every root and its `.lock`/`.retrain.tmp`/`.old.rebuild` siblings
  // live in one directory of this JVM's own, so two test JVMs on one
  // host never delete each other's roots
  private val base = java.nio.file.Files.createTempDirectory("graft_xsession").toFile

  override def afterAll(): Unit =
    try org.apache.commons.io.FileUtils.deleteQuietly(base)
    finally super.afterAll()

  private def freshRoot(name: String): java.io.File = new java.io.File(base, name)

  test("a second live session probes correctly across another session's retrains (same and changed bucket counts)") {
    val sA = spark
    val sB = spark.newSession()
    val root = freshRoot("graft_crosssession")
    try {
      AnnIndex.initIngest(
        t(sA, dir, "embeddings").filter(col("vec_id") % 10 =!= 3),
        root.getPath)
      AnnIndex.ingest(root.getPath,
        t(sA, dir, "embeddings").filter(col("vec_id") % 10 === 3),
        thresholdE9 = 1000000001L, batchId = Some(1L)).count()
      // (1) B's probe = A's probe (B resolves the shared catalog entry
      // into ITS OWN relation cache here — the state under test)
      val a1 = orderedRows(AnnIndex.probeTopK(sA, root.getPath, 0L, k = 10))
      assert(orderedRows(AnnIndex.probeTopK(sB, root.getPath, 0L, k = 10))
        === a1, "fresh second session diverged")
      // (4-setup) B also opens a long-lived handle before any retrain
      val handleB = AnnIndex.open(sB, root.getPath)
      assert(orderedRows(handleB.probeTopK(0L, k = 10)) === a1)
      // (2) A retrains in place: same identifier, base files REPLACED —
      // B's cached listing is now stale and must self-refresh
      AnnIndex.retrain(sA, root.getPath)
      val a2 = orderedRows(AnnIndex.probeTopK(sA, root.getPath, 0L, k = 10))
      assert(orderedRows(AnnIndex.probeTopK(sB, root.getPath, 0L, k = 10))
        === a2, "second session served a stale epoch after retrain")
      // (4) the handle B opened before the retrain revalidates by token
      assert(orderedRows(handleB.probeTopK(0L, k = 10)) === a2,
        "cross-session ServingHandle served a stale epoch")
      // (3) A retrains under a CHANGED bucket count: new identifier; B
      // must re-resolve and prune under the new count
      AnnIndex.retrain(sA, root.getPath, vecBuckets = 8)
      val b3 = AnnIndex.probeTopK(sB, root.getPath, 0L, k = 5, refine = 2)
      b3.queryExecution.toRdd.count()
      val p = b3.queryExecution.executedPlan.toString
        .split("== Initial Plan ==", 2)(0)
      val sel = """SelectedBucketsCount: (\d+) out of (\d+)""".r
        .findFirstMatchIn(p)
      assert(sel.isDefined, "second session lost pruning after rebucket:\n" + p)
      assert(sel.get.group(2).toInt === 8,
        s"second session fetched through the stale bucket spec: ${sel.get.group(2)}")
      assert(orderedRows(b3) ===
        orderedRows(AnnIndex.probeTopK(sA, root.getPath, 0L, k = 5,
          refine = 2)),
        "second session diverged after the bucket-count change")
      assert(orderedRows(handleB.probeTopK(0L, k = 10)) ===
        orderedRows(AnnIndex.probeTopK(sA, root.getPath, 0L, k = 10)))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(root)
  }

  test("a probe racing a retrain's swap window fails loudly, never serves mixed epochs; the healed root serves again") {
    val sA = spark
    val sB = spark.newSession()
    val root = freshRoot("graft_crosssession_swap")
    try {
      AnnIndex.initIngest(
        t(sA, dir, "embeddings").filter(col("vec_id") % 10 =!= 3),
        root.getPath)
      AnnIndex.ingest(root.getPath,
        t(sA, dir, "embeddings").filter(col("vec_id") % 10 === 3),
        thresholdE9 = 1000000001L, batchId = Some(1L)).count()
      // A's retrain dies mid-swap (old centroids out, new in, index old)
      AnnIndex.retrainCrashHook =
        step => if (step == "swap_centroids") throw new RuntimeException("boom")
      intercept[RuntimeException] { AnnIndex.retrain(sA, root.getPath) }
      AnnIndex.retrainCrashHook = _ => ()
      // B's probe REFUSES the torn root by name — the alternative is a
      // silently degraded candidate stage (new centroids over old lists)
      val e = intercept[IllegalArgumentException] {
        AnnIndex.probeTopK(sB, root.getPath, 0L, k = 10)
      }
      assert(e.getMessage.contains("mid-retrain-swap"), e.getMessage)
      // A replays; B serves the healed root, parity with A
      AnnIndex.retrain(sA, root.getPath)
      assert(orderedRows(AnnIndex.probeTopK(sB, root.getPath, 0L, k = 10))
        === orderedRows(AnnIndex.probeTopK(sA, root.getPath, 0L, k = 10)))
    } finally {
      AnnIndex.retrainCrashHook = _ => ()
      org.apache.commons.io.FileUtils.deleteQuietly(root)
    }
  }
}
