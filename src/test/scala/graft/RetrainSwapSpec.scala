package graft

import graft.Tables.t
import graft.sources.AnnIndex
import org.apache.spark.sql.functions._

/** Retrain's commit protocol, adversarially (r14 advice, medium): the
  * old swap was delete-then-rename per dir with `vectors` last and
  * `meta` already swapped — a crash in between left a FRESH fingerprint
  * over a root with NO vector base, and the next initIngest silently
  * re-seeded from `emb`, losing every folded batch. The r15 protocol is
  * an aside-swap (`<d>.old` → rename-in → drop aside) under an in-root
  * marker, `vectors` first and `meta` last. This spec kills `retrain`
  * at EVERY boundary (via `AnnIndex.retrainCrashHook`) and asserts, per
  * crash point:
  *
  *   1. NO DATA LOSS, EVER: the corpus of record is recoverable — a
  *      replayed `retrain` converges to the never-crashed state (same
  *      corpus rows, same index size, same probe rows).
  *   2. READS NEVER LIE: between the crash and the replay, a probe
  *      either serves the intact old epoch (pre-marker crashes) or
  *      fails LOUDLY on the swap marker (mid-swap crashes) — it never
  *      mixes epochs silently.
  *   3. NO SILENT RE-SEED: `initIngest` on the crashed root never takes
  *      the fresh-init path (which would re-seed from `emb` and lose
  *      admitted batches).
  */
class RetrainSwapSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private def emb = t(spark, dir, "embeddings")
  private def standing = emb.filter(col("vec_id") % 10 =!= 3)
  private def batch = emb.filter(col("vec_id") % 10 === 3)
    .select(col("vec_id"), col("embedding"))

  // every root and its `.lock`/`.retrain.tmp`/`.old.rebuild` siblings
  // live in one directory of this JVM's own, so two test JVMs on one
  // host never delete each other's roots
  private val base = java.nio.file.Files.createTempDirectory("graft_swap").toFile

  override def afterAll(): Unit =
    try org.apache.commons.io.FileUtils.deleteQuietly(base)
    finally super.afterAll()

  private def freshRoot(name: String): java.io.File = new java.io.File(base, name)

  private def grow(root: String): Unit = {
    AnnIndex.initIngest(standing, root)
    AnnIndex.ingest(root, batch, batchId = Some(1L)).count()
  }

  /** Never-crashed reference: corpus ids, index size, and a probe. */
  private lazy val reference: (Seq[Long], Long, Seq[Seq[Any]]) = {
    val root = freshRoot("graft_swapref")
    try {
      grow(root.getPath)
      AnnIndex.retrain(spark, root.getPath)
      val ids = AnnIndex.vectorsOf(spark, root.getPath)
        .select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
      val nIdx = spark.read.parquet(s"$root/index").count()
      val probe = orderedRows(AnnIndex.probeTopK(spark, root.getPath, 0L, k = 10))
      (ids, nIdx, probe)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(root)
  }

  private val preMarker = Seq("staged_base", "staged_index")
  private val midSwap = Seq("swap_marker",
    "swap_vectors_aside", "swap_vectors", "delta_deleted",
    "swap_centroids_aside", "swap_centroids",
    "swap_codebooks_aside", "swap_codebooks",
    "swap_index_aside", "swap_index",
    "swap_meta_aside", "swap_meta")

  for (cp <- preMarker ++ midSwap)
    test(s"crash at '$cp': reads never lie, replay converges, no silent re-seed") {
      val (refIds, refIdx, refProbe) = reference
      val root = freshRoot(s"graft_swap_$cp")
      try {
        grow(root.getPath)
        AnnIndex.retrainCrashHook =
          step => if (step == cp) throw new RuntimeException(s"injected@$cp")
        val boom = intercept[RuntimeException] {
          AnnIndex.retrain(spark, root.getPath)
        }
        assert(boom.getMessage === s"injected@$cp")
        AnnIndex.retrainCrashHook = _ => ()
        assert(!new java.io.File(root.getParentFile, root.getName + ".lock")
          .exists(), "aborted retrain left the writer lease held")
        // (2) reads never lie in the crashed state
        if (preMarker.contains(cp)) {
          // old epoch intact: the probe serves it
          assert(AnnIndex.probeTopK(spark, root.getPath, 0L, k = 10)
            .count() > 0, s"pre-marker crash at $cp broke the old epoch")
        } else {
          // marker present: every read path refuses loudly
          val e1 = intercept[IllegalArgumentException] {
            AnnIndex.probeTopK(spark, root.getPath, 0L, k = 10)
          }
          assert(e1.getMessage.contains("mid-retrain-swap"), e1.getMessage)
          val e2 = intercept[IllegalArgumentException] {
            AnnIndex.vectorsOf(spark, root.getPath)
          }
          assert(e2.getMessage.contains("mid-retrain-swap"), e2.getMessage)
        }
        // (3) initIngest on the crashed root must never take the
        // fresh-init path: it either heals+rebuilds (under the lease) or
        // refuses; afterwards the corpus must still be the grown one.
        // (Covered here by the replay convergence below for retrain; the
        // explicit initIngest probe runs on the nastiest window only, to
        // keep the sweep's cost bounded.)
        if (cp == "swap_vectors_aside") {
          AnnIndex.initIngest(standing, root.getPath)
          val ids = AnnIndex.vectorsOf(spark, root.getPath)
            .select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
          assert(ids === refIds,
            s"initIngest after crash at $cp lost admitted batches")
        }
        // (1) replay converges to the never-crashed state
        AnnIndex.retrain(spark, root.getPath)
        val ids = AnnIndex.vectorsOf(spark, root.getPath)
          .select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
        assert(ids === refIds, s"corpus diverged after crash at $cp")
        assert(spark.read.parquet(s"$root/index").count() === refIdx,
          s"index size diverged after crash at $cp")
        assert(orderedRows(AnnIndex.probeTopK(spark, root.getPath, 0L, k = 10))
          === refProbe, s"probe diverged after crash at $cp")
        assert(!new java.io.File(root, "_GRAFT_SWAP").exists(),
          "replayed retrain left the swap marker")
        assert(!new java.io.File(root.getParentFile,
          root.getName + ".retrain.tmp").exists(),
          "replayed retrain orphaned the staging dir")
      } finally {
        AnnIndex.retrainCrashHook = _ => ()
        org.apache.commons.io.FileUtils.deleteQuietly(root)
        for (sfx <- Seq(".lock", ".retrain.tmp", ".old.rebuild"))
          org.apache.commons.io.FileUtils.deleteQuietly(
            new java.io.File(root.getParentFile, root.getName + sfx))
      }
    }
}
