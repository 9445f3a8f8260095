package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-loop checkpoint manager for the iterative operators (PageRank,
  * label-propagation cluster collapse). Both loops need every round's
  * table materialized — otherwise K iterations embed K copies of the
  * upstream derivation in one plan and wall time becomes planner-weather
  * (root-caused in PERF.md §gr1-stabilization) — but the two reliability
  * tiers manage that state very differently:
  *
  *   - `reliable = false` (default; local mode / short jobs):
  *     `localCheckpoint` — executor-memory blocks, fastest, evicted with
  *     the executors; an executor loss mid-loop fails the job.
  *   - `reliable = true` (multi-executor clusters): each round is written
  *     to parquet under a managed loop directory and read back —
  *     durable-storage lineage truncation, so a lost executor recomputes
  *     from the last round instead of dying.
  *
  * The reliable tier fixes two lifecycle leaks the naive
  * `SparkContext.checkpoint` form had (round-12 advice): (1) it never
  * calls `setCheckpointDir`, so a caller-configured checkpoint location
  * is respected as the loop-dir PARENT rather than clobbered (and when
  * none is set, a process-local temp dir is the documented single-JVM
  * fallback); (2) on-disk state is O(1) in the round count, not O(K) —
  * a round write completing proves everything that round derived from is
  * fully materialized in the new file, so every earlier round file is
  * superseded and deleted immediately. `pin` checkpoints loop-invariant
  * inputs (edge lists, degree tables) that every round re-reads; pins
  * live for the whole loop. The final round's file must outlive the
  * returned lazy frame (callers compose orderBy/joins on it), so the
  * loop directory is NOT removed when the loop body ends: a caller that
  * has fully consumed the final frame calls [[close]] (deletes the dir
  * and deregisters), and anything still open at process exit is swept by
  * ONE JVM-wide shutdown hook over a static registry — the per-instance
  * hook the round-13 advice flagged accumulated O(#loops) hook threads
  * (and their dirs) in a long-lived session even after loops finished.
  * Unclosed loops still hold pins + final round until exit by design
  * (the lazy-frame contract); within a loop, disk stays O(1) in K.
  */
private[graft] final class LoopCkpt(s: SparkSession, reliable: Boolean) {
  private val root: Option[Path] =
    if (!reliable) None
    else {
      val base = s.sparkContext.getCheckpointDir.getOrElse(
        java.nio.file.Files.createTempDirectory("graft-ckpt").toString)
      Some(new Path(base,
        "graft-loop-" + java.util.UUID.randomUUID().toString.take(12)))
    }
  private val fs = root.map(_.getFileSystem(s.sparkContext.hadoopConfiguration))
  root.foreach(r => LoopCkpt.register(r, fs.get))

  /** Delete this loop's directory now and drop it from the exit sweep.
    * Call ONLY once the final round's frame has been fully consumed —
    * the frame reads the directory lazily. Idempotent. */
  def close(): Unit = root.foreach(LoopCkpt.closeNow)
  private var seq = 0
  // at most ONE live (non-pinned) round file exists at any moment
  private var liveRound: Option[Path] = None

  /** Checkpoint a loop-invariant input; kept for the loop's lifetime. */
  def pin(df: DataFrame): DataFrame = ckpt(df, pinned = true)

  /** Checkpoint a round table; deletes the superseded previous round. */
  def round(df: DataFrame): DataFrame = ckpt(df, pinned = false)

  private[graft] def rootPath: Option[String] = root.map(_.toString)

  private def ckpt(df: DataFrame, pinned: Boolean): DataFrame =
    root match {
      // eager = false (r15): the local tier's plan truncation is the
      // LogicalRDD wrapper, created either way — eager only adds a
      // forcing count() job per round. Under AQE the round's shuffle
      // stages still materialize at .toRdd time; the final map stage
      // defers to the round's first consumer (the loop's convergence
      // count, or the next round's join), which every loop issues
      // immediately — so nothing is ever recomputed, one scheduler
      // round-trip per round is saved, and fault-tolerance is unchanged
      // (executor-local blocks either way).
      case None => df.localCheckpoint(eager = false)
      case Some(r) =>
        seq += 1
        val p = new Path(r, f"$seq%04d")
        df.write.parquet(p.toString)
        if (!pinned) {
          liveRound.foreach(old =>
            try { fs.get.delete(old, true); () } catch { case _: Throwable => () })
          liveRound = Some(p)
        }
        df.sparkSession.read.parquet(p.toString)
    }
}

private[graft] object LoopCkpt {
  // live loop dirs awaiting close() — swept by the single exit hook
  private val live =
    java.util.concurrent.ConcurrentHashMap.newKeySet[(Path,
      org.apache.hadoop.fs.FileSystem)]()
  private lazy val hookInstalled: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      live.forEach { case (r, f) =>
        try { f.delete(r, true); () } catch { case _: Throwable => () }
      }))

  private def register(r: Path, f: org.apache.hadoop.fs.FileSystem): Unit = {
    hookInstalled
    live.add((r, f)); ()
  }

  private def closeNow(r: Path): Unit = {
    val it = live.iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e._1 == r) {
        try { e._2.delete(r, true); () } catch { case _: Throwable => () }
        it.remove()
      }
    }
  }

  /** Exit-sweep registry size, exposed for the lifecycle spec. */
  private[graft] def liveCount: Int = live.size()
}
