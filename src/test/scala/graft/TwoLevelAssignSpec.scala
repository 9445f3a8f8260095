package graft

import graft.Tables.t
import graft.ext.Similarity
import org.apache.spark.sql.functions._

/** Two-level (coarse-pruned) IVF assignment — the large-nlist epoch-build
  * knob (r13 verdict item 7). Contract pinned here:
  *   - probeGroups >= g degrades EXACTLY to the flat argmax (row for row);
  *   - pruned probes agree with the exact assignment on a large fraction
  *     of vectors (the two-level approximation trade, floor pinned);
  *   - the native expression stays in whole-stage codegen (the whole
  *     point over a HOF top-c);
  *   - the group table partitions the centroid set exactly.
  * The measured cost curve (exact vs pruned multiplies at growing nlist)
  * lives in PERF.md §assignment-budget. */
class TwoLevelAssignSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private def emb = t(spark, dir, "embeddings")

  private def assignPairs(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
    df.select(col("vec_id"), col("centroid_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSeq.sortBy(_._1)

  test("probeGroups >= g is EXACTLY the flat assignment, row for row") {
    val cents = Similarity.ivfTrainedCentroids(emb, 32)
    val exact = assignPairs(Similarity.ivfTrainedAssign(emb, cents))
    val full = assignPairs(Similarity.ivfTrainedAssignPruned(emb, cents,
      groups = 6, probeGroups = 6))
    assert(full === exact,
      "two-level with all groups probed must equal the flat argmax")
  }

  test("pruned probes agree with the exact assignment on most vectors") {
    val cents = Similarity.ivfTrainedCentroids(emb, 32)
    val exact = assignPairs(Similarity.ivfTrainedAssign(emb, cents)).toMap
    val pruned = assignPairs(Similarity.ivfTrainedAssignPruned(emb, cents,
      groups = 6, probeGroups = 3))
    assert(pruned.size === exact.size, "pruned path dropped vectors")
    val agree = pruned.count { case (v, c) => exact(v) == c }
    val frac = agree.toDouble / pruned.size
    assert(frac >= 0.85,
      f"two-level agreement $frac%.3f below floor 0.85 (probe 3 of 6 groups)")
    // and the disagreements still land in REAL lists
    val lists = cents.select(col("centroid_id")).collect()
      .map(_.getLong(0)).toSet
    assert(pruned.forall { case (_, c) => lists(c) },
      "pruned assignment produced a non-existent list id")
  }

  test("group table partitions the centroid set exactly") {
    val cents = Similarity.ivfTrainedCentroids(emb, 32)
    val groups = Similarity.ivfSuperGroups(cents, 6)
    val members = groups.select(explode(col("members")).as("m"))
      .select(col("m.id")).collect().map(_.getLong(0)).toSeq
    val centIds = cents.select(col("centroid_id")).collect()
      .map(_.getLong(0)).toSeq
    assert(members.sorted === centIds.sorted,
      "groups lost or duplicated centroids")
    assert(groups.count() <= 6)
  }

  test("two-level argmax stays in whole-stage codegen") {
    val cents = Similarity.ivfTrainedCentroids(emb, 32)
    val df = Similarity.ivfTrainedAssignPruned(emb, cents,
      groups = 6, probeGroups = 3)
    df.queryExecution.toRdd.count()
    val plan = df.queryExecution.executedPlan.toString
    val lines = plan.linesIterator
      .filter(_.contains("vec_argmax_two_level_i64")).toSeq
    assert(lines.nonEmpty, "expression not found in plan:\n" + plan)
    assert(lines.exists(_.contains("*(")),
      "two-level argmax fell out of codegen:\n" + plan)
  }
}
