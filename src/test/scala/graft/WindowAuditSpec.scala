package graft

import org.apache.spark.sql.execution.{CollectLimitExec, GlobalLimitExec, SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}

/** Scale-safety census pin: an UNPARTITIONED window
  * (`WindowExec` with empty partitionSpec) moves every input row to ONE
  * task — correct at any sf, a scale-killer at 100 TB if an operator
  * composes real data onto it. This spec walks the physical plan of
  * EVERY declared query and pins the exact census, so a future operator
  * cannot silently introduce a new single-task window:
  *
  *  - limit-BOUNDED global windows (fine at any scale — the one task
  *    sees O(k) rows): w4 (TakeOrderedAndProject below the row_number
  *    window via LimitPushDownThroughWindow), q15 (WindowGroupLimit from
  *    the rank<=1 filter), t_rarity_score (rank table capped to top-10k
  *    by a limit before the window).
  *  - UNBOUNDED global windows, allowlisted because the window input is
  *    already reduced to a SCALE-INDEPENDENT cardinality by an upstream
  *    aggregate: w7_moving_avg and w12_wma5 run over a calendar-date-
  *    grain daily series — rows = distinct order dates (~2.4k for the
  *    TPC-H date span), bounded by the calendar, not the corpus. The
  *    moving-average semantic IS a globally ordered pass; one task over
  *    ~2.4k rows is the right plan at every SF.
  *
  * Everything else (224 queries): zero global windows. Plan construction
  * only — nothing is executed, so the walk covers the pre-AQE physical
  * plan.
  */
class WindowAuditSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** (bounded, unbounded) global-window counts of one physical plan: a
    * global window is bounded when a limit operator sits in its subtree
    * (a global WindowGroupLimit, a TakeOrderedAndProject or a
    * Global/CollectLimit), so its one task sees O(k) rows, not the data. */
  private def globalWindows(plan: SparkPlan): (Int, Int) = {
    val ws = plan.collect { case w: WindowExec if w.partitionSpec.isEmpty => w }
    val bounded = ws.count(w => w.child.collectFirst {
      case g: WindowGroupLimitExec if g.partitionSpec.isEmpty => g
      case t: TakeOrderedAndProjectExec => t
      case l: GlobalLimitExec => l
      case c: CollectLimitExec => c
    }.isDefined)
    (bounded, ws.size - bounded)
  }

  test("unpartitioned windows: only the pinned bounded/calendar census") {
    val boundedPin = Set("w4_row_number_topk", "q15_top_supplier",
      "t_rarity_score")
    val calendarPin = Set("w7_moving_avg", "w12_wma5")
    val got = SparkEntry.all.flatMap { q =>
      val (b, u) = globalWindows(
        q.fn(spark, dir).queryExecution.sparkPlan)
      if (u > 0) Some(q.name -> "UNBOUNDED")
      else if (b > 0) Some(q.name -> "bounded")
      else None
    }.toMap
    val unbounded = got.collect { case (n, "UNBOUNDED") => n }.toSet
    val bounded = got.collect { case (n, "bounded") => n }.toSet
    assert(unbounded === calendarPin,
      s"NEW unbounded global window(s): ${(unbounded -- calendarPin).mkString(", ")} " +
        "— a single-task window over corpus-scaled input; partition it, " +
        "bound it with a limit, or (only for scale-independent input) " +
        "extend the pin with the cardinality argument")
    assert(bounded === boundedPin,
      s"global-window census drifted: got ${bounded.mkString(", ")}")
  }
}
