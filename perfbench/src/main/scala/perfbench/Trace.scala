package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import graft.pipeline.Pipeline
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.LeftAnti
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InsertIntoHadoopFsRelationCommand, LogicalRelation}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbench.Shim
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's recorder.
  *
  * Spans come from two places. The benchmark opens its own spans around each
  * call into a layer (`span`). Spark executions become spans through the two
  * listeners this class registers: a `SparkListener` for execution, job,
  * stage and task events, and a `QueryExecutionListener` for each
  * execution's plans, joined to the execution by its `QueryExecution`.
  * An execution is attributed to a layer by the warehouse
  * table it writes or scans, or else by the benchmark span it ran in.
  *
  * Everything stays in memory until `report`; all times are epoch
  * microseconds so listener timestamps and benchmark spans share one clock.
  */
final class Trace(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  import Trace._

  private val baseUs = System.currentTimeMillis() * 1000
  private val baseNs = System.nanoTime()
  def nowUs(): Long = baseUs + (System.nanoTime() - baseNs) / 1000

  // ---- benchmark spans (driver thread only) -------------------------------

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]

  def span[T](name: String, layer: String)(body: => T): T = {
    val id = spans.size
    spans += Span(id, name, layer, nowUs(), -1L, open.headOption.getOrElse(-1))
    open = id :: open
    try body
    finally {
      spans(id) = spans(id).copy(endUs = nowUs())
      open = open.tail
    }
  }

  // ---- listener state (listener-bus threads) ------------------------------

  private val execs = mutable.Map.empty[Long, Exec]
  private val plans = new java.util.IdentityHashMap[QueryExecution, Plan]()
  private val stages = mutable.Map.empty[Int, Stage]
  private val jobs = mutable.Map.empty[Int, Job]
  private val callbackNs = new AtomicLong()

  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    try synchronized(body) finally callbackNs.addAndGet(System.nanoTime() - t0)
  }
  private def exec(id: Long): Exec = execs.getOrElseUpdate(id, new Exec(id))
  private def execOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart => timed {
      val x = exec(e.executionId)
      x.root = e.rootExecutionId.getOrElse(e.executionId)
      x.startUs = e.time * 1000
    }
    case e: SparkListenerSQLExecutionEnd => timed {
      val x = exec(e.executionId)
      x.endUs = e.time * 1000
      x.qe = Shim.queryExecution(e)
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    jobs(e.jobId) = Job(execOf(e.properties), e.time * 1000)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = timed {
    val s = stages.getOrElseUpdate(e.stageInfo.stageId, new Stage)
    s.exec = execOf(e.properties)
    s.startUs = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()) * 1000
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val s = stages.getOrElseUpdate(e.stageId, new Stage)
    s.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      s.bytesWritten += m.outputMetrics.bytesWritten
      s.gcMs += m.jvmGCTime
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    timed(plans.put(qe, plan(qe, durationNs)))
  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
    timed(plans.put(qe, plan(qe, -1L)))

  /** What an execution wrote and read, from its plans. */
  private def plan(qe: QueryExecution, durationNs: Long): Plan = {
    val nodes = planNodes(qe.executedPlan)
    def metric(p: SparkPlan, name: String): Long = p.metrics.get(name).map(_.value).getOrElse(0L)
    val scans = nodes.collect { case s: FileSourceScanExec => s }
    Plan(
      durNs = durationNs,
      written = qe.logical.collectFirst {
        case c: InsertIntoHadoopFsRelationCommand => baseName(c.outputPath.toString)
      },
      scanned = qe.analyzed.collect {
        case LogicalRelation(h: HadoopFsRelation, _, _, _, _) => h.location.rootPaths.map(p => baseName(p.toString))
      }.flatten.toSet,
      // the analyzed plan: a cached Upsert.newRows is materialized by a
      // count whose optimized plan only shows the cache
      antiJoin = qe.analyzed.exists {
        case j: Join => j.joinType == LeftAnti
        case _ => false
      },
      filesWritten = nodes.collect { case w: DataWritingCommandExec => metric(w, "numFiles") }.sum,
      rowsWritten = nodes.collect { case w: DataWritingCommandExec => metric(w, "numOutputRows") }.sum,
      scanFiles = scans.map(metric(_, "numFiles")).sum,
      scanRows = scans.map(metric(_, "numOutputRows")).sum,
      factJoinIn = factJoinInput(nodes).map(firstRows).getOrElse(0L))
  }

  /** The incoming side of P4's fact anti-join (`Upsert.newRows` keyed on
    * date_key and number_key): the fact rows P4 computed. When the existing
    * side is empty the optimizer removes the join, and the cached newRows
    * plan is the incoming side itself. */
  private def factJoinInput(nodes: Seq[SparkPlan]): Option[SparkPlan] = {
    def isFact(p: SparkPlan) = p.output.exists(_.name == "number_key")
    nodes.collectFirst { case j: BaseJoinExec if j.joinType == LeftAnti && isFact(j.left) => j.left }
      .orElse(nodes.collectFirst {
        case m: InMemoryTableScanExec if isFact(m.relation.cachedPlan) => m.relation.cachedPlan
      })
  }

  /** Rows out of the topmost node under `p` that counts them. */
  private def firstRows(p: SparkPlan): Long =
    planNodes(p).collectFirst { case n if n.metrics.contains("numOutputRows") => n.metrics("numOutputRows").value }
      .getOrElse(0L)

  // ---- report -------------------------------------------------------------

  /** Execution spans as resolved at `report`: (exec, layer, parent span). */
  private val attributed = mutable.ArrayBuffer.empty[(ExecSpan, String, Int)]

  /** Drain the bus, then break each span named `opName` down by layer.
    * Returns per-op means of layer self seconds and counters. Self time of
    * a span is its duration minus its children's; execution spans have no
    * children, so the layers' self times sum to the op's wall time. */
  def report(opName: String): Map[String, Double] = {
    Shim.drain(spark.sparkContext)
    synchronized {
      val ops = spans.filter(_.name == opName).toSeq
      val acc = mutable.Map.empty[String, Double].withDefaultValue(0.0)
      def add(k: String, v: Double): Unit = acc(k) += v
      val roots = execs.values.filter(x => x.root == x.id && x.endUs > 0).map { x =>
        val p = Option(plans.get(x.qe)).getOrElse(noPlan)
        // the query listener's nanosecond duration when known, else the
        // millisecond start event
        ExecSpan(x.id, if (p.durNs >= 0) x.endUs - p.durNs / 1000 else x.startUs, x.endUs, p)
      }.toSeq
      for (op <- ops) {
        val inOp = spans.filter(s => s.startUs >= op.startUs && s.endUs <= op.endUs)
        def innermost(us: Long): Span =
          inOp.filter(s => s.startUs <= us && us <= s.endUs).maxBy(_.startUs)
        val children = mutable.Map.empty[Int, Long].withDefaultValue(0L)
        val opLayers = mutable.Map.empty[Long, String]
        for (x <- roots if x.startUs >= op.startUs && x.startUs <= op.endUs) {
          val parent = innermost(x.startUs)
          val layer = tableLayer(x.plan).getOrElse(parent.layer)
          attributed += ((x, layer, parent.id))
          opLayers(x.id) = layer
          // clipped to the enclosing span: event times have millisecond grain
          val dur = math.max(0L, math.min(x.endUs, parent.endUs) - x.startUs)
          children(parent.id) += dur
          add(s"$layer.s", dur / 1e6)
          add(s"$layer.actions", 1)
          add(s"$layer.files_written", x.plan.filesWritten.toDouble)
          add(s"$layer.files_read", x.plan.scanFiles.toDouble)
          add(s"$layer.rows_in", x.plan.scanRows.toDouble)
          if (layer == "sources") add("pipeline.P4.fact_rows_computed", x.plan.factJoinIn.toDouble)
          if (x.plan.written.contains(factTable)) add("pipeline.P4.fact_rows_appended", x.plan.rowsWritten.toDouble)
        }
        for (s <- inOp if s.parent >= 0) children(s.parent) += s.endUs - s.startUs
        for (s <- inOp) add(s"${s.layer}.s", (s.endUs - s.startUs - children(s.id)) / 1e6)
        add("trace.op_s", (op.endUs - op.startUs) / 1e6)
        // jobs and stages follow their execution; those outside any
        // execution follow the benchmark span they started in
        def layerAt(exec: Long, us: Long): Option[String] =
          if (exec >= 0) execs.get(exec).flatMap(x => opLayers.get(x.root))
          else if (us >= op.startUs && us <= op.endUs) Some(innermost(us).layer)
          else None
        for (j <- jobs.values; l <- layerAt(j.exec, j.startUs)) add(s"$l.jobs", 1)
        for (st <- stages.values; l <- layerAt(st.exec, st.startUs)) {
          add(s"$l.stages", 1)
          add(s"$l.tasks", st.tasks.toDouble)
          add(s"$l.shuffle_bytes", st.shuffleBytes.toDouble)
          add(s"$l.bytes_written", st.bytesWritten.toDouble)
          add("spark.gc_s", st.gcMs / 1e3)
          add("spark.spill_bytes", st.spill.toDouble)
        }
      }
      val n = math.max(1, ops.size).toDouble
      val opWall = ops.map(o => o.endUs - o.startUs).sum / 1e6
      val computed = acc("pipeline.P4.fact_rows_computed")
      acc.toMap.map { case (k, v) => k -> v / n } +
        ("pipeline.P4.append_yield" -> (if (computed > 0) acc("pipeline.P4.fact_rows_appended") / computed else 0.0)) +
        ("trace.overhead_frac" -> (if (opWall > 0) callbackNs.get / 1e9 / opWall else 0.0))
    }
  }

  /** Every span as one JSON object: the benchmark's, then the execution
    * spans `report` attributed, with their layer and parent. */
  def spansJson(): Seq[String] = synchronized {
    spans.toSeq.map(s => Json.obj("name" -> s.name, "layer" -> s.layer,
      "start_us" -> s.startUs, "end_us" -> s.endUs, "parent" -> s.parent)) ++
    attributed.toSeq.map { case (x, layer, parent) => Json.obj("name" -> s"execution-${x.id}",
      "layer" -> layer, "start_us" -> x.startUs, "end_us" -> x.endUs, "parent" -> parent,
      "written" -> x.plan.written.getOrElse(""), "scanned" -> x.plan.scanned.toSeq.sorted) }
  }
}

object Trace {

  final case class Span(id: Int, name: String, layer: String, startUs: Long, endUs: Long, parent: Int)
  final case class Job(exec: Long, startUs: Long)

  final class Stage {
    var exec = -1L
    var startUs = 0L
    var tasks = 0L
    var shuffleBytes = 0L
    var bytesWritten = 0L
    var gcMs = 0L
    var spill = 0L
  }

  final case class Plan(durNs: Long, written: Option[String], scanned: Set[String],
                        antiJoin: Boolean, filesWritten: Long, rowsWritten: Long,
                        scanFiles: Long, scanRows: Long, factJoinIn: Long)

  private val noPlan = Plan(-1L, None, Set.empty, antiJoin = false, 0L, 0L, 0L, 0L, 0L)

  final case class ExecSpan(id: Long, startUs: Long, endUs: Long, plan: Plan)

  final class Exec(val id: Long) {
    var root: Long = id
    var startUs = -1L
    var endUs = -1L
    var qe: QueryExecution = _
  }

  private def baseName(path: String): String = path.stripSuffix("/").split('/').last

  private val factTable = baseName(Pipeline.Layout("").factPrize)

  private val tables: Map[String, String] = {
    val lay = Pipeline.Layout("")
    Map(lay.staging -> "pipeline.P2", lay.transform -> "pipeline.P3",
      lay.dimDate -> "pipeline.P4", lay.dimNumber -> "pipeline.P4",
      lay.factPrize -> "pipeline.P4", lay.mart -> "pipeline.MART",
      lay.processLog -> "control").map { case (p, l) => baseName(p) -> l }
  }

  /** The layer an execution belongs to by the tables it touches: the table
    * it writes; else `control` for a process_log scan; else `sources` for
    * the Upsert anti-join; else `serving` for mart reads; else P4 for other
    * warehouse reads. None when it touches no warehouse table. */
  def tableLayer(x: Plan): Option[String] = {
    val read = x.scanned.flatMap(tables.get)
    x.written.flatMap(tables.get)
      .orElse(Option.when(read("control"))("control"))
      .orElse(Option.when(x.antiJoin)("sources"))
      .orElse(Option.when(read("pipeline.MART"))("serving"))
      .orElse(Option.when(read.nonEmpty)("pipeline.P4"))
  }

  /** Every physical node, looking through adaptive plans, query stages and
    * cached relations. */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case s: QueryStageExec => s +: planNodes(s.plan)
    case m: InMemoryTableScanExec => m +: planNodes(m.relation.cachedPlan)
    case other => other +: other.children.flatMap(planNodes)
  }
}
