package perfbench

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import scala.jdk.CollectionConverters._

/** One traced interval. Times are epoch milliseconds. `parent` links a
  * stage to its job, a job to its action (SQL execution) and an action
  * to the rep or micro-batch that contains it. */
final case class Span(id: String, parent: String, kind: String, name: String,
                      startMs: Double, endMs: Double, attrs: Map[String, Double]) {
  def durMs: Double = endMs - startMs
}

/** Spans recorded by listeners the benchmark registers itself: Spark
  * actions (SQL executions, keyed by call site, with their planning
  * phases), jobs and stages with summed task metrics. Reps and streaming
  * micro-batches are added by the workload. Everything stays
  * in memory until [[write]]. */
final class Trace(spark: SparkSession) {
  private val raw = new ConcurrentLinkedQueue[Span]()
  private val execStart = new java.util.concurrent.ConcurrentHashMap[Long, (Double, String)]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Double, Long)]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()

  private val sparkListener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        execStart.put(s.executionId, (s.time.toDouble, s.description))
      case s: SparkListenerSQLExecutionEnd =>
        Option(execStart.remove(s.executionId)).foreach { case (t0, desc) =>
          val plan = org.apache.spark.sql.PerfbenchSqlBridge.queryExecution(s)
            .map(qe => qe.tracker.phases.map { case (k, v) => s"plan_$k" -> v.durationMs.toDouble } ++
              PlanWalk.counts(qe.executedPlan))
            .getOrElse(Map.empty)
          raw.add(Span(s"x${s.executionId}", "", "action", desc, t0, s.time.toDouble, plan))
        }
      case _ =>
    }
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      val exec = Option(j.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(_.toLong).getOrElse(-1L)
      jobStart.put(j.jobId, (j.time.toDouble, exec))
      j.stageIds.foreach(s => stageJob.put(s, j.jobId))
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(j.jobId)).foreach { case (t0, exec) =>
        raw.add(Span(s"j${j.jobId}", if (exec >= 0) s"x$exec" else "", "job",
          s"job ${j.jobId}", t0, j.time.toDouble, Map.empty))
      }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      val i = s.stageInfo
      val m = i.taskMetrics
      val attrs = if (m == null) Map("tasks" -> i.numTasks.toDouble) else Map(
        "tasks" -> i.numTasks.toDouble,
        "task_ms" -> m.executorRunTime.toDouble,
        "cpu_ms" -> m.executorCpuTime / 1e6,
        "gc_ms" -> m.jvmGCTime.toDouble,
        "shuffle_bytes" -> (m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten).toDouble,
        "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      val job = Option(stageJob.get(i.stageId)).map(j => s"j$j").getOrElse("")
      raw.add(Span(s"s${i.stageId}.${i.attemptNumber()}", job, "stage", i.name,
        i.submissionTime.getOrElse(0L).toDouble, i.completionTime.getOrElse(0L).toDouble, attrs))
    }
  }

  @volatile private var on = false
  def enable(): Unit = if (!on) {
    spark.sparkContext.addSparkListener(sparkListener)
    on = true
  }
  def disable(): Unit = if (on) {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    on = false
  }
  def drain(): Unit = org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)

  /** Add a workload-level span (a rep or a micro-batch). */
  def add(s: Span): Unit = raw.add(s)

  /** All spans so far, every action parented to the innermost rep or
    * micro-batch whose interval contains its start. */
  def spans: Vector[Span] = {
    drain()
    val all = raw.asScala.toVector
    val reps = all.filter(s => Trace.owners(s.kind))
    def owner(t: Double): String =
      reps.filter(r => t >= r.startMs && t <= r.endMs).minByOption(_.durMs)
        .map(_.id).getOrElse("")
    val actionIds = all.filter(_.kind == "action").map(_.id).toSet
    all.map {
      case j if j.kind == "job" && !actionIds(j.parent) => j.copy(parent = owner(j.startMs))
      case a if a.kind == "action" => a.copy(parent = owner(a.startMs))
      case s => s
    }
  }

  /** Spans of one kind whose owning chain reaches the given rep ids. */
  def under(all: Vector[Span], repIds: Set[String], kind: String): Vector[Span] = {
    val byId = all.map(s => s.id -> s).toMap
    def root(s: Span, depth: Int = 0): String =
      if (repIds(s.id)) s.id
      else byId.get(s.parent).filter(_ => depth < 8).map(root(_, depth + 1)).getOrElse("")
    all.filter(s => s.kind == kind && root(s).nonEmpty)
  }

  /** Spans as JSON lines plus each span's self time (duration minus the
    * union of its children's intervals). */
  def write(f: File, all: Vector[Span]): Unit = {
    val kids = all.groupBy(_.parent)
    val lines = all.sortBy(_.startMs).map { s =>
      val childCover = Stats.unionLength(kids.getOrElse(s.id, Vector.empty)
        .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs))))
      Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "self_ms" -> (s.durMs - childCover),
        "attrs" -> Json.Obj(s.attrs.toSeq.sortBy(_._1))))
    }
    Files2.write(f, lines.mkString("", "\n", "\n"))
  }
}

/** Counts over an executed plan, adaptive query stages included. */
object PlanWalk extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  import org.apache.spark.sql.execution.SparkPlan
  import org.apache.spark.sql.execution.exchange.Exchange

  /** `exchanges`: Exchange nodes; `parse_nodes`: operators that evaluate
    * the WPL parse expression (more than one means each row is parsed
    * more than once). */
  def counts(plan: SparkPlan): Map[String, Double] = Map(
    "exchanges" -> collect(plan) { case e: Exchange => e }.length.toDouble,
    "parse_nodes" -> collect(plan) {
      case p if p.expressions.exists(_.exists(_.isInstanceOf[graft.functions.ParseWpl])) => p
    }.length.toDouble)
}

object Trace {
  /** Span kinds the workload adds, which own the actions inside them. */
  val owners = Set("rep", "batch", "query")
}
