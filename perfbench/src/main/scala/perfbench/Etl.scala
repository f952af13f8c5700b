package perfbench

import java.io.File
import org.apache.spark.sql.SparkSession
import graft.engine.Pipeline
import graft.oml.{KnowDb, OmlText}
import graft.project.{KnowDbLoader, Project}

/** Set-up and trace aggregation shared by the ETL workloads. */
object Etl {
  final case class Ready(spark: SparkSession, p: Project.Loaded, db: KnowDb)

  /** The program made ready to run a project: SparkSession,
    * `Project.load`, `KnowDbLoader.load`, and rule/model compile, timed
    * from JVM start (`setup_s`), input generation excluded. */
  def setup(rec: Record, a: Args, cores: Int, root: File): Ready = {
    val (ready, dt) = Stats.time {
      val spark = Session.create(cores, a.work)
      val p = Project.load(root.getPath)
      val db = KnowDbLoader.load(p.root)
      graft.wpl.Runtime.compile(p.wplSource)
      p.omlSources.foreach(m => OmlText.parse(m._2))
      Ready(spark, p, db)
    }
    rec.put("setup_s", Main.bootS + dt, "s")
    ready
  }

  /** Per-layer metrics of the spark layer, and with `etl` of the project
    * and sinks layers, from the spans of the traced reps, as means per rep. */
  def sparkLayers(rec: Record, tr: Trace, all: Vector[Span], reps: Seq[Span], cores: Int,
                  etl: Boolean = true): Unit = {
    val n = math.max(1, reps.length).toDouble
    def per(kind: String) = reps.map(r => r -> tr.under(all, Set(r.id), kind))
    val actions = per("action")
    val jobs = per("job")
    val stages = per("stage").flatMap(_._2)
    def sum(ss: Seq[Span], k: String) = ss.map(_.attrs.getOrElse(k, 0.0)).sum
    val planMs = actions.flatMap(_._2).map(_.attrs.collect {
      case (k, v) if k.startsWith("plan_") => v }.sum).sum
    val taskS = sum(stages, "task_ms") / 1e3
    val wallS = reps.map(_.durMs).sum / 1e3
    rec.put("spark.planning_ms", planMs / n, "ms")
    rec.put("spark.stages", stages.length / n, "count")
    rec.put("spark.tasks", sum(stages, "tasks") / n, "count")
    rec.put("spark.task_s", taskS / n, "s")
    rec.put("spark.cpu_s", sum(stages, "cpu_ms") / 1e3 / n, "s")
    rec.put("spark.gc_s", sum(stages, "gc_ms") / 1e3 / n, "s")
    rec.put("spark.shuffle_bytes", sum(stages, "shuffle_bytes") / n, "bytes")
    rec.put("spark.spill_bytes", sum(stages, "spill_bytes") / n, "bytes")
    rec.put("spark.slot_busy_share", if (wallS > 0) taskS / (wallS * cores) else 0.0, "share")
    rec.put("trace.action_cover", actions.map { case (r, as) =>
      Stats.unionLength(as.map(x => (x.startMs, x.endMs))) / math.max(1.0, r.durMs) }.sum / n,
      "share")
    rec.put("trace.spans", all.length.toDouble, "count")
    if (!etl) return
    rec.put("project.jobs", jobs.map(_._2.length).sum / n, "count")
    rec.put("project.driver_s", jobs.map { case (r, js) =>
      r.durMs - Stats.unionLength(js.map(j => (j.startMs, j.endMs))) }.sum / 1e3 / n, "s")
    rec.put("project.persist_s", actions.map(_._2.sortBy(_.startMs).headOption
      .map(_.durMs).getOrElse(0.0)).sum / 1e3 / n, "s")
    // nested executions overlap, so each rep counts the union of intervals
    def cover(pick: Span => Boolean) = actions.map { case (_, as) =>
      Stats.unionLength(as.filter(pick).map(x => (x.startMs, x.endMs))) }.sum / 1e3 / n
    rec.put("sinks.write_s", cover(!_.name.startsWith("count at")), "s")
    rec.put("sinks.count_s", cover(_.name.startsWith("count at")), "s")
  }

  /** The traced run's layer measurements outside the reps: single-thread
    * wpl, oml, knowdb and format timings over a sample of the workload's
    * lines, then the source scan and the engine pipeline over the whole
    * input, each to the `noop` sink (median of 3). */
  def pipelineLayers(rec: Record, ready: Ready, input: File, nLines: Long,
                     sample: IndexedSeq[String], fmts: Seq[String], cores: Int): Unit = {
    val parsed = Layers.wpl(rec, ready.p.wplSource, sample)
    val out = Layers.oml(rec, ready.p.omlSources.headOption.map(_._2), ready.db, parsed)
    Layers.knowdb(rec, ready.p.root,
      parsed.flatMap(_._2.find(_.name == "zid")).map(_.value.sval))
    Layers.format(rec, fmts, out)
    def medS(f: => Unit) = Stats.median((1 to 3).map(_ => Stats.time(f)._2))
    val spark = ready.spark
    rec.put("sources.scan_s",
      medS(spark.read.text(input.getPath).write.format("noop").mode("overwrite").save()), "s")
    rec.put("sources.input_bytes", Files2.bytes(input).toDouble, "bytes")
    val pipeS = medS(Pipeline.run(spark.read.text(input.getPath), "value", ready.p.wplSource,
      ready.p.omlSources.map(_._2), knowDb = ready.db).write.format("noop").mode("overwrite").save())
    rec.put("engine.pipe_s", pipeS, "s")
    val nsCore = pipeS * cores * 1e9 / nLines
    rec.put("engine.ns_per_line_core", nsCore, "ns")
    rec.put("engine.overhead_x",
      nsCore / (rec.metrics("wpl.parse_ns")._1 + rec.metrics("oml.transform_ns")._1), "x")
  }
}
