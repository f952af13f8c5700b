package perfbench

import java.io.File
import scala.util.Try
import graft.project.ProjectRun

/** batch_parse and batch_enrich: `ProjectRun.runBatch` over a
  * generated project, one cold rep then warm reps for the run's time. */
object Batch {
  /** Inputs small enough that a run holds several warm reps, yet large
    * enough that per-record work (parse, transform, enrich, format) is
    * not dwarfed by the run's fixed cost (jobs per sink, planning). The
    * input is split into one file per core, so every core gets a split. */
  val ParseLines = 8000
  val EnrichLines = 80000
  /** Reps after the cold one that finish JIT warm-up; checked, not timed.
    * batch_enrich's cold rep already runs 80 000 records through every
    * layer, so one more rep suffices there. */
  def warmupReps(workload: String): Int = if (workload == "batch_enrich") 1 else 2

  /** What the outputs must be: rows per (group, sink), intercepted rows
    * per filtered sink, and per-sink file checks on the re-read lines. */
  final case class Truth(rows: Map[(String, String), Long],
                         intercepted: Map[(String, String), Long],
                         fileChecks: Seq[(String, String, Vector[String] => Boolean)],
                         sinkFiles: Seq[String], fmts: Seq[String])

  private def genParse(a: Args, root: File): (Vector[String], Truth) = {
    val r = Gen.rng(a.seed, 1)
    val isB25 = Vector.fill(ParseLines)(r.nextDouble() < 0.85)
    val lines = isB25.zipWithIndex.map { case (b, i) => if (b) Gen.bench25(r, i) else Gen.nginx(r) }
    val nB25 = isB25.count(identity).toLong
    val ids = isB25.zipWithIndex.collect { case (true, i) => i.toLong }.toSet
    val idRe = "\"id\":(\\d+)".r
    ProjectLayout.write(root, ProjectLayout.parseWpl, None, "./data",
      Seq(ProjectLayout.Group("b25", Seq.empty, Seq("/bench/b25"),
        Seq(ProjectLayout.SinkDef("b25", "b25.dat", "json")))),
      Seq("default" -> ProjectLayout.SinkDef("default", "default.dat", "json")), None)
    (lines, Truth(
      Map(("b25", "b25") -> nB25, ("default", "default") -> (ParseLines - nB25)),
      Map.empty,
      Seq(
        ("b25.dat", "every b25 id once", ls =>
          ls.length == nB25 && ls.flatMap(l => idRe.findFirstMatchIn(l).map(_.group(1).toLong))
            .toSet == ids),
        ("default.dat", "nginx lines routed to default", _.length == ParseLines - nB25)),
      Seq("b25.dat", "default.dat"), Seq("json")))
  }

  private def genEnrich(a: Args, root: File): (Vector[String], Truth) = {
    val r = Gen.rng(a.seed, 2)
    val zoneCsv = Gen.zoneCsv(r)
    val rows = Vector.fill(EnrichLines) {
      if (r.nextDouble() < 0.03) (Gen.malformed(r), -1, -1)
      else {
        val st = Gen.statuses(r.nextInt(Gen.statuses.length))
        val z = Gen.zid(r)
        (Gen.kvLine(r, st, z), st, z)
      }
    }
    val ok = rows.filter(_._2 >= 0)
    val nOk = ok.length.toLong
    val nHigh = ok.count(x => Gen.isHigh(x._2)).toLong
    val nHit = ok.count(_._3 < Gen.zoneRows).toLong
    val malformed = rows.filter(_._2 < 0).map(_._1)
    ProjectLayout.enrich(root, "./data", zoneCsv)
    (rows.map(_._1), Truth(
      Map(("enrich", "all") -> nOk, ("enrich", "normal") -> (nOk - nHigh),
        ("default", "default") -> 0L, ("miss", "miss") -> malformed.length.toLong,
        ("intercept", "intercept") -> nHigh),
      Map(("enrich", "normal") -> nHigh),
      Seq(
        ("enrich_all.dat", "all ok records, knowdb hits carry zone_name", ls =>
          ls.length == nOk && ls.count(_.contains("\"zone_name\":")) == nHit),
        ("enrich_normal.dat", "no high-level record passes the filter", ls =>
          ls.length == nOk - nHigh && !ls.exists(_.contains("level=high"))),
        ("miss.dat", "malformed lines verbatim in miss", ls =>
          Digest.of(ls) == Digest.of(malformed)),
        ("intercept.dat", "filtered records in intercept", ls =>
          ls.length == nHigh && ls.forall(_.contains("level=high"))),
        ("default.dat", "nothing unrouted", _.isEmpty)),
      Seq("enrich_all.dat", "enrich_normal.dat", "default.dat", "miss.dat", "intercept.dat"),
      Seq("json", "kv")))
  }

  def run(a: Args, rec: Record): Unit = {
    val root = new File(a.work, "project")
    val dataDir = new File(root, "data")
    val (lines, truth) =
      if (a.workload == "batch_parse") genParse(a, root) else genEnrich(a, root)
    val perFile = (lines.length + a.cores - 1) / a.cores
    lines.grouped(perFile).zipWithIndex.foreach { case (part, k) =>
      Files2.writeAtomic(a.work, new File(dataDir, f"input-$k%02d.dat"), part.iterator)
    }
    rec.phase("inputs")
    val ready = Etl.setup(rec, a, a.cores, root)
    rec.phase("setup")
    val spark = ready.spark
    val heap = new HeapWatch
    val tr = if (a.trace) Some(new Trace(spark)) else None
    val repSpans = Vector.newBuilder[Span]
    var lastReports = Vector.empty[ProjectRun.SinkReport]
    // (ms from rep start to the commit of a sink's output, rows in it)
    val commits = Vector.newBuilder[(Double, Long)]

    def checkReports(rs: Vector[ProjectRun.SinkReport]): Option[String] = {
      val got = rs.map(s => (s.group, s.sink) -> s.rows).toMap
      val icpt = rs.map(s => (s.group, s.sink) -> s.intercepted).toMap
      val bad = truth.rows.filter { case (k, v) => !got.get(k).contains(v) }.keys ++
        truth.intercepted.filter { case (k, v) => !icpt.get(k).contains(v) }.keys
      if (bad.isEmpty && got.size == truth.rows.size) None
      else Some(s"sink rows differ from truth at ${bad.mkString(",")}: $got")
    }
    /** One rep; its wall time, or None when it failed or its reports are
      * wrong (a failed rep is never a timing). */
    def rep(i: Int, traced: Boolean): Option[Double] = {
      tr.foreach(t => if (traced) t.enable() else t.disable())
      val startMs = Files2.nowMs()
      val (res, dt) = Stats.time(Try(ProjectRun.runBatch(spark, ready.p, ready.db)))
      val err = res.fold(e => Some(s"runBatch threw $e"), checkReports)
      rec.op(err.isEmpty, s"rep $i: ${err.getOrElse("")}")
      res.foreach(lastReports = _)
      // a sink's rows are delivered when its write job commits (_SUCCESS)
      if (err.isEmpty && i > 0) lastReports.filter(_.rows > 0).foreach { s =>
        val done = new File(graft.project.Project.resolve(ready.p.root, s.path).getPath + ".d",
          "_SUCCESS")
        commits += (Files2.mtimeMs(done) - startMs) -> s.rows
      }
      heap.sample()
      if (traced) {
        val s = Span(s"r$i", "", "rep", s"rep $i", startMs, startMs + dt * 1e3, Map.empty)
        tr.foreach(_.add(s))
        if (i > 0) repSpans += s
      }
      if (err.isEmpty) Some(dt) else None
    }

    val cold = rep(0, traced = a.trace)
    rec.phase("cold")
    (1 to warmupReps(a.workload)).foreach(i => rep(-i, traced = false))
    rec.phase("warm-up")
    val warm = Vector.newBuilder[(Double, Boolean)]
    val t0 = System.nanoTime()
    var i = 1
    while (i <= 3 || (Stats.secs(t0) < a.seconds && i < 200)) {
      val traced = a.trace && i % 2 == 1
      rep(i, traced).foreach(dt => warm += dt -> traced)
      i += 1
    }
    tr.foreach(_.disable())
    val warmAll = warm.result()
    val warmS = warmAll.map(_._1)
    val medS = Stats.median(warmS)

    rec.phase("timed")
    // outputs of the last rep, re-read from the sink files
    val outDir = new File(root, "out")
    truth.fileChecks.foreach { case (file, what, check) =>
      val ls = ProjectRun.readSinkLines(new File(outDir, file))
      rec.op(Try(check(ls)).getOrElse(false), s"$file: $what (read ${ls.length} lines)")
    }
    truth.sinkFiles.foreach { f =>
      val ls = ProjectRun.readSinkLines(new File(outDir, f))
      rec.notes += s"digest $f rows=${ls.length} ${Digest.of(ls)}"
    }

    val delivered = commits.result()
    rec.put("cold_run_s", cold.getOrElse(0.0), "s")
    rec.put("lines_per_s", lines.length / medS, "lines/s")
    // stand-ins (README): a fresh process draining the input once, and
    // the median warm rep
    rec.put("drain_lps", cold.map(lines.length / _).getOrElse(0.0), "lines/s")
    rec.put("mix_total_s", medS, "s")
    rec.put("latency_ms_p50", Stats.weightedQuantile(delivered, 0.5), "ms")
    rec.put("latency_ms_p99", Stats.weightedQuantile(delivered, 0.99), "ms")
    rec.put("heap_mb", heap.medianMb, "MB")
    rec.notes += f"warm reps=${warmS.length} median=${medS}%.3f s lines=${lines.length}: " +
      warmS.map(x => f"$x%.3f").mkString(" ")

    tr.foreach { t =>
      val all = t.spans
      Etl.sparkLayers(rec, t, all, repSpans.result(), a.cores)
      t.write(new File(a.work, "spans.jsonl"), all)
      val tracedMed = Stats.median(warmAll.filter(_._2).map(_._1))
      val plainMed = Stats.median(warmAll.filterNot(_._2).map(_._1))
      rec.put("trace.overhead_share", tracedMed / plainMed - 1, "share")
      Etl.pipelineLayers(rec, ready, dataDir, lines.length, lines.take(20000), truth.fmts, a.cores)
      rec.put("sinks.rows_out", lastReports.map(_.rows).sum.toDouble, "count")
      rec.put("sinks.bytes_out", truth.sinkFiles.map(f => Files2.bytes(new File(outDir, f + ".d")) +
        Files2.bytes(new File(outDir, f))).sum.toDouble, "bytes")
    }
    rec.phase("checked")
    Session.stop(spark)
    rec.phase("stopped")
  }
}
