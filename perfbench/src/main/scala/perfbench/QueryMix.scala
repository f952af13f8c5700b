package perfbench

import java.io.File
import scala.util.Try
import graft.SparkEntry

/** query_mix: `SparkEntry.queries`, one per family of the headline mix,
  * each written to Spark's `noop` sink so that every projected column is
  * computed. The cold pass writes each result as parquet instead, and
  * `run.py` checks it against the query's `SparkEntry.oracleSql` oracle
  * in DuckDB. Warm passes follow for the run's time. The tables are
  * written by `run.py` (`mixdata.py`) from the seed before the JVM
  * starts. */
object QueryMix {
  /** Each query of the mix and the table it reads. */
  val Tables: Seq[(String, String)] = Seq(
    "q1_pricing_summary" -> "lineitem", "wpl_nginx_parse" -> "orders",
    "oml_transform" -> "events", "syslog_normalize" -> "events", "dedup_exact" -> "documents",
    "ann_cosine_topk" -> "embeddings", "q_events_funnel" -> "events", "q_hot_keys" -> "events")
  val Queries: Seq[String] = Tables.map(_._1)
  /** The queries that turn each table row into a raw line and parse it
    * (WPL, OML, syslog). */
  val LineQueries = Set("wpl_nginx_parse", "oml_transform", "syslog_normalize")
  val MaxPasses = 50

  def run(a: Args, rec: Record): Unit = {
    val tables = new File(a.work, "tables")
    val dir = tables.getPath
    rec.phase("inputs")
    val (spark, dt) = Stats.time(Session.create(a.cores, a.work))
    rec.put("setup_s", Main.bootS + dt, "s")
    rec.phase("setup")
    val heap = new HeapWatch
    val tr = if (a.trace) Some(new Trace(spark)) else None

    val results = new File(a.work, "results")
    /** One query to `noop` (to parquet in the cold pass); its wall time,
      * or None when it failed (a failed query is never a timing). */
    def query(name: String, pass: Int, parent: String): Option[Double] = {
      val start = Files2.nowMs()
      val (res, dt) = Stats.time(Try {
        val df = SparkEntry.queries(name)(spark, dir)
        if (pass == 0) df.coalesce(1).write.mode("overwrite").parquet(new File(results, name).getPath)
        else df.write.format("noop").mode("overwrite").save()
      })
      // query-scoped scratch caches are released outside the timing
      graft.operators.CacheScope.drain()
      rec.op(res.isSuccess, s"$name pass $pass threw ${res.failed.map(_.toString).getOrElse("")}")
      if (parent.nonEmpty)
        tr.foreach(_.add(Span(s"$parent.$name", parent, "query", name, start,
          start + dt * 1e3, Map.empty)))
      res.toOption.map(_ => dt)
    }
    /** One pass over the mix; per-query times, None for a failed query. */
    def pass(p: Int, traced: Boolean): Seq[Option[Double]] = {
      tr.foreach(t => if (traced) t.enable() else t.disable())
      val id = if (traced) s"p$p" else ""
      val start = Files2.nowMs()
      val ts = Queries.map(query(_, p, id))
      if (traced) tr.foreach(_.add(Span(id, "", "rep", s"pass $p", start, Files2.nowMs(), Map.empty)))
      heap.sample()
      ts
    }

    val cold = pass(0, traced = false)
    rec.phase("cold")
    // timed passes: the count whose total comes closest to --seconds, at
    // least two. Pass times still fall from pass to pass, and with passes
    // of half of --seconds, "until --seconds have passed" flipped between
    // two and three passes with small speed changes, which alone moved the
    // median by 10-15 %
    val warm = Vector.newBuilder[(Seq[Option[Double]], Boolean)]
    val t0 = System.nanoTime()
    var p = 1
    while (p <= 2 || (Stats.secs(t0) * (1 + 0.5 / (p - 1)) < a.seconds && p <= MaxPasses)) {
      val traced = a.trace && p % 2 == 1
      warm += pass(p, traced) -> traced
      p += 1
    }
    tr.foreach(_.disable())
    rec.phase("timed")
    val passes = warm.result()
    val rows = Tables.map(_._2).distinct
      .map(t => t -> spark.read.parquet(s"$dir/$t.parquet").count()).toMap
    val complete = passes.filter(_._1.forall(_.isDefined)).map(x => x._1.flatten -> x._2)
    def perQuery(q: String) = passes.flatMap(_._1(Queries.indexOf(q)))
    val mix = Stats.median(complete.map(_._1.sum))
    val lines = Queries.indices.filter(i => LineQueries(Queries(i)))
    val lineS = Stats.median(complete.map(c => lines.map(c._1).sum))
    val lineRows = lines.map(i => rows(Tables(i)._2)).sum
    val inputRows = Tables.map(x => rows(x._2)).sum
    // per-query latency: its median and 99th percentile within each
    // complete pass, median over the passes
    def latency(q: Double) = Stats.median(complete.map(c => Stats.quantile(c._1, q) * 1e3))
    val coldS = if (cold.forall(_.isDefined)) cold.flatten.sum else 0.0
    rec.put("cold_run_s", coldS, "s")
    rec.put("mix_total_s", mix, "s")
    rec.put("lines_per_s", if (lineS > 0) lineRows / lineS else 0.0, "lines/s")
    rec.put("latency_ms_p50", latency(0.5), "ms")
    rec.put("latency_ms_p99", latency(0.99), "ms")
    // stand-in (README): a fresh process working through the mix's input once
    rec.put("drain_lps", if (coldS > 0) inputRows / coldS else 0.0, "lines/s")
    rec.put("heap_mb", heap.medianMb, "MB")
    rec.notes += f"warm passes=${passes.length} complete=${complete.length} median=$mix%.3f s: " +
      complete.map(x => f"${x._1.sum}%.3f").mkString(" ")
    passes.zipWithIndex.foreach { case ((ts, _), i) =>
      rec.notes += ts.map(_.fold("-")(t => f"$t%.3f")).mkString(s"pass ${i + 1} s: ", " ", "") }
    rec.notes += Queries.zip(cold).map { case (q, c) => f"$q ${c.getOrElse(0.0)}%.3f" }
      .mkString("cold s: ", ", ", "")
    rec.notes += Queries.map(q => f"$q ${Stats.median(perQuery(q))}%.3f").mkString("median s: ", ", ", "")

    tr.foreach { t =>
      val spans = t.spans
      val reps = spans.filter(_.kind == "rep")
      Etl.sparkLayers(rec, t, spans, reps, a.cores, etl = false)
      t.write(new File(a.work, "spans.jsonl"), spans)
      val n = math.max(1, reps.length).toDouble
      val actions = t.under(spans, reps.map(_.id).toSet, "action")
      def attr(k: String) = actions.map(_.attrs.getOrElse(k, 0.0)).sum / n
      Queries.foreach(q => rec.put(s"query.${q}_s", Stats.median(perQuery(q)), "s"))
      rec.put("query.planning_ms", actions.map(_.attrs.collect {
        case (k, v) if k.startsWith("plan_") => v }.sum).sum / n, "ms")
      rec.put("query.jobs", t.under(spans, reps.map(_.id).toSet, "job").length / n, "count")
      rec.put("query.exchanges", attr("exchanges"), "count")
      // a query whose executed plan has more than one operator evaluating
      // the WPL parse expression parses each row more than once
      val byQuery = spans.filter(_.kind == "query").map(s => s.id -> s.name).toMap
      val dupes = actions.filter(_.attrs.getOrElse("parse_nodes", 0.0) > 1)
        .flatMap(x => byQuery.get(x.parent)).distinct
      rec.put("query.parse_expr_dupes", dupes.length.toDouble, "count")
      if (dupes.nonEmpty) rec.notes += dupes.sorted.mkString("parse expression evaluated twice per row: ", ", ", "")
      val tracedMed = Stats.median(complete.filter(_._2).map(_._1.sum))
      val plainMed = Stats.median(complete.filterNot(_._2).map(_._1.sum))
      rec.put("trace.overhead_share", tracedMed / plainMed - 1, "share")
    }

    Queries.foreach(q => rec.op(SparkEntry.oracleSql.contains(q), s"$q has no oracle"))
    Files2.write(new File(a.work, "oracles.json"), Json.obj(Queries.flatMap(q =>
      SparkEntry.oracleSql.get(q).map(q -> _))))
    rec.phase("results")
    Session.stop(spark)
  }
}
