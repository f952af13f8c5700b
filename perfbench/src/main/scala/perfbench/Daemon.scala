package perfbench

import java.io.File
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import scala.util.Try
import graft.project.ProjectRun
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** daemon_kv: `ProjectRun.runStream` over a watched directory, fed by an
  * open loop. A first file of `ColdLines` is the cold micro-batch
  * (`cold_run_s`, and JIT warm-up). Once it commits, a generator thread
  * drops one stamped file every `TickMs` at a fixed rate, whatever the
  * daemon's progress; each line carries its id and the time its file was
  * due. After the fixed-rate window one burst is dropped, and the time to
  * commit it gives `drain_lps`. */
object Daemon {
  /** Fixed rate: about a fifth of the burst drain rate on 3 cores. The
    * fixed cost of a micro-batch (about 1.1 s on 4 cores) is most of its
    * time. With a 1 s trigger the batches ran back to back, and a slower
    * host grew a queue that tripled latency in some runs; the 2 s trigger
    * keeps the daemon below saturation. */
  val Rate = 5000
  val TickMs = 200
  val TriggerMs = 2000L
  val ColdLines = 10000
  /** Records created in the first seconds at the fixed rate are excluded
    * from the latency figures. */
  val WarmupS = 4.0
  val BurstFiles = 16
  val BurstLines = 64000

  final case class Batch(id: Long, startMs: Double, commitMs: Double, rows: Long,
                         durations: Map[String, Double])

  private def batches(ps: Seq[StreamingQueryProgress]): Vector[Batch] =
    ps.filter(_.numInputRows > 0).map { p =>
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }.toMap
      val t0 = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      Batch(p.batchId, t0, t0 + d.getOrElse("triggerExecution", 0.0), p.numInputRows, d)
    }.toVector.sortBy(_.id)

  def run(a: Args, rec: Record): Unit = {
    val cores = math.max(1, a.cores - 1)
    val root = new File(a.work, "project")
    val watch = new File(root, "in")
    val staging = new File(a.work, "staging")
    watch.mkdirs()
    val r = Gen.rng(a.seed, 3)
    ProjectLayout.enrich(root, "./in", Gen.zoneCsv(r))
    val perTick = Rate * TickMs / 1000
    val ticks = ((WarmupS + a.seconds) * 1000 / TickMs).toInt
    val nRate = ticks * perTick
    val total = ColdLines + nRate + BurstLines
    // line bodies are generated before timing; the stamp is added at drop time
    val bodies = Array.fill(total) {
      Gen.kvLine(r, Gen.statuses(r.nextInt(Gen.statuses.length)), Gen.zid(r))
    }
    def stamped(id: Int, dueMs: Long) = s"id=$id ts=$dueMs ${bodies(id)}"

    rec.phase("inputs")
    val ready = Etl.setup(rec, a, cores, root)
    rec.phase("setup")
    val spark = ready.spark
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")
    val heap = new HeapWatch
    val tr = if (a.trace) Some(new Trace(spark)) else None
    tr.foreach(_.enable())

    def committed(q: org.apache.spark.sql.streaming.StreamingQuery): Long =
      q.recentProgress.map(_.numInputRows).sum
    def awaitRows(q: org.apache.spark.sql.streaming.StreamingQuery, n: Long): Boolean = {
      val deadline = System.currentTimeMillis() + 60000
      while (committed(q) < n && q.isActive && System.currentTimeMillis() < deadline) Thread.sleep(20)
      committed(q) >= n
    }

    val q = ProjectRun.runStream(spark, ready.p, ready.db,
      checkpoint = Some(new File(a.work, "checkpoint").getPath), triggerMs = TriggerMs)
    val queryStart = System.currentTimeMillis()
    Files2.writeAtomic(staging, new File(watch, "cold.txt"),
      (0 until ColdLines).iterator.map(stamped(_, queryStart)))
    val coldDone = rec.op(awaitRows(q, ColdLines), "cold lines not all committed")
    rec.phase("cold")
    val startMs = System.currentTimeMillis()
    val lateMax = new AtomicLong(0)
    val gen = new Thread(() => {
      var k = 0
      while (k < ticks) {
        val due = startMs + k.toLong * TickMs
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        val from = ColdLines + k * perTick
        Files2.writeAtomic(staging, new File(watch, f"rate-$k%05d.txt"),
          (from until from + perTick).iterator.map(stamped(_, due)))
        lateMax.accumulateAndGet(System.currentTimeMillis() - due, math.max)
        k += 1
      }
    }, "perfbench-generator")
    gen.start()
    gen.join()

    val rateDone = rec.op(coldDone && awaitRows(q, ColdLines + nRate),
      "fixed-rate lines not all committed")
    heap.sample()
    rec.phase("fixed rate")

    // the burst: dropped just before a trigger boundary (triggers are
    // aligned to multiples of the interval), so the wait for the next
    // trigger stays small and steady; drain time runs to the commit that
    // completes the burst
    val perFile = BurstLines / BurstFiles
    val now = System.currentTimeMillis()
    var dropAt = (now / TriggerMs + 1) * TriggerMs - 150
    if (dropAt < now + 20) dropAt += TriggerMs
    Thread.sleep(dropAt - now)
    val burstStart = System.currentTimeMillis()
    (0 until BurstFiles).foreach { f =>
      val from = ColdLines + nRate + f * perFile
      Files2.writeAtomic(staging, new File(watch, f"burst-$f%02d.txt"),
        (from until from + perFile).iterator.map(stamped(_, burstStart)))
    }
    val burstOk = rec.op(rateDone && awaitRows(q, total), "burst lines not all committed")
    val burstDone = batches(q.recentProgress.toSeq).lastOption.map(_.commitMs).getOrElse(0.0)
    val drainS = (burstDone - burstStart) / 1e3
    heap.sample()
    rec.phase("burst")
    q.stop()
    tr.foreach(_.disable())
    val bs = batches(q.recentProgress.toSeq)
    val commitOf = bs.map(b => b.id -> b.commitMs).toMap

    // every stamped id exactly once in the business sink, with its batch
    val idRe = "\"id\":(\\d+),\"ts\":(\\d+)".r
    val seen = new Array[Int](total)
    val latencies = Vector.newBuilder[Double]
    var bad = 0L
    Option(new File(root, "out/enrich_all.dat.d").listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("batch=")).foreach { dir =>
        val commit = commitOf.get(dir.getName.stripPrefix("batch=").toLong)
        ProjectRun.readSinkLines(dir).foreach { l =>
          idRe.findFirstMatchIn(l) match {
            case Some(m) if m.group(1).toInt < total =>
              val id = m.group(1).toInt
              seen(id) += 1
              val ts = m.group(2).toLong
              if (id >= ColdLines && id < ColdLines + nRate && ts >= startMs + WarmupS * 1000)
                commit.foreach(c => latencies += c - ts)
            case _ => bad += 1
          }
        }
      }
    val missing = seen.count(_ == 0)
    val dupes = seen.count(_ > 1)
    rec.op(missing == 0 && dupes == 0 && bad == 0,
      s"business sink: $missing ids missing, $dupes duplicated, $bad unreadable lines")
    rec.notes += s"business sink digest ${Digest.of(seen.indices.map(i => s"$i:${seen(i)}"))}"
    val lat = latencies.result()

    val drain = if (burstOk && drainS > 0) BurstLines / drainS else 0.0
    val firstData = bs.headOption.map(_.commitMs - queryStart).getOrElse(0.0) / 1e3
    val timed = bs.filter(b => b.startMs >= startMs + WarmupS * 1000 && b.startMs < burstStart)
    // sustained: the fixed-rate lines over the time from their first drop
    // to the commit of the last of them
    var cumRows = 0L
    val rateCommit = bs.find { b => cumRows += b.rows; cumRows >= ColdLines + nRate }
      .map(_.commitMs).filter(_ > startMs)
    rec.put("cold_run_s", firstData, "s")
    rec.put("lines_per_s", rateCommit.map(c => nRate / ((c - startMs) / 1e3)).getOrElse(0.0),
      "lines/s")
    rec.put("drain_lps", drain, "lines/s")
    rec.put("latency_ms_p50", Stats.quantile(lat, 0.5), "ms")
    rec.put("latency_ms_p99", Stats.quantile(lat, 0.99), "ms")
    // stand-in (README): the median micro-batch wall time at the fixed rate
    rec.put("mix_total_s", Stats.median(timed.map(_.durations.getOrElse("triggerExecution", 0.0))) / 1e3, "s")
    rec.put("heap_mb", heap.medianMb, "MB")
    rec.put("gen.late_ms_max", lateMax.get.toDouble, "ms")
    rec.put("streaming.latency_samples", lat.length.toDouble, "count")

    // backlog: lines dropped but not yet committed, at each commit
    var cum = 0L
    val backlog = bs.filter(b => b.startMs >= startMs && b.startMs < burstStart).map { b =>
      cum += b.rows
      val dropped = math.min(ticks, ((b.commitMs - startMs) / TickMs).toInt + 1).toLong * perTick
      (b.startMs, (dropped - cum).toDouble / perTick)
    }
    val inWindow = backlog.filter(_._1 >= startMs + WarmupS * 1000).map(_._2)
    val third = math.max(1, inWindow.length / 3)
    val growing = inWindow.length >= 3 &&
      inWindow.takeRight(third).sum / third > inWindow.take(third).sum / third + 2
    if (growing) rec.notes += "backlog grew across the timed window: the fixed rate exceeds capacity"
    rec.put("streaming.backlog_growing", if (growing) 1.0 else 0.0, "count")
    rec.put("streaming.backlog_files_max", Try(backlog.map(_._2).max).getOrElse(0.0), "count")
    rec.put("streaming.batches", timed.length.toDouble, "count")
    rec.put("streaming.rows_per_batch_p50", Stats.median(timed.map(_.rows.toDouble)), "count")
    Seq("latestOffset" -> "streaming.latest_offset_ms", "queryPlanning" -> "streaming.query_planning_ms",
      "addBatch" -> "streaming.add_batch_ms", "walCommit" -> "streaming.wal_commit_ms",
      "triggerExecution" -> "streaming.trigger_execution_ms").foreach { case (k, name) =>
      rec.put(name, Stats.median(timed.map(_.durations.getOrElse(k, 0.0))), "ms")
    }
    rec.notes += bs.map(b => f"${b.id}:${(b.startMs - startMs) / 1e3}%.1f/${b.rows}/${b.commitMs - b.startMs}%.0f").mkString("batches ", " ", "")
    rec.notes += f"fixed rate $Rate lines/s, ${lat.length} latency samples, " +
      f"${timed.length} timed batches, burst of $BurstLines lines drained in " +
      f"$drainS%.3f s, generator late by at most ${lateMax.get} ms"

    tr.foreach { t =>
      bs.foreach(b => t.add(Span(s"b${b.id}", "", "batch", s"micro-batch ${b.id}", b.startMs,
        b.commitMs, b.durations.map { case (k, v) => s"ms_$k" -> v } + ("rows" -> b.rows.toDouble))))
      val all = t.spans
      Etl.sparkLayers(rec, t, all, all.filter(s => s.kind == "batch" &&
        timed.exists(b => s.id == s"b${b.id}")), cores)
      t.write(new File(a.work, "spans.jsonl"), all)
      Etl.pipelineLayers(rec, ready, watch, total, (0 until 20000).map(stamped(_, startMs)),
        Seq("json", "kv"), cores)
      rec.put("sinks.rows_out", Seq("enrich_all", "enrich_normal", "default", "miss", "intercept")
        .map(f => ProjectRun.readSinkLines(new File(root, s"out/$f.dat")).length).sum.toDouble, "count")
      rec.put("sinks.bytes_out", Files2.bytes(new File(root, "out")).toDouble, "bytes")
    }
    rec.phase("checked")
    Session.stop(spark)
  }
}
