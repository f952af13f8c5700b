package perfbench

import java.io.File
import graft.oml.{KnowDb, OmlEval, OmlText}
import graft.wpl.{PPartial, PSuccess, Runtime, WField}

/** Single-thread, warm, per-record layer timings over a workload's own
  * records: the baseline that `engine.overhead_x` divides by. Each
  * timing loops over the sample until a minimum time has passed, after
  * an equal warm-up, and reports ns per record. */
object Layers {
  private val WarmNs = 300e6
  private val MeasureNs = 400e6

  /** ns per item of `f` over `items`, cycling through them. */
  def nsPer[A](items: IndexedSeq[A])(f: A => Unit): Double = {
    if (items.isEmpty) return 0.0
    def loop(budgetNs: Double): (Long, Long) = {
      val t0 = System.nanoTime()
      var n = 0L
      while (System.nanoTime() - t0 < budgetNs) {
        var i = 0
        while (i < items.length) { f(items(i)); i += 1 }
        n += items.length
      }
      (n, System.nanoTime() - t0)
    }
    loop(WarmNs)
    val (n, ns) = loop(MeasureNs)
    ns.toDouble / n
  }

  def medianMs(times: Int)(f: => Unit): Double =
    Stats.median((1 to times).map(_ => Stats.time(f)._2 * 1e3))

  /** wpl.*: compile time, parse ns/line, success ratio. Returns the
    * parsed records (rule key, fields) of the lines that parsed. */
  def wpl(rec: Record, wplSrc: String, lines: IndexedSeq[String]): IndexedSeq[(String, Vector[WField])] = {
    rec.put("wpl.compile_ms", medianMs(5)(Runtime.compile(wplSrc)), "ms")
    val mp = Runtime.compile(wplSrc)
    rec.put("wpl.parse_ns", nsPer(lines)(l => mp.parseLine(l)), "ns")
    val parsed = lines.map(mp.parseLine).collect {
      case PSuccess(k, fs) => (k, fs)
      case PPartial(k, fs, _) => (k, fs)
    }
    rec.put("wpl.success_ratio", parsed.length.toDouble / math.max(1, lines.length), "share")
    parsed
  }

  /** oml.*: model parse time, transform ns/record, ok ratio. Returns
    * the transformed records (the input records when no model applies). */
  def oml(rec: Record, omlSrc: Option[String], db: KnowDb,
          parsed: IndexedSeq[(String, Vector[WField])]): IndexedSeq[Vector[WField]] =
    omlSrc match {
      case None =>
        Seq("oml.parse_ms" -> "ms", "oml.transform_ns" -> "ns", "oml.ok_ratio" -> "share")
          .foreach { case (k, u) => rec.put(k, 0.0, u) }
        parsed.map(_._2)
      case Some(src) =>
        rec.put("oml.parse_ms", medianMs(5)(OmlText.parse(src)), "ms")
        val ev = new OmlEval(OmlText.parse(src), db)
        val fields = parsed.map(_._2)
        rec.put("oml.transform_ns", nsPer(fields)(fs => ev.transform(fs)), "ns")
        val out = fields.flatMap(ev.transform)
        rec.put("oml.ok_ratio", out.length.toDouble / math.max(1, fields.length), "share")
        out
    }

  /** knowdb.*: directory load time, equality-probe ns and hit ratio
    * over the workload's own keys (none when it has no table). */
  def knowdb(rec: Record, root: File, keys: IndexedSeq[String]): Unit = {
    rec.put("knowdb.load_ms", medianMs(5)(graft.project.KnowDbLoader.load(root)), "ms")
    val table = graft.project.KnowDbLoader.load(root).table("zone")
    table match {
      case Some(t) if keys.nonEmpty =>
        rec.put("knowdb.lookup_ns", nsPer(keys)(k => t.lookupEq("id", k)), "ns")
        rec.put("knowdb.hit_ratio", keys.count(k => t.lookupEq("id", k).nonEmpty).toDouble /
          keys.length, "share")
      case _ =>
        rec.put("knowdb.lookup_ns", 0.0, "ns")
        rec.put("knowdb.hit_ratio", 0.0, "share")
    }
  }

  /** sinks.format_ns: per-record formatting in the fmts the workload's
    * sinks use. */
  def format(rec: Record, fmts: Seq[String], records: IndexedSeq[Vector[WField]]): Unit = {
    import graft.sinks.Formatters
    val fns: Seq[Vector[WField] => String] = fmts.map {
      case "json" => Formatters.json _
      case "kv" => Formatters.kv _
      case _ => (fs: Vector[WField]) => Formatters.raw(fs)
    }
    rec.put("sinks.format_ns", nsPer(records)(r => fns.foreach(_(r))), "ns")
  }
}
