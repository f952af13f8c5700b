package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, StandardCopyOption}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Command-line arguments of one benchmark run. `work` is the run's
  * scratch directory (inputs, project, sink output, spans). */
final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      work: File, out: File, cores: Int)

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(req("workload"), req("seed").toLong, req("seconds").toDouble,
      req("trace") == "1", new File(req("work")), new File(req("out")), req("cores").toInt)
  }
}

/** The record a run hands back: correctness counts plus named metrics
  * (value, unit), and free-form notes and sink digests for the log. */
final class Record {
  var attempted = 0L
  var failed = 0L
  val metrics = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
  val notes = scala.collection.mutable.ArrayBuffer.empty[String]

  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
  /** Count one operation; a failed one is also noted with its reason. */
  def op(ok: Boolean, what: => String): Boolean = {
    attempted += 1
    if (!ok) { failed += 1; notes += s"FAILED: $what" }
    ok
  }

  private val phases = scala.collection.mutable.ArrayBuffer.empty[String]
  /** Mark the end of a phase of the run (seconds since JVM start), for the notes. */
  def phase(name: String): Unit =
    phases += f"$name ${ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f"

  def toJson: String = Json.obj(Seq(
    "correct" -> (failed == 0 && attempted > 0),
    "attempted" -> attempted,
    "failed" -> failed,
    "metrics" -> Json.Obj(metrics.map { case (k, (v, u)) =>
      k -> Json.Obj(Seq("value" -> v, "unit" -> u)) }.toSeq),
    "notes" -> (notes.toSeq :+ phases.mkString("phases (s from JVM start): ", ", ", ""))))
}

/** Minimal JSON writer for the record and span files. */
object Json {
  def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def value(v: Any): String = v match {
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case Obj(kv) => obj(kv)
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  final case class Obj(kv: Seq[(String, Any)])
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => quote(k) + ":" + value(v) }.mkString("{", ",", "}")
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile; 0 for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  /** Quantile of values weighted by counts (each value stands for that
    * many samples); 0 when there are none. */
  def weightedQuantile(xs: Seq[(Double, Long)], q: Double): Double = {
    val s = xs.filter(_._2 > 0).sortBy(_._1)
    val total = s.map(_._2).sum
    if (total == 0) return 0.0
    val target = math.max(1L, math.ceil(q * total).toLong)
    var cum = 0L
    s.find { case (_, n) => cum += n; cum >= target }.map(_._1).getOrElse(s.last._1)
  }
  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  def time[A](f: => A): (A, Double) = { val t0 = System.nanoTime(); val a = f; (a, secs(t0)) }

  /** Total length of the union of [start, end) intervals. */
  def unionLength(iv: Seq[(Double, Double)]): Double = {
    var total, curS, curE = 0.0
    var open = false
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (!open || s > curE) { if (open) total += curE - curS; curS = s; curE = e; open = true }
      else curE = math.max(curE, e)
    }
    if (open) total += curE - curS
    total
  }
}

object Files2 {
  def write(f: File, s: String): Unit = {
    f.getParentFile.mkdirs()
    Files.write(f.toPath, s.getBytes(UTF_8))
  }
  /** Write then rename into place, so a directory watcher never sees a
    * half-written file. */
  def writeAtomic(tmpDir: File, dest: File, lines: Iterator[String]): Unit = {
    tmpDir.mkdirs()
    dest.getParentFile.mkdirs()
    val tmp = new File(tmpDir, dest.getName + ".tmp")
    val w = Files.newBufferedWriter(tmp.toPath, UTF_8)
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
    Files.move(tmp.toPath, dest.toPath, StandardCopyOption.ATOMIC_MOVE)
  }
  /** Every regular data file under `f` (part files, merged files). */
  def dataFiles(f: File): Seq[File] =
    if (f.isFile) Seq(f)
    else if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.sortBy(_.getName)
      .filterNot(x => x.getName.startsWith(".") || x.getName.startsWith("_"))
      .flatMap(dataFiles)
    else Seq.empty
  def bytes(f: File): Long = dataFiles(f).map(_.length).sum
  /** Wall clock and file times in epoch milliseconds, with sub-millisecond digits. */
  def nowMs(): Double = {
    val t = java.time.Instant.now()
    t.getEpochSecond * 1e3 + t.getNano / 1e6
  }
  def mtimeMs(f: File): Double =
    Files.getLastModifiedTime(f.toPath).to(java.util.concurrent.TimeUnit.MICROSECONDS) / 1e3
}

/** Order-independent digest of a multiset of lines: the sum and xor of
  * per-line 64-bit hashes, so two runs (or two commits) writing the same
  * lines in any order and partitioning agree. */
object Digest {
  private def h64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    val b = s.getBytes(UTF_8)
    var i = 0
    while (i < b.length) { h = (h ^ (b(i) & 0xff)) * 0x100000001b3L; i += 1 }
    h ^ (h >>> 29)
  }
  def of(lines: Iterable[String]): String = {
    var sum, xor = 0L
    lines.foreach { l => val h = h64(l); sum += h; xor ^= h }
    f"$sum%016x$xor%016x"
  }
}

/** Heap used after GC: at each sample point (the end of a rep, or of a
  * daemon phase, outside any timing) a full collection runs and the heap
  * used after it, summed over the JVM's heap memory pools, is read. The
  * median sample is reported: a young-collection snapshot is full of not
  * yet collected garbage, and the largest of several full-collection
  * samples jumps when one of them catches Spark's cleaner mid-way. */
final class HeapWatch {
  private val samples = scala.collection.mutable.ArrayBuffer.empty[Double]
  def sample(): Unit = {
    System.gc()
    samples += ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getUsage.getUsed).sum / (1024.0 * 1024.0)
  }
  def medianMb: Double = Stats.median(samples.toSeq)
}

object Session {
  /** A local session sized for one workload. Spark's scratch and the
    * warehouse stay inside the run directory. */
  def create(cores: Int, work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}
