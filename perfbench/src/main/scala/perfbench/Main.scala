package perfbench

import java.lang.management.ManagementFactory

/** Entry point of one benchmark run: generates the workload's inputs
  * from the seed, runs it, checks the outputs, and writes the record
  * (correctness counts, metrics, notes) as JSON to `--out`. */
object Main {
  /** Seconds from JVM start to this entry point: part of the first set-up. */
  val bootS: Double = ManagementFactory.getRuntimeMXBean.getUptime / 1e3

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val rec = new Record
    try a.workload match {
      case "batch_parse" | "batch_enrich" => Batch.run(a, rec)
      case "daemon_kv" => Daemon.run(a, rec)
      case "query_mix" => QueryMix.run(a, rec)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        rec.op(ok = false, s"run aborted: $e")
    }
    Files2.write(a.out, rec.toJson)
    // Spark and streaming threads must not keep the process alive
    sys.exit(0)
  }
}
