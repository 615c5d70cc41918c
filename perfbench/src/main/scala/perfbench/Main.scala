package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Measurements of one run, written as JSON for the launcher. */
final class Outcome {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  val info = mutable.LinkedHashMap.empty[String, Any]
  var attempted = 0L
  var failed = 0L

  def metric(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)

  def check(name: String, ok: Boolean, detail: => String = ""): Unit =
    checks += ((name, ok, if (ok) "" else detail))
}

/** Arguments shared by the workloads. */
final case class Run(spark: SparkSession, seed: Long, seconds: Double,
    trace: Boolean, input: Path, work: Path, rec: Recorder, out: Outcome) {

  /** Nanosecond deadline of the timed window, fixed when it opens. */
  var deadline = 0L
  def openWindow(): Unit = deadline = System.nanoTime() + (seconds * 1e9).toLong
  def open: Boolean = System.nanoTime() < deadline

  /** Whether the `k`-th operation keeps going past the window, and
    * whether it is recorded. A traced run interleaves recorder on and
    * off as on, off, off, on for at least four operations, so a warm-up
    * trend cancels out of the overhead estimate. */
  def more(k: Int): Boolean = k == 0 || open || (trace && k < 4)
  def traced(k: Int): Boolean = trace && (k % 4 == 0 || k % 4 == 3)
}

/** Entry point of the benchmark JVM:
  * `perfbench.Main --workload W --seed N --seconds S --trace 0|1
  * --input DIR --work DIR`. Writes `result.json` (and, when tracing,
  * `spans.jsonl`) into the work dir; the launcher prints the result. */
object Main {
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = Paths.get(a("work"))
    val spark = graft.SparkEnv.session(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString))
    calibSec() // allocate and warm the probe outside every measurement
    val out = new Outcome
    out.info("spark_up_s") = sinceJvmStart()
    val run = Run(spark, a("seed").toLong, a("seconds").toDouble,
      a("trace") == "1", Paths.get(a("input")), work, new Recorder(spark), out)
    try {
      a("workload") match {
        case "sync_fanout" => SyncBench.fanout(run)
        case "resync_reads" => SyncBench.resync(run)
        case "gates_sf01" => GateBench.gates(run)
        case w => sys.error(s"unknown workload $w")
      }
      if (run.trace) writeSpans(run.rec.result(), work.resolve("spans.jsonl"))
      out.info("vm_hwm_mb") = vmHwmMb()
      out.info("done_s") = sinceJvmStart()
    } finally spark.stop()
    val result = Map(
      "metrics" -> out.metrics.map { case (k, (v, u)) =>
        k -> Map("value" -> v, "unit" -> u) },
      "attempted" -> out.attempted, "failed" -> out.failed,
      "checks" -> out.checks.map { case (n, ok, d) =>
        Map("name" -> n, "ok" -> ok, "detail" -> d) },
      "info" -> out.info)
    Files.writeString(work.resolve("result.json"), json.writeValueAsString(result))
  }

  def readJson(p: Path): JsonNode = json.readTree(p.toFile)

  /** Peak resident set of this process (`VmHWM`), in MB. */
  def vmHwmMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status"))
      .toArray(Array.empty[String]).find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }

  /** Seconds since this JVM started. */
  def sinceJvmStart(): Double =
    (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  /** Interpolated percentile (`p` in 0..100) of a non-empty sample. */
  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    val r = (s.size - 1) * p / 100.0
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  def median(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else pct(xs, 50)

  /** Fixed CPU and memory-bandwidth probe, the same byte sweep over a
    * 4 MiB buffer that `graft.Bench` brackets its queries with: a slow
    * probe marks a contended machine, not a slow program. */
  private lazy val calibBuf = Array.tabulate(1 << 22)(i => (i * 2654435761L).toByte)
  @volatile private var calibSink = 0L
  def calibSec(): Double = calibBuf.synchronized {
    val t0 = System.nanoTime()
    var h = 0L
    var r = 0
    while (r < 8) {
      var i = 0
      while (i < calibBuf.length) { h = h * 31 + calibBuf(i); i += 8 }
      r += 1
    }
    calibSink ^= h
    (System.nanoTime() - t0) / 1e9
  }

  /** Files and bytes of every regular file under `dir`. */
  def du(dir: Path): (Long, Long) = {
    if (!Files.exists(dir)) return (0L, 0L)
    val s = Files.walk(dir)
    try {
      var files = 0L
      var bytes = 0L
      s.forEach { p =>
        if (Files.isRegularFile(p)) { files += 1; bytes += Files.size(p) }
      }
      (files, bytes)
    } finally s.close()
  }

  private def writeSpans(t: Trace, path: Path): Unit = {
    val w = Files.newBufferedWriter(path)
    try t.spans.foreach { s =>
      val c = t.counters.getOrElse(s.id, new Counters)
      w.write(json.writeValueAsString(Map(
        "id" -> s.id, "op" -> s.op, "parent" -> s.parent, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "dur_s" -> s.durNs / 1e9,
        "self_s" -> t.selfNs(s) / 1e9, "jobs" -> c.jobs, "tasks" -> c.tasks,
        "task_cpu_s" -> c.cpuNs / 1e9, "task_run_s" -> c.runMs / 1e3,
        "gc_s" -> c.gcMs / 1e3, "shuffle_read_bytes" -> c.shuffleRead,
        "shuffle_write_bytes" -> c.shuffleWrite, "spill_bytes" -> c.spill,
        "output_bytes" -> c.outBytes, "output_records" -> c.outRecords)))
      w.newLine()
    } finally w.close()
  }
}
