package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Runs one benchmark workload in this JVM and writes its raw
  * measurements as JSON: per-operation latency, process CPU and bytes
  * written, read latencies, the data the output checks need, the
  * traced spans and the run's environment. `run.py` generates the
  * inputs, launches this, and turns the raw file into metrics.
  *
  * Args: --workload <name> --seconds <s> --trace <0|1> --input <dir>
  * --work <dir> --out <file>, plus workload parameters as --p.<key>. */
object Main {
  def main(args: Array[String]): Unit = {
    require(args.length % 2 == 0, "arguments come as --key value pairs")
    val a = args.grouped(2).map(kv => kv(0).stripPrefix("--") -> kv(1)).toMap
    val params = a.collect { case (k, v) if k.startsWith("p.") => k.stripPrefix("p.") -> v }
    val spark = graft.Sessions.local(s"perfbench-${a("workload")}")
    try {
      val loop = new Loop(spark, new Tracer(spark, a("trace") == "1"),
        a("seconds").toDouble, a("input"), a("work"), params)
      val extra = a("workload") match {
        case "catalog_daily" => Workloads.catalogDaily(loop)
        case "admission_loop" => Workloads.admissionLoop(loop)
        case w => throw new IllegalArgumentException(s"unknown workload '$w'")
      }
      val sc = spark.sparkContext
      val env = Map(
        "nproc" -> Runtime.getRuntime.availableProcessors,
        "cpus_effective" -> sc.defaultParallelism,
        "master" -> sc.master,
        "spark_version" -> spark.version,
        "java_version" -> System.getProperty("java.version"),
        "xmx_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
        "aqe" -> spark.conf.get("spark.sql.adaptive.enabled"),
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"))
      val out = Map(
        "env" -> env,
        "setup_end_epoch_s" -> loop.setupEndEpochS,
        "ops" -> loop.ops.toSeq,
        "reads_s" -> loop.reads.toSeq,
        "spans" -> loop.tracer.json,
        "peak_rss_mb" -> Proc.peakRssMb,
        "live_heap_mb" -> loop.liveHeapMb) ++ extra
      Files.write(Paths.get(a("out")),
        new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsBytes(out))
    } finally spark.stop()
  }
}

/** The closed loop: one client, each operation submitted after the
  * previous one finished, until the operations and reads together
  * have taken `seconds` and at least `min_ops` operations have run
  * (the metrics are taken over the first `min_ops`). Everything a
  * workload does outside `op` and `read` (set-up, warm-up, output
  * checks) is outside the timed region. */
final class Loop(val spark: SparkSession, val tracer: Tracer, seconds: Double,
    val input: String, val work: String, params: Map[String, String]) {
  val ops = ArrayBuffer.empty[Map[String, Any]]
  val reads = ArrayBuffer.empty[Double]
  private var timedS = 0.0
  var setupEndEpochS: Double = Double.NaN

  def param(k: String): Int = params(k).toInt

  /** Heap in use after full collections once `min_ops` operations
    * have run: what the program retains after the measured operations. */
  var liveHeapMb: Double = Double.NaN

  /** Whether to run another operation: inputs are left, and `seconds`
    * have not passed or fewer than `min_ops` operations have run. */
  def more(inputsLeft: Boolean): Boolean = {
    if (setupEndEpochS.isNaN) setupEndEpochS = System.currentTimeMillis / 1e3
    inputsLeft && (timedS < seconds || ops.size < param("min_ops"))
  }

  /** Times operation `index`; `check` (untimed) turns its result into
    * the fields the output check reads. */
  def op[T](index: Int)(body: => T)(check: T => Map[String, Any]): Unit = {
    val cpu0 = Proc.cpuNs; val w0 = Proc.wcharBytes; val t0 = System.nanoTime
    val r = tracer.span("op")(body)
    val lat = (System.nanoTime - t0) / 1e9
    val cpu = (Proc.cpuNs - cpu0) / 1e9; val w = Proc.wcharBytes - w0
    timedS += lat
    ops += Map("index" -> index, "latency_s" -> lat, "cpu_s" -> cpu, "wchar" -> w) ++ check(r)
    if (ops.size == param("min_ops")) liveHeapMb = Proc.liveHeapMb
  }

  def read[T](body: => T): T = {
    val t0 = System.nanoTime
    val r = tracer.span("read")(body)
    val lat = (System.nanoTime - t0) / 1e9
    timedS += lat
    reads += lat
    r
  }
}

object Proc {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs: Long = os.getProcessCpuTime

  private def procField(file: String, key: String): Long =
    scala.io.Source.fromFile(file).getLines()
      .find(_.startsWith(key)).map(_.split("\\s+")(1).toLong).getOrElse(0L)
  /** Bytes this process passed to write calls (files, shuffle, spill). */
  def wcharBytes: Long = procField("/proc/self/io", "wchar:")
  def peakRssMb: Double = procField("/proc/self/status", "VmHWM:") / 1024.0
  /** Heap in use after full collections, repeated until it has
    * stopped shrinking for two rounds: Spark's ContextCleaner frees
    * the blocks, shuffles and broadcasts of collected objects
    * asynchronously, after the collection that finds them unreachable. */
  def liveHeapMb: Double = {
    def used() = { System.gc(); ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed }
    var now = used()
    var (steady, rounds) = (0, 0)
    while (steady < 2 && rounds < 20) {
      Thread.sleep(200)
      val next = used()
      steady = if (next < now * 0.99) 0 else steady + 1
      now = math.min(now, next); rounds += 1
    }
    now / 1048576.0
  }
}
