package perfbench

import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark: one workload in one JVM under one session
  * shape. Usage (normally started by run.py):
  *
  *   perfbench.Main --workload <name> --input <dir> --out <dir> --work <dir>
  *     --seconds <n> --trace <0|1> --t0-ms <epoch ms> [--queries <file>]
  *
  * Set-up is everything from `--t0-ms` (the moment the benchmark started
  * making inputs) until the first timed round: input generation, JVM start,
  * session creation and the warm-up. The warm-up is one whole round of the
  * workload whose outputs are discarded, so class loading, code generation
  * and the first JIT compilations happen before the clock starts. Whole
  * timed rounds then run until `--seconds` have passed, at least
  * `MinTimedRounds` of them, so a slow run is not measured on fewer rounds
  * than a fast one. Each timed round records its wall time and the CPU time
  * the whole JVM spent in it. With `--trace 1` one more round runs with every layer
  * call wrapped in a job group and forced at its boundary; its excess over
  * the last timed round is the tracing overhead. Results go to
  * `<out>/result.json`.
  */
object Main {
  val MinTimedRounds = 2

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = opt("work")
    val out = opt("out")
    val cpus = Runtime.getRuntime.availableProcessors()
    HeapWatch.start()
    val spark = session(cpus, work)
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(out).mkdirs()
    def note(msg: String): Unit =
      System.err.println(f"[perfbench] ${System.currentTimeMillis() - opt("t0-ms").toLong}%6d ms: $msg")
    note("session ready")

    def workload(input: String, out: String): Workload = opt("workload") match {
      case "doc_etl_bulk" => new BulkEtl(spark, input, out)
      case "doc_etl_incremental" => new IncrementalEtl(spark, input, out)
      case "query_mix_small" =>
        new QueryMix(spark, input, out,
          scala.io.Source.fromFile(opt("queries")).getLines().map(_.trim)
            .filter(l => l.nonEmpty && !l.startsWith("#")).toVector)
      case "corpus_dedup" => new CorpusDedup(spark, input, out)
      case other => sys.error(s"unknown workload $other")
    }
    val warm = workload(opt("input"), s"$work/warmup")
    warm.round(0, None)
    Io.delete(s"$work/warmup")
    note("warm-up round done")
    val w = workload(opt("input"), out)
    HeapWatch.reset()
    val setupMs = System.currentTimeMillis() - opt("t0-ms").toLong
    val res = Json.obj("setup_ms" -> setupMs, "cpus" -> cpus)

    val budgetNs = (opt("seconds").toDouble * 1e9).toLong
    val start = System.nanoTime()
    val rounds = Vector.newBuilder[Round]
    var r = 0
    while (r < MinTimedRounds || System.nanoTime() - start < budgetNs) {
      val c0 = cpuNs()
      rounds += w.round(r, None).copy(cpuMs = (cpuNs() - c0) / 1e6)
      note(s"round $r done")
      r += 1
    }
    val all = rounds.result()
    val heapPeak = HeapWatch.peakMb
    var extra: Seq[(String, Any)] = Seq.empty
    if (opt.get("trace").contains("1")) {
      // the reference is the last timed round, right before the traced
      // one, so the tracing overhead compares rounds of the same JVM warmth
      val tr = new Tracer(spark)
      val (gc0, jit0) = (Tracer.gcMs(), Tracer.jitMs())
      val traced = w.round(r, Some(tr))
      tr.count("jvm.gc_ms", (Tracer.gcMs() - gc0).toDouble)
      tr.count("jvm.jit_ms", (Tracer.jitMs() - jit0).toDouble)
      note("traced round done")
      extra = Seq(
        "reference_wall_ms" -> all.last.wallMs,
        "traced_wall_ms" -> traced.wallMs,
        "trace" -> tr.metrics(Tracer.Layers).map { case (k, v, u) =>
          Json.obj("name" -> k, "value" -> v, "unit" -> u) })
    }
    w.finish()
    Json.write(s"$out/result.json", res ++ Seq(
      "rounds" -> all.map(_.toJson),
      "peak_rss_mb" -> peakRssMb(),
      "heap_peak_mb" -> heapPeak,
      "trace_mismatch" -> w.traceMismatch,
      "facts" -> w.facts()) ++ extra)
    spark.stop()
  }

  /** The one session shape every workload runs under (see README.md). */
  def session(cpus: Int, work: String): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .appName("perfbench")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.files.maxPartitionBytes", "16m")
    .config("spark.local.dir", s"$work/spark-local")
    .config("spark.sql.warehouse.dir", s"$work/warehouse")
    .config("spark.ui.enabled", "false")
    .config("spark.driver.host", "127.0.0.1")
    .config("spark.driver.bindAddress", "127.0.0.1")
    .getOrCreate()

  /** CPU time of every thread of this JVM so far: tasks, driver, collector
    * and compiler. Time the host withholds from the vCPUs (steal) is not in
    * it. */
  def cpuNs(): Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** VmHWM of this JVM: the peak resident set since it started. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

/** One round of a workload: its wall time, the latency of each operation it
  * attempted (NaN for a failed one), the bytes its sinks hold and the CPU
  * time the JVM spent in it (filled in by `Main`).
  */
final case class Round(wallMs: Double, opMs: Seq[Double], sinkBytes: Long, cpuMs: Double = 0.0) {
  def failed: Int = opMs.count(_.isNaN)
  def toJson: Json.Obj = Json.obj(
    "wall_ms" -> wallMs, "cpu_ms" -> cpuMs, "op_ms" -> opMs.filterNot(_.isNaN), "attempted" -> opMs.size,
    "failed" -> failed, "sink_bytes" -> sinkBytes)
}

trait Workload {
  def round(r: Int, tr: Option[Tracer]): Round
  /** after all rounds: write what the checker reads (untimed) */
  def finish(): Unit = ()
  def facts(): Json.Obj = Json.obj()
  /** where the traced round's outputs differ from the untraced round's */
  def traceMismatch: Seq[String] = Nil
}

/** Peak heap occupancy right after a collection, over the timed rounds:
  * what the program still held once the collector had run, read from the
  * collectors' own notifications. Unlike the resident set, which holds the
  * whole pinned heap, it follows what the program keeps live.
  */
object HeapWatch {
  import java.lang.management.{ManagementFactory, MemoryType}
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData
  import com.sun.management.GarbageCollectionNotificationInfo
  import scala.jdk.CollectionConverters._

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val peak = new java.util.concurrent.atomic.AtomicLong(0L)

  private val listener: NotificationListener = (n: Notification, _: Any) =>
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      peak.accumulateAndGet(used, math.max(_, _))
    }

  def start(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }
  def reset(): Unit = peak.set(0L)
  def peakMb: Double = peak.get / (1024.0 * 1024.0)
}

/** Minimal JSON writer for the result file. */
object Json {
  final case class Obj(kv: Seq[(String, Any)]) {
    def ++(more: Seq[(String, Any)]): Obj = Obj(kv ++ more)
  }
  def obj(kv: (String, Any)*): Obj = Obj(kv)
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case Obj(kv) => kv.map { case (k, x) => s"${quote(k)}: ${render(x)}" }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ", ", "]")
    case x => quote(x.toString)
  }
  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def write(path: String, o: Obj): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), render(o) + "\n")
}
