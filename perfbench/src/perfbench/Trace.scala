package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** Per-layer accounting for the traced run.
  *
  * Each call into a layer runs under a Spark job group named after the
  * layer, so every job, stage and task the call starts is attributed to it.
  * The listener records, per layer: jobs, summed executor run time, shuffle
  * bytes written, bytes spilled to disk, and the wall-clock intervals in
  * which its stages ran. `gap_ms` is call wall time that no running stage of
  * the layer covers: driver work, planning and waiting.
  */
final class Tracer(spark: SparkSession) extends SparkListener {
  private final class Acc {
    var calls = 0L
    var callNs = 0L
    val callIv = mutable.ArrayBuffer.empty[(Long, Long)] // epoch ms
    var jobs = 0L
    var taskMs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    val stageIv = mutable.ArrayBuffer.empty[(Long, Long)]
  }
  private val accs = mutable.LinkedHashMap.empty[String, Acc]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val ccRounds = mutable.HashSet.empty[String]
  private val counts = mutable.LinkedHashMap.empty[String, Double]
  private val GroupKey = "spark.jobGroup.id"

  spark.sparkContext.addSparkListener(this)

  private def acc(layer: String): Acc = synchronized(accs.getOrElseUpdate(layer, new Acc))

  def layer[T](name: String)(body: => T): T = {
    val sc = spark.sparkContext
    acc(name)
    sc.setJobGroup(name, name, interruptOnCancel = false)
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      val w1 = System.currentTimeMillis()
      sc.clearJobGroup()
      synchronized {
        val a = acc(name)
        a.calls += 1
        a.callNs += t1 - t0
        a.callIv += ((w0, w1))
      }
    }
  }

  def count(name: String, v: Double): Unit = synchronized(counts(name) = v)
  def add(name: String, v: Double): Unit =
    synchronized(counts(name) = counts.getOrElse(name, 0.0) + v)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).map(_.getProperty(GroupKey)).orNull
    if (g != null) synchronized {
      acc(g).jobs += 1
      e.stageIds.foreach(s => stageGroup(s) = g)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val g = Option(e.properties).map(_.getProperty(GroupKey)).orNull
    if (g != null) synchronized(stageGroup(e.stageInfo.stageId) = g)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    stageGroup.get(si.stageId).foreach { g =>
      for (s <- si.submissionTime; c <- si.completionTime) acc(g).stageIv += ((s, c))
    }
    si.accumulables.values.foreach { a =>
      a.name.filter(_.startsWith("cc_changed_")).foreach(ccRounds += _)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) synchronized {
      stageGroup.get(e.stageId).foreach { g =>
        val a = acc(g)
        a.taskMs += m.executorRunTime
        a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.diskBytesSpilled
      }
    }
  }

  /** length of the union of `ivs`, clipped to the union of `within` */
  private def covered(ivs: Seq[(Long, Long)], within: Seq[(Long, Long)]): Long = {
    def merge(xs: Seq[(Long, Long)]) = xs.sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
      case ((s0, e0) :: rest, (s, e)) if s <= e0 => (s0, math.max(e0, e)) :: rest
      case (acc, iv) => iv :: acc
    }
    val a = merge(ivs); val b = merge(within)
    (for ((s1, e1) <- a; (s2, e2) <- b) yield math.max(0L, math.min(e1, e2) - math.max(s1, s2))).sum
  }

  /** all per-layer metrics and counts; layers never called report zeros */
  def metrics(layers: Seq[String]): Seq[(String, Double, String)] = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    synchronized {
      val perLayer = layers.flatMap { l =>
        val a = accs.getOrElse(l, new Acc)
        val ms = a.callNs / 1e6
        val gap = math.max(0.0, ms - covered(a.stageIv.toSeq, a.callIv.toSeq))
        Seq(
          (s"$l.ms", ms, "ms"),
          (s"$l.jobs", a.jobs.toDouble, "count"),
          (s"$l.task_ms", a.taskMs.toDouble, "ms"),
          (s"$l.gap_ms", gap, "ms"),
          (s"$l.shuffle_mb", a.shuffleBytes / 1e6, "MB"),
          (s"$l.spill_mb", a.spillBytes / 1e6, "MB"))
      }
      // a round that changed a label updates its cc_changed_<i> accumulator;
      // each call also ran one last round that changed nothing
      counts("ops.cc.rounds") = (ccRounds.size + accs.get("ops.cc").map(_.calls).getOrElse(0L)).toDouble
      perLayer ++ Tracer.Counts.map { case (k, u) => (k, counts.getOrElse(k, 0.0), u) }
    }
  }
}

object Tracer {
  val Layers: Seq[String] = Seq(
    "etl.extract", "etl.pivot", "etl.normalize", "etl.flatten", "etl.profile",
    "etl.registry", "etl.sink",
    "queries.build", "queries.plan", "queries.exec", "core.caches",
    "ops.dedup.sig", "ops.dedup.pairs", "ops.dedup.verify", "ops.cc", "ops.sim")

  /** counts recorded at layer boundaries (0 where a workload has no such layer) */
  val Counts: Seq[(String, String)] = Seq(
    "etl.extract.records" -> "count", "etl.pivot.columns" -> "count",
    "etl.registry.bytes" -> "bytes", "ops.dedup.candidates" -> "count",
    "ops.dedup.verified" -> "count", "ops.dedup.yield" -> "ratio",
    "ops.cc.rounds" -> "count", "jvm.gc_ms" -> "ms", "jvm.jit_ms" -> "ms")

  /** run `body` as a call into `name` when tracing, else just run it */
  def layer[T](tr: Option[Tracer], name: String)(body: => T): T = tr match {
    case Some(t) => t.layer(name)(body)
    case None => body
  }

  /** time the JIT compilers have spent so far */
  def jitMs(): Long =
    java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
  }
}
