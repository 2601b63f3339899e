package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FormattedMode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

import graft.core.{Caches, Session}

/** Profiles registry queries one at a time, without the UI: after a warm
  * run it times `groupBy().count()` (the plan `Dataset.count()` runs,
  * builder work included), then prints the wall time, the row count, the
  * stages of that run (duration, tasks, input and shuffle bytes) and the
  * executed operator tree with its SQL metrics, and writes the formatted
  * plan to `target/profile/<query>.txt`.
  *
  * Repeated timings are Bench's job: `SPARK_GRAFT_BENCH_ONLY=<prefix>`.
  *
  * Usage: runMain graft.tools.QueryProfile <prefix>[,<prefix>...] [sfDir]
  */
object QueryProfile {

  final case class Report(query: String, sec: Double, rows: Long,
      stages: Seq[StageInfo], ops: Seq[String], planFile: Path) {
    def lines: Seq[String] = {
      def ms(s: StageInfo) =
        (for (a <- s.submissionTime; b <- s.completionTime) yield b - a).getOrElse(-1L)
      Seq(f"== $query: $sec%.2f s ($rows rows), ${stages.size} stages") ++
        stages.sortBy(-ms(_)).map { s =>
          val m = s.taskMetrics
          f"  stage ${s.stageId}%4d ${ms(s)}%6d ms  tasks=${s.numTasks}%3d  " +
            f"in=${m.inputMetrics.bytesRead / 1024}%7d KiB  " +
            f"shR=${m.shuffleReadMetrics.totalBytesRead / 1024}%6d KiB  " +
            f"shW=${m.shuffleWriteMetrics.bytesWritten / 1024}%6d KiB  " +
            label(s).take(80)
        } ++
        Seq(f"  stage-ms total: ${stages.map(ms).sum} (wall ${sec * 1000}%.0f ms; gap = scheduling/driver)") ++
        ops :+ s"  plan: $planFile"
    }
  }

  /** A stage named by the operators that built it: the distinct operation
    * scopes of its RDDs, oldest first (`WholeStageCodegen (2) > Exchange`).
    * Its call site says nothing for the stages AQE submits asynchronously.
    */
  def label(s: StageInfo): String = {
    val scopes = s.rddInfos.sortBy(_.id).flatMap(_.scope.map(_.name)).distinct
    if (scopes.isEmpty) s.name.takeWhile(_ != '\n') else scopes.mkString(" > ")
  }

  /** One profiled run of `query` on `sfDir`; the formatted plan is written
    * to `planDir/<query>.txt`.
    */
  def profile(spark: SparkSession, query: String, sfDir: String, planDir: Path): Report = {
    val fn = graft.SparkEntry.queries(query)
    val sc = spark.sparkContext
    fn(spark, sfDir).count() // warm: codegen + JIT
    Caches.release()
    ListenerDrain(sc)
    val stages = ArrayBuffer[StageInfo]()
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stages.synchronized(stages += e.stageInfo)
    }
    sc.addSparkListener(listener)
    try {
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val cnt = df.groupBy().count()
      val rows = cnt.collect()(0).getLong(0)
      val sec = (System.nanoTime() - t0) / 1e9
      ListenerDrain(sc)
      Files.createDirectories(planDir)
      val planFile = planDir.resolve(s"$query.txt")
      Files.write(planFile,
        df.queryExecution.explainString(FormattedMode).getBytes(StandardCharsets.UTF_8))
      Report(query, sec, rows, stages.synchronized(stages.toVector),
        walk(cnt.queryExecution.executedPlan, 1), planFile)
    } finally {
      sc.removeSparkListener(listener)
      Caches.release()
    }
  }

  /** the executed tree, through AQE stages, reused exchanges and
    * subqueries, with each node's nonzero time, row and size metrics
    */
  private def walk(p: SparkPlan, depth: Int): Seq[String] = {
    val metrics = p.metrics.collect {
      case (k, m) if m.value > 0 && (k.contains("Time") || k == "numOutputRows" ||
          k == "dataSize" || k.contains("build") || k.contains("collect")) =>
        m.metricType match {
          case "nsTiming" => s"$k=${m.value / 1000000}ms"
          case "timing" => s"$k=${m.value}ms"
          case _ => s"$k=${m.value}"
        }
    }
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case _ => p.children
    }
    (("  " * depth) + p.nodeName + "  " + metrics.mkString(" ")) +:
      (kids.flatMap(walk(_, depth + 1)) ++
        p.subqueries.flatMap(sq => (("  " * (depth + 1)) + "[subquery]") +: walk(sq, depth + 2)))
  }

  def main(args: Array[String]): Unit = {
    val prefixes = args(0).split(",").toSeq
    val sfDir = args.drop(1).headOption.getOrElse("/root/testdata/sf0.1")
    val spark = Session.local()
    graft.queries.Registry.all.map(_.name).filter(n => prefixes.exists(n.startsWith))
      .sorted.foreach { name =>
        try profile(spark, name, sfDir, Paths.get("target/profile")).lines.foreach(println)
        catch { case e: Exception => System.err.println(s"[profile] $name failed: ${e.getMessage}") }
      }
    spark.stop()
  }
}
