package graft.core

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.tools.QueryProfile

/** One session shape for every main, tool and spec, and the one query
  * profiler running on it.
  */
class SessionSpec extends SparkSpec {

  private def scalaFiles(root: Path): Seq[(String, String)] = {
    val s = Files.walk(root)
    try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toVector
      .map(p => (root.relativize(p).toString.replace('\\', '/'), Files.readString(p)))
    finally s.close()
  }

  test("a SparkSession is built only in core/Session.scala") {
    val Builder = """SparkSession\s*\.\s*builder""".r
    def building(root: String) = scalaFiles(Paths.get(root)).collect {
      case (f, text) if Builder.findFirstIn(text).isDefined => f
    }
    assert(building("src/main/scala") == Seq("graft/core/Session.scala"))
    assert(building("src/test/scala").isEmpty, "specs share Session.local(4) via SparkSpec")
  }

  test("the shared test session is Session.local(4)") {
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.files.maxPartitionBytes") == "16m")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
  }

  test("QueryProfile records stages, the operator tree and the plan file") {
    val planDir = Files.createTempDirectory("graft-profile")
    val planFile = planDir.resolve("q01_pricing_summary.txt")
    try {
      val r = QueryProfile.profile(spark, "q01_pricing_summary", "/root/testdata/sf0.001", planDir)
      assert(r.rows > 0)
      assert(r.stages.nonEmpty)
      assert(r.ops.exists(_.contains("HashAggregate")), r.ops.mkString("\n"))
      assert(r.planFile == planFile)
      assert(Files.readString(planFile).contains("== Physical Plan =="))
      assert(r.lines.head.startsWith("== q01_pricing_summary: "))
      // AQE submits most stages asynchronously: their call sites name a
      // CompletableFuture, their operation scopes name the operators
      val labels = r.stages.map(QueryProfile.label)
      assert(labels.forall(!_.contains("withThreadLocalCaptured")), labels.mkString("\n"))
      assert(labels.exists(_.contains("Exchange")), labels.mkString("\n"))
    } finally {
      Files.deleteIfExists(planFile)
      Files.delete(planDir)
    }
  }
}
