package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs: the mains' shape on four cores. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  // shared session stays alive across suites; drop builder-registered
  // caches so one suite's intermediates don't occupy memory in the next
  override def afterAll(): Unit = graft.core.Caches.release()

  /** Count shuffle exchanges, traversing AQE wrappers: on an EXECUTED
    * adaptive plan the shuffles live inside leaf QueryStageExec nodes, so
    * a children-only walk reports ZERO and any `<= n` gate passes
    * vacuously. Reused exchanges count 0 (no new shuffle happens).
    */
  def countShuffles(p: org.apache.spark.sql.execution.SparkPlan): Int = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val self = p match {
      case _: ShuffleExchangeLike => 1
      case _ => 0
    }
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case qs: QueryStageExec => Seq(qs.plan)
      case other => other.children
    }
    self + kids.map(countShuffles).sum
  }
}

object SparkSpec {
  lazy val session: SparkSession = graft.core.Session.local(4)
}
