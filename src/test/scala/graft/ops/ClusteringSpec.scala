package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions.col

class ClusteringSpec extends SparkSpec {

  test("assign picks the nearest centroid and gives a null vector the -1 cid") {
    import spark.implicits._
    val cents = Seq(0 -> Array(1.0, 0.0), 1 -> Array(0.0, 1.0))
    val df = Seq[(Long, Option[Array[Double]])](
      (0L, Some(Array(0.9, 0.1))), (1L, None), (2L, Some(Array(0.1, 0.8)))).toDF("id", "v")
    val got = df.select(col("id"), Clustering.assign(col("v"), cents).as("cid"))
      .orderBy(col("id")).collect().map(r => r.getLong(0) -> r.get(1)).toSeq
    assert(got == Seq(0L -> 0, 1L -> -1, 2L -> 1))
  }
}
