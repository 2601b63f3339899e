package graft.core

import graft.SparkSpec

/** `Par.width` counts leaf bytes, and a persisted input only once its cache
  * is built: an unbuilt cache reports the estimate of the plan it caches,
  * which for a cross join is the no-CBO product of its children.
  */
class ParSpec extends SparkSpec {

  private def cores = spark.sparkContext.defaultParallelism

  test("an unmaterialized persisted cross join gets width = cores") {
    def joined = spark.range(100000).crossJoin(spark.range(100000).withColumnRenamed("id", "j"))
    // the product estimate the width must not trust
    assert(joined.queryExecution.optimizedPlan.stats.sizeInBytes > BigInt(Par.targetBytes) * 1000)
    val cached = joined.persist()
    try {
      assert(Par.leafBytes(cached) == 0)
      assert(Par.width(cached) == cores)
    } finally cached.unpersist()
  }

  test("a materialized cache counts its built size") {
    val cached = spark.range(1000).selectExpr("id", "cast(id as string) s").persist()
    try {
      assert(Par.leafBytes(cached) == 0)
      cached.count()
      assert(Par.leafBytes(cached) > 0)
      assert(Par.width(cached) == cores)
    } finally cached.unpersist()
  }

  test("a plain scan gets width = cores at test sizes") {
    val dir = java.nio.file.Files.createTempDirectory("graft-par").resolve("t").toString
    spark.range(100000).selectExpr("id", "id % 7 k").write.parquet(dir)
    val scan = spark.read.parquet(dir).groupBy("k").count()
    assert(Par.leafBytes(scan) > 0)
    assert(Par.width(scan) == cores)
  }
}
