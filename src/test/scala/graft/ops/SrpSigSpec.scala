package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** `Sketches.srpSignature` (one [[SrpSig]] expression) equals the composed
  * Column form it replaced on edge vectors: NaN, infinities, -0.0, null
  * elements, null vectors, length mismatches, float and long elements, and
  * signatures wide enough to overflow an int.
  */
class SrpSigSpec extends SparkSpec {

  /** the composed form, verbatim */
  private def dotLit(v: Column, w: Array[Long]): Column =
    aggregate(
      zip_with(v, array(w.map(x => lit(x.toDouble)): _*), (a, b) => a * b),
      lit(0.0), (acc, x) => acc + x)

  private def composed(v: Column, weights: Array[Array[Long]]): Column =
    weights.zipWithIndex.map { case (w, b) =>
      when(dotLit(v, w) >= 0, lit(1 << b)).otherwise(lit(0))
    }.reduce(_ + _)

  private val dim = 4
  private val nan = Double.NaN
  private val inf = Double.PositiveInfinity

  private def vectors(elem: DataType): DataFrame = {
    val rows: Seq[Row] = Seq[Seq[Any]](
      Seq(0.5, -1.0, 2.0, 0.25), Seq(0.0, 0.0, 0.0, 0.0), Seq(-0.0, -0.0, -0.0, -0.0),
      Seq(nan, 1.0, 1.0, 1.0), Seq(-1.0, nan, -1.0, -1.0), Seq(inf, -inf, 1.0, 1.0),
      Seq(inf, 1.0, 1.0, 1.0), Seq(-inf, 1.0, 1.0, 1.0), Seq(1e308, 1e308, -1e308, 1.0),
      Seq(1.0, null, 1.0, 1.0), Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0, 3.0, 4.0, 5.0), Seq(),
      null, Seq(-3.0, 7.0, 1e-300, -2.5)
    ).map(v => Row(Option(v).map(_.map {
      case d: Double if elem == FloatType => d.toFloat
      case d: Double if elem == LongType => if (d.isNaN || d.isInfinite) 0L else d.toLong
      case other => other
    }).orNull))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3),
      StructType(Seq(StructField("v", ArrayType(elem, containsNull = true)))))
  }

  private def both(df: DataFrame, weights: Array[Array[Long]]): Seq[(Any, Any)] =
    df.select(Sketches.srpSignature(col("v"), weights), composed(col("v"), weights))
      .collect().map(r => (r.get(0), r.get(1))).toSeq

  test("one SrpSig equals the composed form on edge vectors and element types") {
    for (bits <- Seq(1, 16, 31); elem <- Seq(DoubleType, FloatType, LongType)) {
      val w = Sketches.srpWeights(bits, dim)
      val pairs = both(vectors(elem), w)
      assert(pairs.size == 15)
      assert(pairs.forall { case (a, b) => a == b }, s"$bits bits, $elem: $pairs")
    }
    def sig = Sketches.srpSignature(col("v"), Sketches.srpWeights(16, dim))
    assert(Bridge.expression(sig).collect { case l: Literal => l }.isEmpty, "no literal per weight")
    // the cache manager finds a plan by sameResult: two builds must match
    val df = vectors(DoubleType)
    def plan = df.select(sig).queryExecution.analyzed
    assert(plan.sameResult(plan))
  }

  test("a signature past 31 bits adds its terms as Spark's int + does, overflow included") {
    // 40 planes: the terms 1 << 32 … 1 << 39 wrap to 1 … 128, so a vector
    // with planes 0 … 30 and 32 set and plane 31 clear overflows the int sum
    val w = Sketches.srpWeights(40, dim)
    val ones = Array.tabulate(40, dim)((b, _) => if (b == 31) -1L else 1L)
    val conf = spark.conf
    try {
      conf.set("spark.sql.ansi.enabled", "false")
      assert(both(vectors(DoubleType), w).forall { case (a, b) => a == b })
      assert(both(vectors(DoubleType), ones).forall { case (a, b) => a == b })
      conf.set("spark.sql.ansi.enabled", "true")
      assert(both(vectors(DoubleType), w).forall { case (a, b) => a == b })
      val one = spark.createDataFrame(spark.sparkContext.parallelize(Seq(Row(Seq(1.0, 1.0, 1.0, 1.0))), 1),
        StructType(Seq(StructField("v", ArrayType(DoubleType)))))
      for (c <- Seq(Sketches.srpSignature(col("v"), ones), composed(col("v"), ones))) {
        val e = intercept[Exception](one.select(c).collect())
        assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .exists(_.isInstanceOf[ArithmeticException]), e)
      }
    } finally conf.unset("spark.sql.ansi.enabled")
  }
}
