package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, IntegerType}

/** The SRP signature — a double-array vector straight to its bit sum — as
  * one codegen'd Expression, with the hyperplanes as one constant
  * `double[][]`.
  *
  * The composed form (a `zip_with` + `aggregate` dot per hyperplane, one
  * `when` per bit, summed) builds `dim` literal Columns per plane — 1,024
  * for a 16-bit, 64-dimension signature — every time a plan is built. This
  * kernel computes the SAME value: each dot folds `v(i) * w(i)` left to
  * right from 0.0, as `aggregate` does; bit b is set when the dot is ≥ 0
  * under Spark's double ordering (NaN is the largest value, -0.0 equals
  * 0.0); a null vector, a null element or a length mismatch makes every
  * dot null, so no bit is set; and the set bits' `1 << b` terms add up as
  * Spark's integer `+` adds them, failing on overflow when ANSI mode was
  * on where the Column was built.
  */
case class SrpSig(child: Expression, weights: Seq[Seq[Double]], failOnOverflow: Boolean)
    extends UnaryExpression {

  // `weights` is a Seq so that two builds of one plan compare equal (the
  // cache manager matches plans by value); the kernel reads this copy
  @transient private lazy val planes: Array[Array[Double]] = weights.map(_.toArray).toArray

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_srp_sig"

  override def eval(input: InternalRow): Any =
    SrpKernel.sig(child.eval(input).asInstanceOf[ArrayData], planes, failOnOverflow)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val w = ctx.addReferenceObj("srpWeights", planes, "double[][]")
    ev.copy(code = code"""
      ${c.code}
      int ${ev.value} = graft.ops.SrpKernel.sig(
        ${c.isNull} ? null : ${c.value}, $w, $failOnOverflow);
    """, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): SrpSig =
    copy(child = newChild)
}

object SrpSig {
  /** `v` is cast to `array<double>`, the type the composed form's products
    * widen its elements to.
    */
  def apply(v: Column, weights: Array[Array[Long]]): Column =
    Bridge.column(SrpSig(Bridge.expression(v.cast("array<double>")),
      weights.map(_.map(_.toDouble).toSeq).toSeq, SQLConf.get.ansiEnabled))
}

object SrpKernel {
  def sig(v: ArrayData, weights: Array[Array[Double]], failOnOverflow: Boolean): Int = {
    if (v == null) return 0
    val n = v.numElements()
    var i = 0
    while (i < n) {
      if (v.isNullAt(i)) return 0
      i += 1
    }
    var bits = 0
    var b = 0
    while (b < weights.length) {
      val w = weights(b)
      if (w.length == n) {
        var dot = 0.0
        i = 0
        while (i < n) {
          dot += v.getDouble(i) * w(i)
          i += 1
        }
        if (SQLOrderingUtil.compareDoubles(dot, 0.0) >= 0)
          bits = if (failOnOverflow) Math.addExact(bits, 1 << b) else bits + (1 << b)
      }
      b += 1
    }
    bits
  }
}
