package graft.functions

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Mergeable per-row partial state for the algebraic feature family —
  * the continuous-aggregate core (SURVEY.md §7.3). One pass over the
  * row's token array produces a `graft.core.TokenState` struct (fields and
  * merge rules documented there) that composes exactly, in concatenation
  * order, into the same features the per-epoch kernels compute on the
  * concatenated signal. engine.TokenRollup implements the ordered merge
  * with window-lag bridging. Rows must have n >= 2 for the merge to stay
  * associative (generator guarantees >= 64).
  */
case class TokenPartialsExpr(child: Expression, scale: Double,
                             zcThreshold: Double = 2.220446049250313e-16)
    extends UnaryExpression {

  override def dataType: DataType = TokenPartialsExpr.schema
  override def nullable: Boolean = true
  override def prettyName: String = "graft_token_partials"

  @transient private lazy val elemType: DataType = child.dataType match {
    case ArrayType(et, _) => et
    case other => throw new IllegalArgumentException(s"expects array, got $other")
  }

  override def nullSafeEval(input: Any): Any = {
    val ad = input.asInstanceOf[ArrayData]
    val n = ad.numElements()
    if (n < 2) return null
    @inline def at(i: Int): Double = (elemType match {
      case IntegerType => ad.getInt(i).toDouble
      case LongType => ad.getLong(i).toDouble
      case DoubleType => ad.getDouble(i)
      case FloatType => ad.getFloat(i).toDouble
      case ShortType => ad.getShort(i).toDouble
      case other => throw new IllegalArgumentException(s"bad elem type $other")
    }) * scale
    var s1, s2, s3, s4, sumAbsD, sumDSq, sumESq = 0.0
    var mn = Double.PositiveInfinity
    var mx = Double.NegativeInfinity
    var zc = 0L
    @inline def sgn(v: Double): Int =
      if (math.abs(v) < zcThreshold) 0 else if (v > 0) 1 else -1
    var prev = 0.0
    var prevD = 0.0
    var prevSg = 0
    var i = 0
    while (i < n) {
      val x = at(i)
      s1 += x
      val x2 = x * x
      s2 += x2; s3 += x2 * x; s4 += x2 * x2
      if (x < mn) mn = x
      if (x > mx) mx = x
      val sg = sgn(x)
      if (i > 0) {
        val d = x - prev
        sumAbsD += math.abs(d)
        sumDSq += d * d
        if (i > 1) {
          val e = d - prevD
          sumESq += e * e
        }
        // zero-crossing rules between consecutive samples
        if (sg == 0 && prevSg != 0) zc += 1
        if (sg * prevSg < 0) zc += 1
        prevD = d
      }
      prev = x
      prevSg = sg
      i += 1
    }
    val f1 = at(0); val f2 = at(1)
    val l1 = at(n - 1); val l2 = at(n - 2)
    InternalRow(n.toLong, s1, s2, s3, s4, mn, mx, sumAbsD, sumDSq, sumESq,
      f1, f2, l1, l2, zc, sgn(f1), sgn(l1))
  }

  /** Codegen entry: the state row, or null for n < 2. */
  def kernelRow(ad: ArrayData): InternalRow =
    nullSafeEval(ad).asInstanceOf[InternalRow]

  // real doGenCode (not CodegenFallback): the child ArrayData flows
  // straight in — no per-row UnsafeRow materialization/array copy on the
  // raw-tier hot path
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftPartials", this,
      classOf[TokenPartialsExpr].getName)
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = $ref.kernelRow($c);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

object TokenPartialsExpr {
  val schema: StructType = Encoders.product[graft.core.TokenState].schema
}
