package graft

import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, IntegerType}
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite

import graft.core.TokenState
import graft.functions.TokenPartialsExpr

/** Laws of the token-state algebra: the per-row kernel composes under `++`
  * exactly as the state of the concatenated signal, and the batch tier's
  * ordered merge is the Scala left fold. "Exact" is the quantized-sample
  * convention (FIXTURES.md §2): integer tokens |t| < 2^10 make every
  * partial sum exact in any order, so states match bit for bit. */
class TokenStateSpec extends AnyFunSuite with SparkSpec {
  private val fromRow = ExpressionEncoder[TokenState]().resolveAndBind()
    .createDeserializer()

  private def kernel(scale: Double)(tokens: Array[Int]): TokenState = {
    val e = TokenPartialsExpr(BoundReference(0, ArrayType(IntegerType, false), true), scale)
    fromRow(e.kernelRow(ArrayData.toArrayData(tokens)))
  }

  private val summed = Set("s1", "s2", "s3", "s4", "sumAbsD", "sumDSq", "sumESq")

  private def fields(s: TokenState): Seq[(String, Any)] =
    s.productElementNames.toSeq.zip(s.productIterator.toSeq)

  /** Field names where `a` and `b` differ in any bit. */
  private def bitDiff(a: TokenState, b: TokenState): Seq[String] =
    fields(a).zip(fields(b)).collect {
      case ((f, x: Double), (_, y: Double))
        if java.lang.Double.doubleToLongBits(x) != java.lang.Double.doubleToLongBits(y) => f
      case ((f, x), (_, y)) if !x.isInstanceOf[Double] && x != y => f
    }

  private val small = Gen.choose(-1023, 1023)

  /** 1-6 runs of 2-40 tokens each. */
  private def parts(tok: Gen[Int]): Gen[List[Array[Int]]] =
    Gen.choose(1, 6).flatMap(k => Gen.listOfN(k,
      Gen.choose(2, 40).flatMap(n => Gen.containerOfN[Array, Int](n, tok))))

  private def check(p: Prop, cases: Int = 2000): Unit = {
    val r = Test.check(Test.Parameters.default.withMinSuccessfulTests(cases)
      .withInitialSeed(Seed(20261017L)), p)
    assert(r.passed, Pretty.pretty(r))
  }

  for (scale <- Seq(1.0, 1.0 / (1 << 24))) {
    test(s"split law: ++ over the parts' states == the whole's state, " +
      s"bit-exact for |t| < 2^10 (scale $scale)") {
      val k = kernel(scale) _
      check(Prop.forAll(parts(small)) { ps =>
        val d = bitDiff(ps.map(k).reduceLeft(_ ++ _), k(ps.toArray.flatten))
        Prop(d.isEmpty) :| s"differs in $d"
      })
    }
  }

  test("split law over full-range int32 at 2^-24: order-free fields exact, " +
    "summed fields within 1e-12 of the summed magnitudes") {
    val scale = 1.0 / (1 << 24)
    val k = kernel(scale) _
    check(Prop.forAll(parts(Gen.choose(Int.MinValue, Int.MaxValue))) { ps =>
      val whole = ps.toArray.flatten
      val joined = ps.map(k).reduceLeft(_ ++ _)
      val ref = k(whole)
      // a signed sum can cancel to near zero, so its reordering error is
      // bounded relative to the sum of the terms' magnitudes
      val mag = Seq(1, 2, 3, 4).map(p =>
        s"s$p" -> whole.map(t => math.pow(math.abs(t.toDouble * scale), p)).sum).toMap
      val bad = fields(joined).zip(fields(ref)).collect {
        case ((f, x: Double), (_, y: Double)) if summed(f) &&
          math.abs(x - y) > 1e-12 * math.max(math.abs(y), mag.getOrElse(f, 0.0)) => f
      } ++ bitDiff(joined, ref).filterNot(summed)
      Prop(bad.isEmpty) :| s"differs in $bad"
    })
  }

  test("++ is associative and empty is the identity of +") {
    val k = kernel(1.0 / (1 << 24)) _
    val run = Gen.choose(2, 40).flatMap(n => Gen.containerOfN[Array, Int](n, small))
    check(Prop.forAll(run, run, run) { (x, y, z) =>
      val (a, b, c) = (k(x), k(y), k(z))
      val assoc = bitDiff((a ++ b) ++ c, a ++ (b ++ c))
      val left = bitDiff(TokenState.empty + a, a)
      val right = bitDiff(a + TokenState.empty, a)
      Prop(assoc.isEmpty && left.isEmpty && right.isEmpty) :|
        s"assoc $assoc, empty + a $left, a + empty $right"
    })
  }

  test("TokenRollup.mergeToBuckets == reduceLeft(_ ++ _) over each window's " +
    "rows, bit-exact, for |t| < 2^10 and for full-range int32") {
    import spark.implicits._
    spark.sparkContext.setLogLevel("ERROR")
    val scale = 1.0 / (1 << 24)
    val k = kernel(scale) _
    // window w holds its signal's parts as rows one second apart, in order;
    // the first 400 windows small tokens, the next 400 full-range ones
    val windows = Seq(small, Gen.choose(Int.MinValue, Int.MaxValue))
      .flatMap(tok => Gen.listOfN(400, parts(tok)).pureApply(Gen.Parameters.default, Seed(7L)))
      .zipWithIndex
    val rows = for ((ps, w) <- windows; (p, i) <- ps.zipWithIndex)
      yield (s"s${w % 3}", new java.sql.Timestamp(w * 60000L + i * 1000L),
        f"d$w%04d_$i%02d", p, p.length)
    val tokens = rows.toDF("source", "event_time", "doc_id", "tokens", "n_tok")
    val merged = graft.engine.TokenRollup.mergeToBuckets(
      graft.engine.TokenRollup.rowStates(tokens, scale), "1 minute",
      Seq("event_time", "doc_id"))
      .select(col("source"), col("bucket"), col("P"))
      .as[(String, java.sql.Timestamp, TokenState)].collect()
      .map { case (s, b, p) => (s, b.getTime) -> p }.toMap
    val expected = windows.map { case (ps, w) =>
      (s"s${w % 3}", w * 60000L) -> ps.map(k).reduceLeft(_ ++ _) }.toMap
    assert(merged.keySet == expected.keySet)
    val bad = expected.collect { case (key, s) if bitDiff(merged(key), s).nonEmpty =>
      key -> bitDiff(merged(key), s) }
    assert(bad.isEmpty, bad.take(5))
  }
}
