package graft

import graft.functions.expr.FixedPointDot

/** The native Catalyst expressions: FixedPointDot's rounding fast path
  * and its evaluation through the SQL function registry. */
class ExtensionsSpec extends SparkSpec {

  test("halfUpToLong fast path is bit-identical to the BigDecimal rounding") {
    import java.math.{BigDecimal => JBigDecimal, RoundingMode}
    def slow(p: Double): Long =
      new JBigDecimal(p).setScale(0, RoundingMode.HALF_UP).longValueExact()
    // adversarial set: exact .5 ties both signs, the Math.round hazard
    // value 0.49999999999999994 (nearest double below 0.5), ulp-adjacent
    // neighbors of ties, zero/negative zero, integers, large magnitudes
    // on both sides of the 2^52 fast-path bound, and a random sweep
    val pinned = Seq(
      0.0, -0.0, 1.0, -1.0, 0.5, -0.5, 1.5, -1.5, 2.5, -2.5,
      0.49999999999999994, -0.49999999999999994,
      Math.nextUp(0.5), Math.nextDown(0.5),
      Math.nextUp(2.5), Math.nextDown(2.5),
      Math.nextUp(-2.5), Math.nextDown(-2.5),
      1e12, 1e12 + 0.5, -1e12 - 0.5,
      4503599627370495.5, -4503599627370495.5,   // largest fraction below 2^52
      4503599627370496.0, 9007199254740992.0,    // 2^52, 2^53 (BigDecimal path)
      9.223372036854775e18, -9.223372036854775e18)
    pinned.foreach { p =>
      assert(graft.functions.expr.FixedPointDot.halfUpToLong(p) == slow(p),
        s"halfUpToLong($p)")
    }
    val rnd = new scala.util.Random(42)
    (1 to 20000).foreach { _ =>
      // exercise the sub-1e15 fast-path range densely, fractional cases
      val p = (rnd.nextDouble() - 0.5) * math.pow(10, rnd.nextInt(16))
      assert(graft.functions.expr.FixedPointDot.halfUpToLong(p) == slow(p),
        s"halfUpToLong($p)")
    }
    // NaN/Inf keep the BigDecimal fail-fast behavior
    intercept[NumberFormatException] {
      graft.functions.expr.FixedPointDot.halfUpToLong(Double.NaN)
    }
    intercept[NumberFormatException] {
      graft.functions.expr.FixedPointDot.halfUpToLong(Double.PositiveInfinity)
    }
  }

  test("fixed_point_dot is callable from SQL once registered") {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "fixed_point_dot",
      exprs => FixedPointDot(exprs(0), exprs(1)),
      "scala_udf")
    val out = spark.sql(
      """SELECT fixed_point_dot(
        |  array(CAST(1.5 AS DOUBLE), CAST(2.0 AS DOUBLE)),
        |  array(CAST(2.0 AS DOUBLE), CAST(0.5 AS DOUBLE))) AS d""".stripMargin)
      .collect().head.getLong(0)
    assert(out == 4L * 1000000000000L) // 1.5*2 + 2*0.5 = 4.0 at 1e12 scale
  }
}
