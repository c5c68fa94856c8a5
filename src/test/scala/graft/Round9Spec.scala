package graft

import java.lang.Double.{doubleToRawLongBits => bits}
import java.math.{BigDecimal => JBigDecimal}

import scala.util.Random

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, Literal, Round}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.types.DoubleType
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Round9
import graft.functions.expressions.Round9Expr

/** The shared 9-decimal quantizer ([[Round9]]) and its column form
  * ([[Round9Expr]]) against the decimal route they replace, bit for bit:
  * Spark's `Round(x, 9)` (interpreted and generated) and Scala's
  * `BigDecimal(x).setScale(9, HALF_UP).toDouble`, over random doubles of
  * every magnitude, decimals that sit exactly on a rounding tie and
  * their neighbouring doubles, signed zeros, subnormals, the 2^52/1e9
  * edge of the fast path, and non-finite values. */
class Round9Spec extends AnyFunSuite {

  private val x0 = BoundReference(0, DoubleType, nullable = false)

  /** An expression of column 0, evaluated interpreted and generated. */
  private def forms(e: Expression): Seq[(String, Double => Double)] = {
    val proj = GenerateUnsafeProjection.generate(Seq(e))
    Seq(
      "eval" -> ((x: Double) => e.eval(InternalRow(x)).asInstanceOf[Double]),
      "codegen" -> ((x: Double) => proj(InternalRow(x)).getDouble(0)))
  }

  private val sparkRound = forms(Round(x0, Literal(9)))
  private val exprForms = forms(Round9Expr(x0))

  private def scalaRound(x: Double): Double =
    BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble

  private def neighbours(x: Double, n: Int): Seq[Double] =
    Iterator.iterate(x)(math.nextUp).slice(1, n + 1).toSeq ++
      Iterator.iterate(x)(math.nextDown).slice(1, n + 1).toSeq

  /** Finite inputs: uniform cosines, log-uniform magnitudes, random bit
    * patterns, exact ties (k + 1/2)·1e-9 at 1 to 16 significant digits
    * with four doubles either side, signed zeros, subnormals and the
    * neighbourhood of 2^52 / 1e9, each with both signs. */
  private lazy val finite: Array[Double] = {
    val r = new Random(9)
    val cosines = Seq.fill(100000)(r.nextDouble() * 2 - 1)
    val magnitudes = Seq.fill(50000)(r.nextGaussian() * math.pow(10, r.nextInt(30) - 20))
    val patterns = Iterator.continually(java.lang.Double.longBitsToDouble(r.nextLong()))
      .filter(d => !d.isNaN && !d.isInfinite).take(20000).toSeq
    val ties = Seq.fill(20000) {
      val k = (r.nextDouble() * math.pow(10, 1 + r.nextInt(16))).toLong
      new JBigDecimal(java.math.BigInteger.valueOf(k).shiftLeft(1).add(java.math.BigInteger.ONE))
        .scaleByPowerOfTen(-10).doubleValue()
    }.flatMap(t => t +: neighbours(t, 4))
    val named = Seq(0.1234567895, 0.0000000005, 0.9999999995, 1.0000000005,
      0.5e-9, 1.5e-9, 2.5e-9, 0.0, Double.MinPositiveValue, java.lang.Double.MIN_NORMAL,
      math.nextDown(java.lang.Double.MIN_NORMAL), 1e-300, 1e10, 1e300, Double.MaxValue)
    val subnormals = Seq.fill(1000)(java.lang.Double.longBitsToDouble(r.nextLong() & ((1L << 52) - 1)))
    val edge = 4503599627370496.0 / 1e9
    val edges = Seq(edge, edge / 2, edge * 2, 4503599.6273704955, 4503599.6273704945)
      .flatMap(e => e +: neighbours(e, 50))
    val all = cosines ++ magnitudes ++ patterns ++ ties ++ named ++ subnormals ++ edges
    (all ++ all.map(-_)).toArray
  }

  test("Round9 equals Scala BigDecimal setScale(9, HALF_UP) bit for bit") {
    val bad = finite.filter(x => bits(Round9(x)) != bits(scalaRound(x)))
    assert(bad.isEmpty, s"${bad.length} of ${finite.length} differ, e.g. ${bad.take(5).mkString(", ")}")
  }

  for ((name, round) <- sparkRound) {
    test(s"Round9 equals Spark's Round(x, 9) ($name) bit for bit") {
      val bad = finite.filter(x => bits(Round9(x)) != bits(round(x)))
      assert(bad.isEmpty, s"${bad.length} differ, e.g. ${bad.take(5).mkString(", ")}")
    }
  }

  for (((name, mine), (_, spark)) <- exprForms.zip(sparkRound)) {
    test(s"Round9Expr ($name) equals Spark's Round(x, 9) ($name), non-finite included") {
      val inputs = finite ++ Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)
      val bad = inputs.filter(x => bits(mine(x)) != bits(spark(x)))
      assert(bad.isEmpty, s"${bad.length} differ, e.g. ${bad.take(5).mkString(", ")}")
      assert(mine(Double.NaN).isNaN)
      assert(mine(Double.PositiveInfinity) === Double.PositiveInfinity)
      assert(mine(Double.NegativeInfinity) === Double.NegativeInfinity)
    }
  }

  test("non-finite inputs throw NumberFormatException, as Scala's BigDecimal(x) does at the kernel sites") {
    for (x <- Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)) {
      intercept[NumberFormatException](scalaRound(x))
      intercept[NumberFormatException](Round9(x))
    }
  }

  test("anything that rounds to zero is +0.0, as a decimal zero has no sign") {
    for (x <- Seq(-0.0, 0.0, -1e-12, -4.9e-10, -Double.MinPositiveValue))
      assert(bits(Round9(x)) === bits(0.0), s"$x")
    assert(Round9(-5e-10) === -1e-9)
  }
}
