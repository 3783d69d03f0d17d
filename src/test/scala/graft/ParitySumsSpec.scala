package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[Parity.Sums]], the one exact-sum accumulator of the Scala-side
  * kernels and folds, against Spark's `sum(CAST(x AS DECIMAL(38,10)))`. */
class ParitySumsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.local("4")
  import spark.implicits._

  private def sumOf(vs: Double*): Parity.Sums = {
    val s = new Parity.Sums(1)
    vs.foreach(s.addDouble(0, _))
    s
  }

  test("NaN and ±Inf add nothing, as the DECIMAL(38,10) cast reads them as null") {
    val s = sumOf(1.25, Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, 2.5)
    assert(s.any(0) && s.toDouble(0) == 3.75)
    assert(!sumOf(Double.NaN, Double.PositiveInfinity).any(0))
  }

  test("a sum widens exactly past Long.MaxValue and reads back through addUnscaled") {
    // 1e9 at scale 10 is 1e19 unscaled, past the long range on its own;
    // 4e8 fits, and 30 of them overflow a long sum
    val big = sumOf(Seq.fill(30)(4e8) :+ 1e9: _*)
    assert(big.unscaled(0) == new java.math.BigInteger("130000000000000000000"))
    assert(big.toDouble(0) == 1.3e10)
    val copy = new Parity.Sums(1)
    copy.addUnscaled(0, big.unscaled(0))
    copy.addDouble(0, -1e9)
    assert(copy.toDouble(0) == 1.2e10)
    val neg = sumOf(Seq.fill(30)(-4e8): _*)
    assert(neg.toDouble(0) == -1.2e10)
  }

  test("past 38 digits a value or a sum throws, as Spark's cast and sum do") {
    intercept[ArithmeticException](sumOf(1e30))
    val s = sumOf(9e27, 9e27)
    intercept[ArithmeticException](s.toDouble(0))
    val sql = Seq(9e27, 9e27).toDF("x").agg(Parity.dsum(col("x")))
    intercept[Exception](sql.collect())
  }

  test("agrees with Spark's exact decimal sum on random doubles of every magnitude") {
    val rnd = new scala.util.Random(17)
    val groups = (0 until 40).map { g =>
      g -> Seq.fill(1 + rnd.nextInt(60)) {
        val mag = math.pow(10, rnd.nextInt(24) - 8)
        val v = (rnd.nextDouble() - 0.45) * mag
        if (rnd.nextDouble() < 0.05) Double.NaN else v
      }
    }
    val want = groups.flatMap { case (g, vs) => vs.map(g -> _) }.toDF("g", "x")
      .groupBy("g").agg(Parity.dsum(col("x")).as("s"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    groups.foreach { case (g, vs) =>
      assert(sumOf(vs: _*).toDouble(0) == want(g), s"group $g: $vs")
    }
  }
}
