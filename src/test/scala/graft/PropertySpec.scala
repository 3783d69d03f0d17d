package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.LshDedup

/** Property-style invariants over ScalaCheck-generated data, evaluated
  * through the engine (one Spark job per property). */
class PropertySpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.local("4")
  import spark.implicits._

  private def sample[A](g: Gen[A], n: Int): Seq[A] =
    Iterator.from(0)
      .map(i => g.apply(Gen.Parameters.default, Seed(42L + i)))
      .collect { case Some(a) => a }
      .take(n).toSeq

  test("Parity.r is idempotent and monotone on generated doubles") {
    val xs = sample(Gen.chooseNum(-1e6, 1e6), 500).sorted
    val df = xs.toDF("x").select(Parity.r(col("x"), 6).as("r"))
    val rs = df.collect().map(_.getDouble(0))
    // idempotent: rounding an already-rounded value is a no-op
    val again = rs.toSeq.toDF("x").select(Parity.r(col("x"), 6).as("r"))
      .collect().map(_.getDouble(0))
    assert(rs.sameElements(again))
    // monotone: sorted inputs stay sorted after rounding
    assert(rs.zip(rs.tail).forall { case (a, b) => a <= b })
    // bounded error
    assert(xs.zip(rs).forall { case (x, r) => math.abs(x - r) <= 5e-7 + 1e-9 })
  }

  test("Parity.r keeps NaN; Parity.davg skips a NaN in both its sum and its count") {
    val row = Seq(1.0, Double.NaN, 3.0).toDF("x")
      .agg(Parity.davg(col("x"), 6), Parity.r(max(col("x")), 6)).head()
    assert(row.getDouble(0) == 2.0)
    assert(row.getDouble(1).isNaN) // Spark orders NaN above every number
    assert(Parity.r6d(Double.NaN).isNaN)
  }

  test("hamming is a metric on generated 64-bit fingerprints") {
    val bitsGen = Gen.listOfN(64, Gen.oneOf(0, 1))
    val triples = sample(for {
      a <- bitsGen; b <- bitsGen; c <- bitsGen
    } yield (a, b, c), 100)
    val df = triples.toDF("a", "b", "c").select(
      LshDedup.hamming(col("a"), col("b")).as("ab"),
      LshDedup.hamming(col("b"), col("a")).as("ba"),
      LshDedup.hamming(col("b"), col("c")).as("bc"),
      LshDedup.hamming(col("a"), col("c")).as("ac"),
      LshDedup.hamming(col("a"), col("a")).as("aa"))
    df.collect().foreach { r =>
      assert(r.getInt(4) == 0)                    // identity
      assert(r.getInt(0) == r.getInt(1))          // symmetry
      assert(r.getInt(3) <= r.getInt(0) + r.getInt(2)) // triangle
      assert(r.getInt(0) >= 0 && r.getInt(0) <= 64)
    }
  }

  test("z-value is monotone per dimension and tiles nest") {
    val grid = for (a <- 0L until 32L; b <- 0L until 32L) yield (a, b)
    val zs = grid.toDF("a", "b")
      .select($"a", $"b",
        graft.sources.IO.zValue2($"a", $"b", bits = 5).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // monotone in each dimension with the other fixed
    for (x <- 0L until 31L; y <- 0L until 32L) {
      assert(zs((x, y)) < zs((x + 1, y)))
      assert(zs((y, x)) < zs((y, x + 1)))
    }
    // bijective over the grid (no two cells share a z)
    assert(zs.values.toSet.size == grid.size)
    // quadrant nesting: the top bits of z are the top bits of (a, b)
    for ((a, b) <- Seq((0L, 0L), (31L, 0L), (0L, 31L), (31L, 31L))) {
      val quadrant = ((b >> 4) << 1) | (a >> 4)
      assert(zs((a, b)) >> 8 == quadrant)
    }
  }

  test("minhash signatures estimate Jaccard within statistical error") {
    // two sets with known overlap: J = 50/150
    val shA = (0 until 100).map(i => s"sh$i")
    val shB = (50 until 150).map(i => s"sh$i")
    val df = Seq((1L, shA), (2L, shB)).toDF("id", "sh")
      .select($"id", LshDedup.minhashSignature($"sh", 256).as("sig"))
    val sigs = df.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val agree = sigs(1L).zip(sigs(2L)).count { case (a, b) => a == b }
    val est = agree / 256.0
    val j = 50.0 / 150.0
    assert(math.abs(est - j) < 0.1, s"estimate $est vs true $j")
  }
}
