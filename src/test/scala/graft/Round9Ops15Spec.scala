package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Round9Ops15

/** Round-9 batch-15 operators (#336-#337). */
class Round9Ops15Spec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.local("4")

  private val sf = "/root/testdata/sf0.001"

  private def dayTs(i: Int) = java.sql.Timestamp.valueOf(
    java.time.LocalDate.of(2024, 1, 1).plusDays(i).atTime(12, 0))

  // Shared random walk w_t; a = w + noise, b = 2w + noise (cointegrated,
  // spread stationary); c = an INDEPENDENT random walk (not cointegrated
  // with a).
  test("ts_cointegration: tied series detected, independent walks are not") {
    import spark.implicits._
    val n = 200
    val rng = new java.util.Random(3)
    val w = Array.iterate(0.0, n)(x => x + rng.nextGaussian())
    val w2 = Array.iterate(0.0, n)(x => x + rng.nextGaussian())
    val ev = (0 until n).flatMap { i =>
      Seq(("a", dayTs(i), w(i) + 0.3 * rng.nextGaussian()),
          ("b", dayTs(i), 2.0 * w(i) + 0.3 * rng.nextGaussian()),
          ("c", dayTs(i), w2(i) + 0.3 * rng.nextGaussian()))
    }.toDF("event_type", "ts", "value")
    val out = Round9Ops15.tsCointegrationDf(ev).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    val ab = out(("a", "b"))
    assert(ab.getBoolean(6), s"a~b cointegrated (eg=${ab.getDouble(5)})")
    assert(math.abs(ab.getDouble(4) - 2.0) < 0.1, "hedge ratio ≈ 2")
    val ac = out(("a", "c"))
    assert(!ac.getBoolean(6), s"a~c independent (eg=${ac.getDouble(5)})")
  }

  test("ts_cointegration: corpus run — full pair grid, stats defined") {
    val out = Round9Ops15.tsCointegration(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getLong(2) >= 10)
      assert(!r.isNullAt(5))
      assert(r.getString(0) < r.getString(1))
    }
  }

  // Values 1..19 plus one 10000 outlier: the plain mean explodes, the
  // trimmed mean stays near the bulk, winsorized in between.
  test("events_robust_center: one outlier moves the mean but not the trimmed mean") {
    import spark.implicits._
    val ev = ((1 to 19).map(v => ("m", v.toDouble)) ++ Seq(("m", 10000.0)))
      .toDF("event_type", "value")
    val r = Round9Ops15.robustCenterDf(ev).collect()(0)
    val (mean, p95, winsor, trimmed) =
      (r.getDouble(2), r.getDouble(4), r.getDouble(5), r.getDouble(6))
    assert(mean > 500, "plain mean is outlier-dominated")
    assert(trimmed >= 9 && trimmed <= 11, s"trimmed stays in the bulk: $trimmed")
    assert(winsor < mean && winsor > trimmed, "winsorized caps, not drops")
    assert(p95 < 10000, "p95 below the outlier")
  }

  // An all-null group collects to an empty sample list; its quantile
  // bounds are NULL (the oracle's out-of-range list index), not an
  // INVALID_INDEX_OF_ZERO error that fails the whole query.
  test("events_robust_center: an all-null type gets null bounds; other types unchanged") {
    import spark.implicits._
    val m = (1 to 19).map(v => ("m", Option(v.toDouble)))
    val ev = (m ++ Seq.fill(3)(("z", Option.empty[Double]))).toDF("event_type", "value")
    val out = Round9Ops15.robustCenterDf(ev).collect().map(r => r.getString(0) -> r).toMap
    assert(out.keySet == Set("m", "z"))
    assert(out("z").isNullAt(3) && out("z").isNullAt(4), s"z bounds: ${out("z")}")
    val alone = Round9Ops15.robustCenterDf(m.toDF("event_type", "value")).collect()(0)
    assert(out("m") == alone)
  }

  test("events_robust_center: corpus run — robust means bracketed by bounds") {
    val out = Round9Ops15.eventsRobustCenter(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getDouble(3) <= r.getDouble(4), "p05 <= p95")
      assert(r.getDouble(5) >= r.getDouble(3) - 1e-9 &&
             r.getDouble(5) <= r.getDouble(4) + 1e-9,
        "winsorized mean inside the bounds")
      assert(r.getDouble(6) >= r.getDouble(3) - 1e-9 &&
             r.getDouble(6) <= r.getDouble(4) + 1e-9,
        "trimmed mean inside the bounds")
    }
  }
}
