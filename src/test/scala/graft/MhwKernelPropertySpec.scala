package graft

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Mhw
import graft.time.DoyFunctions

/** Differential test: the per-series climatology kernel
  * ([[Mhw.climThresh]]) against its DataFrame reference
  * ([[MhwReference]]: slot-partials pool, Feb-29 pass, smoothing pass),
  * cell for cell — over random series with gaps, nulls and NaN, leap and
  * non-leap years, year-boundary slivers, single-year data, hw ∈
  * {0, 2, 5}, pctile ∈ {0.1, 0.5, 0.9}, smoothing on and off, long and
  * struct keys, and values past the range of a scale-10 long sum. */
class MhwKernelPropertySpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.local("4")
  import spark.implicits._

  /** (user_id, date, sst) rows → the canonical daily layout. */
  private def daily(rows: Seq[(Long, LocalDate, Option[Double])]): DataFrame =
    rows.map { case (k, d, v) => (k, java.sql.Date.valueOf(d), v) }
      .toDF("user_id", "d", "sst")
      .withColumn("yr", year($"d"))
      .withColumn("doy", DoyFunctions.climDoy($"d"))

  private def days(y0: Int, m0: Int, d0: Int, y1: Int, m1: Int, d1: Int): Seq[LocalDate] = {
    val end = LocalDate.of(y1, m1, d1)
    Iterator.iterate(LocalDate.of(y0, m0, d0))(_.plusDays(1)).takeWhile(!_.isAfter(end)).toSeq
  }

  /** Six random series over random subsets of 1999–2005 (leap 2000 and
    * 2004): ~10% of days missing, ~3% null, NaN in series 2 and 5 only
    * (a NaN nulls every threshold window it falls in), plus series 7, a
    * sliver of late December and early January. */
  private lazy val mixed: DataFrame = {
    val rnd = new scala.util.Random(11)
    val random = (1L to 6L).flatMap { k =>
      val years = (1999 to 2005).filter(_ => rnd.nextDouble() < 0.6)
      years.flatMap(y => days(y, 1, 1, y, 12, 31)).flatMap { d =>
        val u = rnd.nextDouble()
        if (u < 0.10) None
        else if (u < 0.13) Some((k, d, None))
        else if ((k == 2 || k == 5) && u > 0.995) Some((k, d, Some(Double.NaN)))
        else Some((k, d, Some(math.rint((15 + 5 * math.cos(d.getDayOfYear / 58.1) +
          rnd.nextGaussian()) * 1e3) / 1e3)))
      }
    }
    val sliver = days(2002, 12, 24, 2003, 1, 7).map(d => (7L, d, Some(d.getDayOfMonth / 3.0)))
    daily(random ++ sliver)
  }

  /** Two series whose values (≈ 1e12) overflow a scale-10 long: the
    * kernel's sums must widen to exact BigInteger arithmetic, as
    * DECIMAL(38,10) holds up to 1e28. */
  private lazy val huge: DataFrame = {
    val rnd = new scala.util.Random(5)
    daily((1L to 2L).flatMap { k =>
      days(2003, 1, 1, 2004, 12, 31).map(d =>
        (k, d, Some(1e12 * k + math.rint(rnd.nextDouble() * 1e6) / 1e3)))
    })
  }

  /** Struct series keys, as the public API carries (lat, lon). */
  private def structKeys(df: DataFrame): DataFrame =
    df.withColumn("user_id", struct(
      (lit(-35.0) + $"user_id" * 0.25).as("lat"), lit(150.0).as("lon")))

  private def reference(df: DataFrame, c: Mhw.Clim): DataFrame = {
    val pooled = MhwReference.pooledBoth(df, c.hw, c.pctile.getOrElse(0.5))
    val cols = Seq("seas", "thresh")
    val interp = if (c.feb29) MhwReference.interpFeb29Cols(pooled, cols) else pooled
    c.smoothHalf.fold(interp)(h => MhwReference.smoothDoyCols(interp, cols, h))
  }

  private def cells(df: DataFrame): Map[(Any, Int), (Option[Any], Option[Any])] =
    df.select("user_id", "doy", "seas", "thresh").collect()
      .map((r: Row) => (r.get(0), r.getInt(1)) -> ((Option(r.get(2)), Option(r.get(3))))).toMap

  private def assertSame(df: DataFrame, c: Mhw.Clim): Unit = {
    val got = cells(Mhw.climThresh(df, c))
    val want = cells(reference(df, c))
    assert(got.nonEmpty)
    assert(got.keySet == want.keySet,
      s"$c: cells ${(got.keySet diff want.keySet).take(5)} / ${(want.keySet diff got.keySet).take(5)}")
    val diff = got.collect { case (k, v) if v != want(k) => (k, v, want(k)) }
    assert(diff.isEmpty, s"$c: ${diff.size} cells differ, e.g. ${diff.take(3)}")
  }

  private val configs: Seq[Mhw.Clim] =
    for {
      (hw, i) <- Seq(0, 2, 5).zipWithIndex
      (p, j) <- Seq(0.1, 0.5, 0.9).zipWithIndex
      smooth <- Seq(None, Some(15))
    } yield Mhw.Clim(hw, seas = true, pctile = Some(p),
      feb29 = (i + j) % 2 == 0, smoothHalf = smooth)

  test("kernel ≡ DataFrame reference on random series with gaps, nulls and NaN") {
    configs.foreach(assertSame(mixed, _))
  }

  test("kernel ≡ DataFrame reference on struct series keys") {
    val df = structKeys(mixed)
    configs.filter(_.pctile.contains(0.9)).foreach(assertSame(df, _))
  }

  test("kernel ≡ DataFrame reference on single-year data (leap and non-leap)") {
    for (y <- Seq(2000, 2001)) {
      val df = mixed.filter($"yr" === y)
      configs.filter(c => c.hw == 5 && c.pctile.contains(0.5)).foreach(assertSame(df, _))
    }
  }

  test("kernel ≡ DataFrame reference on values past a scale-10 long sum") {
    configs.filter(_.pctile.contains(0.9)).foreach(assertSame(huge, _))
    // the raw fan agrees on the widened sums too
    val seas = Mhw.climThresh(huge, Mhw.Clim(5, seas = true)).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(2)).toMap
    val raw = MhwReference.pooledMeanRawFan(huge, 5).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(seas == raw)
    assert(seas.values.forall(_ > 9.2e8))
  }

  test("the kernel's mean skips a NaN in both the sum and the count") {
    val d0 = LocalDate.of(2001, 3, 10)
    val df = daily(Seq((1L, d0, Some(1.0)), (1L, d0.plusDays(1), Some(Double.NaN)),
                       (1L, d0.plusDays(2), Some(3.0))))
    val out = Mhw.climThresh(df, Mhw.Clim(1, seas = true, pctile = Some(0.5))).collect()
      .map(r => r.getInt(1) -> ((r.getDouble(2), Option(r.get(3))))).toMap
    // 2001-03-11 is DOY 71 on the leap-normalized grid; its ±1 pool is
    // {1.0, NaN, 3.0}: mean 2.0, threshold nulled
    assert(out(71) == ((2.0, None)))
  }

  test("two series whose key hashes collide come out as each series alone") {
    // rows as climThresh's exchange lays them out: (user_id, doy, sst,
    // next_ok, prev_ok, h); keys 1 and 2 share h, key 3 follows
    val rnd = new scala.util.Random(3)
    def record(key: Long, h: Long): Seq[Row] =
      (1 to 366).filter(_ => rnd.nextDouble() < 0.8).map { doy =>
        val v = if (rnd.nextDouble() < 0.05) null
                else java.lang.Double.valueOf(key * 10 + math.rint(rnd.nextGaussian() * 1e3) / 1e3)
        Row(key, doy, v, doy % 3 == 0, doy % 5 == 0, h)
      }
    val (a, b, c) = (record(1L, 42L), record(2L, 42L), record(3L, 43L))
    val interleaved = a.zipAll(b, null, null).flatMap { case (x, y) => Seq(x, y) }
      .filter(_ != null) ++ c
    for (clim <- Seq(Mhw.Clim(5, seas = true, pctile = Some(0.9), feb29 = true,
                              smoothHalf = Some(15)),
                     Mhw.Clim(2, seas = true, pctile = Some(0.1)))) {
      def run(rows: Seq[Row]) =
        Mhw.climKernel(clim)(rows.iterator).map(r => (r.get(0), r.getInt(1)) -> r.toSeq.drop(2)).toMap
      val alone = Seq(a, b, c).map(run)
      assert(alone(0) != alone(1).map { case ((_, d), v) => (1L, d) -> v })
      assert(run(interleaved) == alone.reduce(_ ++ _), s"$clim")
    }
  }
}
