package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StructField, StructType}

import graft.Parity._
import graft.sources.Tables
import graft.time.DoyFunctions._

/** Marine-heatwave analytics re-expressed Spark-first over long-format
  * rows. The reference's `(time, lat, lon)` cube maps to rows keyed by a
  * series key (`user_id` here) with one observation per day (SURVEY §3).
  *
  * Reference semantics preserved (file:line cites against
  * /root/reference):
  *  - leap-normalized DOY — src/mhw3d/common/core.py:5 `_clim_doy`
  *  - ±w-day pooling on a per-year 366-slot grid with cross-year padding
  *    (NOT pure circular: contributions into a neighbour year only count
  *    if that year exists in the data) —
  *    src/mhw3d/legacy/climatology.py:61 `_pool_window`,
  *    src/mhw3d/best_practice/climatology.py:130 `compute_threshold`
  *  - strict skipna: a measured-but-NaN value in a pooling window nulls
  *    the threshold — best_practice/climatology.py:225
  *  - legacy Feb-29: DOY 60 overwritten with 0.5·(DOY59+DOY61) after
  *    pooling, before smoothing — legacy/climatology.py:13 `_interp_feb29`
  *  - 31-slot circular running mean with min_periods=1 —
  *    legacy/climatology.py:122 `_smooth_doy`
  *  - events: runs of severity>1, duration filter THEN single-pass
  *    gap-join (start−prev_end ≤ maxGap), metrics over the merged span
  *    including gap days, first-argmax peak — common/core.py:37,89
  *
  * Scale design (100 TB): the per-(key,doy) climatology tables are tiny
  * relative to facts (366 rows per key) → broadcast back to facts, so the
  * fact table never shuffles for severity. The pooled climatology and
  * threshold ([[climThresh]]) take ONE exchange on the series key; each
  * task then holds one series' daily record at a time and pools,
  * interpolates and smooths it on 366-slot arrays. A series is
  * years-bounded, so no group grows with the data and no sketch is
  * needed at any scale. Event detection ([[detectEvents]]) is a second
  * per-series kernel on the same layout: one exchange on the series key,
  * then each series' day-sorted record scanned once for its spans
  * ([[eventChains]], the one run/gap-join implementation, which the
  * streaming detector folds with too) and their metrics
  * ([[EventDays.metrics]], which the stream drain shares). Nothing joins
  * back to the facts, and the severity frame is read once.
  */
object Mhw {

  /** Daily series: one observation per (series key, calendar day).
    * sst = mean event value that day, rounded (6dp) for cross-engine
    * parity, NaN when the day holds a NaN ([[graft.Parity.dailyMean]],
    * the rule `Graft.dailySeries` shares). Adds year + leap-normalized
    * DOY. Memoized + persisted per (session, dir) in the bounded
    * [[graft.Caches]] registry: every
    * operator in the MHW chain starts here, and the table is tiny
    * relative to the events it aggregates. */
  def daily(s: SparkSession, dir: String): DataFrame =
    graft.Caches.persisted(s, ("mhw_daily", dir)) {
      Tables.events(s, dir)
        .groupBy(col("user_id"), to_date(col("ts")).as("d"))
        .agg(dailyMean(col("value"), 6).as("sst"))
        .withColumn("yr", year(col("d")))
        .withColumn("doy", climDoy(col("d")))
    }

  /** Distinct dates → leap-normalized DOY (query #1). */
  def climDoyTable(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(to_date(col("ts")).as("d")).distinct()
      .withColumn("doy", climDoy(col("d")))

  // ---------------------------------------------------------------- pooling

  /** One hash shuffle on the series key: the only exchange of
    * [[climThresh]]. MHW grids are volume-uniform per key (366·years
    * daily rows each), so keying the exchange on the series id alone
    * introduces no skew.
    *
    * The partition count is pinned to spark.sql.shuffle.partitions:
    * left implicit, AQE sizes the exchange by its INPUT bytes (the
    * compact daily table) and coalesces to a handful of partitions,
    * which starves the per-series kernel downstream of parallelism. */
  private[graft] def byKey(df: DataFrame): DataFrame =
    df.repartition(
      df.sparkSession.sessionState.conf.numShufflePartitions, col("user_id"))

  /** What one [[climThresh]] call computes for each series:
    *  - `hw`: the ±hw pooling half-width (0 = the plain per-DOY mean);
    *  - `seas`: the pooled mean (climatology);
    *  - `pctile`: the pooled linear quantile (threshold);
    *  - `feb29`: legacy Feb-29 interpolation after pooling;
    *  - `smoothHalf`: the ±half circular running mean after that. */
  final case class Clim(hw: Int, seas: Boolean = false,
                        pctile: Option[Double] = None, feb29: Boolean = false,
                        smoothHalf: Option[Int] = None) {
    require(0 <= hw && hw <= 365, s"pooling half-width $hw outside [0, 365]")
    require(smoothHalf.forall(h => 0 <= h && h <= 365),
      s"smoothing half-width ${smoothHalf.getOrElse(0)} outside [0, 365]")
    require(seas || pctile.isDefined, "Clim asks for neither seas nor thresh")
  }

  /** The pooled climatology and threshold of every series of a daily
    * frame (user_id, yr, doy, sst): one [[byKey]] exchange, then a
    * per-series kernel ([[ClimKernel]]). Returns (user_id, doy, seas?,
    * thresh?), one row per DOY slot that holds a value.
    *
    * The pool of a center DOY is every observation within ±hw calendar
    * days on the per-year 366-slot grid. An observation that wraps off
    * the [1,366] grid lands in the adjacent year and counts only if that
    * year is present anywhere in the frame (the frame's years arrive as
    * one scalar `collect_set(yr)` row). A center exists when at least
    * one eligible row does, null sst included.
    *  - seas: exact DECIMAL(38,10) sum / count, 6dp; a NaN observation
    *    is skipped in both the sum and the count (nanmean).
    *  - thresh: [[graft.Parity.linQuantile]] over the sorted pool, 6dp;
    *    any NaN in the pool nulls the center (strict skipna,
    *    best_practice/climatology.py:225).
    *  - legacy Feb-29: DOY 60 becomes 0.5·(DOY 59 + DOY 61), absent
    *    when either neighbour is (legacy/climatology.py:13).
    *  - smoothing: the circular running mean of the present slots within
    *    ±half, min_periods=1 (legacy/climatology.py:122).
    * Every mean is the exact decimal mean of [[graft.Parity.davg]], and
    * MhwKernelPropertySpec pins the output cell for cell to the
    * DataFrame spelling of all of the above.
    *
    * Scale: a series is bounded (≤ 366·years rows). Each task sorts its
    * partition by a hash of the key, then holds one series' record at a
    * time; the ±hw pool is merged from per-slot partials, so it never
    * materializes the ×(2hw+1) observation fan. */
  def climThresh(dailyDf: DataFrame, c: Clim): DataFrame = {
    val years = dailyDf.agg(collect_set(col("yr"))).scalar()
    val rows = byKey(dailyDf.select(col("user_id"), col("doy").cast("int").as("doy"),
        col("yr"), col("sst").cast("double").as("sst")))
      .select(col("user_id"), col("doy"), col("sst"),
        array_contains(years, col("yr") + 1).as("next_ok"),
        array_contains(years, col("yr") - 1).as("prev_ok"),
        xxhash64(col("user_id")).as("h"))
      // one long sort key: Spark radix-sorts it; a hash collision only
      // interleaves two series, which the kernel separates again
      .sortWithinPartitions(col("h"))
    val outCols = Seq("seas" -> c.seas, "thresh" -> c.pctile.isDefined)
      .collect { case (name, true) => StructField(name, DoubleType) }
    val out = StructType(dailyDf.schema("user_id") +:
      StructField("doy", IntegerType, nullable = false) +: outCols)
    rows.mapPartitions(climKernel(c))(Encoders.row(out))
  }

  /** One task's rows, sorted on their last column h (xxhash64 of the
    * series key in column 0), one series at a time: each run of equal h
    * is a series, unless a hash collision interleaves two keys, which
    * are split by key. `keep` sees every row and drops those it
    * rejects. The group loop of [[ClimKernel]] and [[eventKernel]]. */
  private def perSeries[A](rows: Iterator[Row])(keep: Row => Boolean)(
      series: (Any, collection.Seq[Row]) => IterableOnce[A]): Iterator[A] = {
    val in = rows.buffered
    Iterator.continually(in.hasNext).takeWhile(identity).flatMap { _ =>
      val hAt = in.head.length - 1
      val h = in.head.getLong(hAt)
      val group = scala.collection.mutable.ArrayBuffer.empty[Row]
      while (in.hasNext && in.head.getLong(hAt) == h) {
        val r = in.next()
        if (keep(r)) group += r
      }
      if (group.isEmpty) Iterator.empty
      else {
        val k0 = group.head.get(0)
        if (group.forall(_.get(0) == k0)) series(k0, group)
        else group.groupBy(_.get(0)).iterator.flatMap { case (k, rs) => series(k, rs) }
      }
    }
  }

  /** [[climThresh]]'s per-partition step over rows as its exchange lays
    * them out: (user_id, doy, sst, next_ok, prev_ok, h), sorted by h. */
  private[graft] def climKernel(c: Clim)(rows: Iterator[Row]): Iterator[Row] =
    new ClimKernel(c).run(rows)

  /** [[climThresh]]'s arithmetic over one series at a time, on 366-slot
    * arrays. Rows arrive as (user_id, doy, sst, next_ok, prev_ok, h),
    * sorted by h. Spark's own expressions are mirrored step for step;
    * every sum is a [[graft.Parity.Sums]] slot. */
  private final class ClimKernel(c: Clim) {
    import ClimKernel._
    // the series' values grouped by DOY slot: slot d holds [at(d), at(d + 1))
    private val at = new Array[Int](368)
    private var x = new Array[Double](4096)
    private var fl = new Array[Int](4096)
    private var pool = new Array[Double](512)
    // per (variant, slot): eligible rows, non-null values, counted values,
    // NaN seen, exact sum. Variant 0 takes every row, 1 the rows whose next
    // year is present, 2 the rows whose previous year is present.
    private val rowsN, valsN, meanN = new Array[Int](3 * Slots)
    private val nan = new Array[Boolean](3 * Slots)
    private val sums = new Sums(3 * Slots)
    private val acc = new Sums(1)
    private val exists = new Array[Boolean](Slots)

    def run(rows: Iterator[Row]): Iterator[Row] = perSeries(rows)(_ => true)(series)

    /** The output rows of one series' record. */
    private def series(key: Any, rows: collection.Seq[Row]): Seq[Row] = {
      load(rows)
      val seas = if (c.seas) new Array[java.lang.Double](Slots) else null
      val thresh = if (c.pctile.isDefined) new Array[java.lang.Double](Slots) else null
      var center = 1
      while (center <= Slots - 1) {
        exists(center) = pooled(center, seas, thresh)
        center += 1
      }
      if (c.feb29) {
        exists(60) = exists(59) && exists(61)
        for (v <- Seq(seas, thresh) if v != null) v(60) =
          if (v(59) == null || v(61) == null) null else box(r6d(0.5 * v(59) + 0.5 * v(61)))
      }
      val (s, t) = c.smoothHalf match {
        case Some(half) =>
          val present = exists.clone()
          for (d <- 1 until Slots)
            exists(d) = (-half to half).exists(o => present(wrap(d - o)))
          (smooth(seas, present, half), smooth(thresh, present, half))
        case None => (seas, thresh)
      }
      (1 until Slots).filter(exists(_)).map { d =>
        Row.fromSeq(Seq(key, d) ++ Option(s).map(_(d)) ++ Option(t).map(_(d)))
      }
    }

    /** Group the rows by slot (counting sort) and build the per
      * (variant, slot) partials. */
    private def load(rows: collection.Seq[Row]): Unit = {
      val n = rows.length
      if (x.length < n) { x = new Array[Double](2 * n); fl = new Array[Int](2 * n) }
      java.util.Arrays.fill(at, 0)
      rows.foreach { r =>
        val d = r.getInt(1)
        require(1 <= d && d <= 366, s"doy $d outside [1, 366]")
        at(d + 1) += 1
      }
      for (d <- 1 until Slots) at(d + 1) += at(d)
      val next = at.clone()
      rows.foreach { r =>
        val i = next(r.getInt(1)); next(r.getInt(1)) += 1
        val nul = r.isNullAt(2)
        x(i) = if (nul) 0.0 else r.getDouble(2)
        fl(i) = (if (nul) 0 else NonNull) |
          (if (!nul && java.lang.Double.isNaN(x(i))) NaN else 0) |
          (if (r.getBoolean(3)) NextOk else 0) | (if (r.getBoolean(4)) PrevOk else 0)
      }
      java.util.Arrays.fill(rowsN, 0); java.util.Arrays.fill(valsN, 0)
      java.util.Arrays.fill(meanN, 0); java.util.Arrays.fill(nan, false)
      sums.clear()
      for (d <- 1 until Slots; i <- at(d) until at(d + 1); v <- 0 to 2
           if (fl(i) & VariantFlag(v)) == VariantFlag(v)) {
        val j = v * Slots + d
        rowsN(j) += 1
        if ((fl(i) & NonNull) != 0) {
          valsN(j) += 1
          if ((fl(i) & NaN) != 0) nan(j) = true
          else { meanN(j) += 1; if (c.seas) sums.addDouble(j, x(i)) }
        }
      }
    }

    /** The (variant, slot) partial that feeds `center` at offset k:
      * the slot k days before it on the circular grid, read through the
      * variant its unwrapped position needs. */
    private def source(center: Int, k: Int): Int = {
      val d = wrap(center - k)
      val raw = d + k
      (if (raw > 366) 1 else if (raw < 1) 2 else 0) * Slots + d
    }

    /** Merge the ±hw partials of one center; false when no eligible row
      * feeds it. */
    private def pooled(center: Int, seas: Array[java.lang.Double],
                       thresh: Array[java.lang.Double]): Boolean = {
      var rowCount, vals = 0
      var cnt = 0L
      var anyNan = false
      acc.clear()
      for (k <- -c.hw to c.hw) {
        val j = source(center, k)
        rowCount += rowsN(j); vals += valsN(j); cnt += meanN(j)
        anyNan ||= nan(j)
        if (seas != null) acc.addFrom(0, sums, j)
      }
      if (rowCount > 0) {
        if (seas != null)
          seas(center) = if (acc.any(0)) box(r6d(acc.toDouble(0) / cnt)) else null
        if (thresh != null)
          thresh(center) =
            if (anyNan || vals == 0) null else box(r6d(quantile(center, vals, c.pctile.get)))
      }
      rowCount > 0
    }

    /** [[graft.Parity.linQuantile]] over the sorted NaN-free pool of
      * `center` (`m` values). */
    private def quantile(center: Int, m: Int, p: Double): Double = {
      if (pool.length < m) pool = new Array[Double](2 * m)
      var n = 0
      var k = -c.hw
      while (k <= c.hw) {
        val j = source(center, k)
        val need = NonNull | VariantFlag(j / Slots)
        var i = at(j % Slots)
        while (i < at(j % Slots + 1)) {
          if ((fl(i) & need) == need) { pool(n) = x(i); n += 1 }
          i += 1
        }
        k += 1
      }
      java.util.Arrays.sort(pool, 0, m)
      val h = (m - 1) * p
      val l = math.floor(h).toLong.toInt
      val f = h - l
      val vl = pool(l)
      val vu = pool(math.min(l + 1, m - 1))
      vl + (vu - vl) * f
    }

    /** The ±half circular running mean of the `present` slots' values
      * (min_periods=1: a slot with any present neighbour is output; its
      * value is null when every neighbour value is). */
    private def smooth(vals: Array[java.lang.Double], present: Array[Boolean],
                       half: Int): Array[java.lang.Double] =
      if (vals == null) null
      else {
        val in = new Sums(Slots)
        val n = new Array[Int](Slots)
        for (d <- 1 until Slots if present(d) && vals(d) != null) {
          in.addDouble(d, vals(d)); n(d) = 1
        }
        val out = new Array[java.lang.Double](Slots)
        for (d <- 1 until Slots) {
          acc.clear()
          var cnt = 0L
          for (o <- -half to half) {
            val s = wrap(d - o)
            acc.addFrom(0, in, s); cnt += n(s)
          }
          out(d) = if (acc.any(0)) box(r6d(acc.toDouble(0) / cnt)) else null
        }
        out
      }
  }

  private object ClimKernel {
    /** Array length of a 366-slot DOY grid indexed 1..366. */
    val Slots = 367
    val NonNull = 1
    val NaN = 2
    val NextOk = 4
    val PrevOk = 8
    /** The flag a row needs to join each variant's partial. */
    val VariantFlag: Array[Int] = Array(0, NextOk, PrevOk)

    /** Circular re-centering onto [1, 366], as [[wrapDoy]]. */
    def wrap(raw: Int): Int = ((raw - 1 + 366) % 366) + 1

    def box(v: Double): java.lang.Double = java.lang.Double.valueOf(v)
  }

  // ------------------------------------------------- composed climatologies

  /** best_practice.compute_climatology, smoothPercentile=false: the
    * plain per-DOY mean. */
  def climatologyBpRaw(s: SparkSession, dir: String): DataFrame =
    climThresh(daily(s, dir), Clim(0, seas = true))

  /** #11m clim_incremental: the MERGEABLE-PARTIALS form of the
    * best-practice climatology — the property that makes the
    * reference's core maintainable at 100 TB: a new month of data
    * appends its per-(key, DOY) partials (decimal sum + count) and the
    * climatology is re-derived from merged partials WITHOUT rescanning
    * history. Demonstrated by splitting the daily series into
    * disjoint halves, aggregating each half independently, merging,
    * and finalizing — because the accumulator is exact decimal, the
    * result is BIT-IDENTICAL to the direct single-pass build
    * (spec-pinned against [[climatologyBpRaw]]; the oracle replays the
    * partials→merge→finalize path as CTEs — MhwSql.climIncremental). */
  def climIncremental(s: SparkSession, dir: String): DataFrame = {
    val d = daily(s, dir)
    def partial(df: DataFrame): DataFrame =
      df.groupBy(col("user_id"), col("doy"))
        .agg(sum(col("sst").cast(Dec)).as("s"), count(col("sst")).as("n"))
    val half = pmod(dayofmonth(col("d")), lit(2))
    partial(d.filter(half === 0)).unionByName(partial(d.filter(half === 1)))
      .groupBy(col("user_id"), col("doy"))
      .agg(sum(col("s")).as("s"), sum(col("n")).as("n"))
      .select(col("user_id"), col("doy"),
        r(col("s").cast("double") / col("n"), 6).as("seas"))
  }

  /** best_practice.compute_climatology, smoothPercentile=true. */
  def climatologyBpSmooth(s: SparkSession, dir: String): DataFrame =
    climThresh(daily(s, dir), Clim(0, seas = true, smoothHalf = Some(15)))

  /** best_practice.compute_threshold, smoothPercentile=false, q=0.9. */
  def thresholdBpRaw(s: SparkSession, dir: String): DataFrame =
    climThresh(daily(s, dir), Clim(5, pctile = Some(0.9)))

  /** best_practice.compute_threshold, smoothPercentile=true, q=0.9. */
  def thresholdBpSmooth(s: SparkSession, dir: String): DataFrame =
    climThresh(daily(s, dir), Clim(5, pctile = Some(0.9), smoothHalf = Some(15)))

  /** legacy.compute_climatology: pooled mean + Feb-29 interp + smoothing. */
  def climatologyLegacy(s: SparkSession, dir: String): DataFrame =
    climThresh(daily(s, dir), Clim(5, seas = true, feb29 = true, smoothHalf = Some(15)))

  /** legacy.compute_threshold: pooled quantile + Feb-29 interp + smoothing. */
  def thresholdLegacy(s: SparkSession, dir: String): DataFrame =
    climThresh(daily(s, dir),
      Clim(5, pctile = Some(0.9), feb29 = true, smoothHalf = Some(15)))

  /** Legacy climatology + threshold in one kernel pass: the pooled mean
    * (seas) and the pooled quantile (thresh), Feb-29 interpolation and
    * circular smoothing of both. Column for column equal to
    * [[climatologyLegacy]] and [[thresholdLegacy]] (spec-pinned). */
  def legacyClimThresh(dailyDf: DataFrame, hw: Int = 5,
                       pctile: Double = 0.9): DataFrame =
    climThresh(dailyDf,
      Clim(hw, seas = true, pctile = Some(pctile), feb29 = true, smoothHalf = Some(15)))

  /** Query: [[legacyClimThresh]] over the events-derived daily series. */
  def legacyClimThreshQ(s: SparkSession, dir: String): DataFrame =
    legacyClimThresh(daily(s, dir))

  // --------------------------------------------------------------- detrend

  /** best_practice.detrend deg=1 per series: OLS fit of sst against
    * elapsed days, trend subtracted over the full record. Slope/intercept
    * from exact decimal moment sums (order-independent → cross-engine
    * deterministic), final arithmetic IEEE double. One shuffle on the
    * series key; moments are algebraic (map-side partials). */
  def detrend(s: SparkSession, dir: String): DataFrame =
    detrendDaily(daily(s, dir))

  /** Generalized detrend over a canonical daily series: fit on the
    * baseline years (inclusive, None = full record), subtract the trend
    * over the full record — reference evaluates `xr.polyval(da.time)`
    * over everything after fitting on the period slice. */
  def detrendDaily(dl: DataFrame,
                   baseline: Option[(Int, Int)] = None): DataFrame =
    detrendDailyFit(dl, baseline match {
      case Some((y0, y1)) => _.filter(col("yr").between(y0, y1))
      case None => identity
    })

  /** Reference `detrend(period=slice(from, to))` with an ARBITRARY
    * calendar-date slice (best_practice/climatology.py:43, :71-76):
    * the pandas slice is date-granular — a mid-year baseline like
    * slice('1982-06-15', '2011-03-10') is inexpressible with the
    * year-granular `baseline` — so this takes inclusive ISO dates
    * (express a month-granular pandas slice by its expanded first/last
    * day). Fit on the slice, trend evaluated over the full record. */
  def detrendDailyPeriod(dl: DataFrame, fromDate: String, toDate: String): DataFrame =
    detrendDailyFit(dl,
      _.filter(col("d").between(to_date(lit(fromDate)), to_date(lit(toDate)))))

  /** The days an OLS fit counts: those holding a number (a null or NaN
    * sst would still count in `n` while the decimal sums skip it). */
  private def valued(t: DataFrame): DataFrame =
    t.filter(nanAsNull(col("sst")).isNotNull)

  /** Core: OLS per key over `fitSlice(t)`, trend subtracted everywhere
    * (a NaN day stays NaN). */
  private def detrendDailyFit(dl: DataFrame,
                              fitSlice: DataFrame => DataFrame): DataFrame = {
    val origin = dl.agg(min(col("d")).as("d0"))
    val t = dl.crossJoin(broadcast(origin))
      .withColumn("t", datediff(col("d"), col("d0")))
    val tFit = valued(fitSlice(t))
    val fit = tFit.groupBy(col("user_id")).agg(
      count(lit(1)).cast("double").as("n"),
      sum(col("t").cast("long")).cast("double").as("st"),
      sum(col("t").cast("long") * col("t")).cast("double").as("stt"),
      sum(col("sst").cast(Dec)).cast("double").as("sy"),
      // double-multiply THEN cast: IEEE product is engine-identical,
      // decimal×int widening rules are not
      sum((col("sst") * col("t")).cast(Dec)).cast("double").as("sty"))
      .withColumn("slope",
        (col("n") * col("sty") - col("st") * col("sy")) /
        (col("n") * col("stt") - col("st") * col("st")))
      .withColumn("intercept",
        col("sy") / col("n") - col("slope") * (col("st") / col("n")))
      .select(col("user_id"), col("slope"), col("intercept"))
    t.join(graft.Hints.keyDim(fit), "user_id")
      .select(col("user_id"), col("d"),
        r(col("sst") - col("intercept") - col("slope") * col("t"), 6)
          .as("detrended"))
  }

  /** Query #8b detrend_poly2: best_practice.detrend with deg=2 — the
    * reference's `deg` parameter beyond the linear default
    * (best_practice/climatology.py:43 `detrend(..., deg)` →
    * `da.polyfit('time', deg)`). Quadratic normal equations solved in
    * closed form (Cramer's rule on the 3×3 moment matrix). Moment sums
    * are exact: integer powers of the day index accumulate in
    * DECIMAL(38,0) (t⁴ sums overflow int64 past ~30 years of daily
    * data), y-moments in DECIMAL(38,10) — order-independent, so the
    * determinant arithmetic sees identical doubles on both engines.
    * Same one-shuffle shape as the linear fit. */
  def detrendPoly2(s: SparkSession, dir: String): DataFrame =
    detrendPoly2Daily(daily(s, dir))

  /** Core of [[detrendPoly2]] over any (user_id, d, sst) daily frame. */
  def detrendPoly2Daily(dl: DataFrame): DataFrame = {
    val origin = dl.agg(min(col("d")).as("d0"))
    val t = dl.crossJoin(broadcast(origin))
      .withColumn("t", datediff(col("d"), col("d0")))
    val DecI = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    // integer powers stay integral per row (long t⁴ is exact to ~150
    // years of daily data) and accumulate in exact decimals
    val tl = col("t").cast("long")
    val fit = valued(t).groupBy(col("user_id")).agg(
      count(lit(1)).cast("double").as("n"),
      sum(tl.cast(DecI)).cast("double").as("s1"),
      sum((tl * tl).cast(DecI)).cast("double").as("s2"),
      sum((tl * tl * tl).cast(DecI)).cast("double").as("s3"),
      sum((tl * tl * tl * tl).cast(DecI)).cast("double").as("s4"),
      sum(col("sst").cast(Dec)).cast("double").as("sy"),
      sum((col("sst") * col("t")).cast(Dec)).cast("double").as("sty"),
      sum((col("sst") * col("t") * col("t")).cast(Dec)).cast("double").as("st2y"))
      // Cramer: det of [[n,s1,s2],[s1,s2,s3],[s2,s3,s4]]; columns
      // replaced by the y-moment vector for each coefficient
      .withColumn("det",
        col("n") * (col("s2") * col("s4") - col("s3") * col("s3")) -
        col("s1") * (col("s1") * col("s4") - col("s3") * col("s2")) +
        col("s2") * (col("s1") * col("s3") - col("s2") * col("s2")))
      .withColumn("c0",
        (col("sy") * (col("s2") * col("s4") - col("s3") * col("s3")) -
         col("s1") * (col("sty") * col("s4") - col("s3") * col("st2y")) +
         col("s2") * (col("sty") * col("s3") - col("s2") * col("st2y"))) / col("det"))
      .withColumn("c1",
        (col("n") * (col("sty") * col("s4") - col("s3") * col("st2y")) -
         col("sy") * (col("s1") * col("s4") - col("s3") * col("s2")) +
         col("s2") * (col("s1") * col("st2y") - col("sty") * col("s2"))) / col("det"))
      .withColumn("c2",
        (col("n") * (col("s2") * col("st2y") - col("sty") * col("s3")) -
         col("s1") * (col("s1") * col("st2y") - col("sty") * col("s2")) +
         col("sy") * (col("s1") * col("s3") - col("s2") * col("s2"))) / col("det"))
      .select(col("user_id"), col("c0"), col("c1"), col("c2"))
    t.join(graft.Hints.keyDim(fit), "user_id")
      .select(col("user_id"), col("d"),
        r(col("sst") - col("c0") - col("c1") * col("t") -
          col("c2") * col("t") * col("t"), 6).as("detrended"))
  }

  /** Query #8d detrend_period: [[detrendDailyPeriod]] on a sub-month
    * slice of the test corpus (Jan 8–22 inclusive of a Jan 1–30 record)
    * — the reference's date-granular `period=slice(...)` surface that
    * year-granular baselines cannot express. */
  def detrendPeriod(s: SparkSession, dir: String): DataFrame =
    detrendDailyPeriod(daily(s, dir), "2024-01-08", "2024-01-22")

  /** Query #8c detrend_baseline: best_practice.detrend's `period`
    * parameter — fit the linear trend on a baseline slice only (here the
    * first half of the record by day index; the reference takes an
    * arbitrary time slice), then evaluate and subtract it over the FULL
    * record (climatology.py:70-76: polyfit on `da.sel(time=period)`,
    * polyval over `da.time`). The slice boundary is a broadcast scalar —
    * no collect, no second shuffle. */
  def detrendBaseline(s: SparkSession, dir: String): DataFrame =
    detrendBaselineDaily(daily(s, dir))

  /** Core of [[detrendBaseline]] over any (user_id, d, sst) daily frame. */
  def detrendBaselineDaily(dl: DataFrame): DataFrame = {
    val origin = dl.agg(min(col("d")).as("d0"), max(col("d")).as("d1"))
    val t = dl.crossJoin(broadcast(origin))
      .withColumn("t", datediff(col("d"), col("d0")))
      .withColumn("cut", floor(datediff(col("d1"), col("d0")) / 2))
    val fit = valued(t.filter(col("t") <= col("cut")))
      .groupBy(col("user_id")).agg(
        count(lit(1)).cast("double").as("n"),
        sum(col("t").cast("long")).cast("double").as("st"),
        sum(col("t").cast("long") * col("t")).cast("double").as("stt"),
        sum(col("sst").cast(Dec)).cast("double").as("sy"),
        sum((col("sst") * col("t")).cast(Dec)).cast("double").as("sty"))
      .withColumn("slope",
        (col("n") * col("sty") - col("st") * col("sy")) /
        (col("n") * col("stt") - col("st") * col("st")))
      .withColumn("intercept",
        col("sy") / col("n") - col("slope") * (col("st") / col("n")))
      .select(col("user_id"), col("slope"), col("intercept"))
    t.join(graft.Hints.keyDim(fit), "user_id")
      .select(col("user_id"), col("d"),
        r(col("sst") - col("intercept") - col("slope") * col("t"), 6)
          .as("detrended"))
  }

  // -------------------------------------------------------------- severity

  /** common.calculate_severity: T_anom = sst − seas(doy); severity =
    * T_anom / (thresh(doy) − seas(doy) + 1e-9). A day whose sst is NaN
    * carries null sst, T_anom and severity, as an absent day would: it
    * never exceeds (Spark orders NaN above every number) and the event
    * metrics skip it. Clim tables are
    * key-proportional dims (366 rows per key): broadcast by default so
    * the fact side never shuffles, gated by [[graft.Hints.keyDim]] for
    * deployments whose key cardinality would OOM a broadcast — both
    * gated joins share the (user_id, doy) key, so the degraded plan
    * shuffles the fact side once. */
  def severity(dailyDf: DataFrame, seas: DataFrame, thresh: DataFrame): DataFrame =
    dailyDf.withColumn("sst", nanAsNull(col("sst")))
      .join(graft.Hints.keyDim(seas), Seq("user_id", "doy"))
      .join(graft.Hints.keyDim(thresh), Seq("user_id", "doy"))
      .select(col("user_id"), col("d"),
        r(col("sst") - col("seas"), 6).as("t_anom"),
        r((col("sst") - col("seas")) /
              (col("thresh") - col("seas") + lit(1e-9)), 6).as("severity"),
        // carried for the relThresh/abs intensity variants (Oliver's
        // mhw_relThresh / mhw_abs series); the base `severity` query
        // projects them away, so its contract is unchanged
        col("sst"), col("seas"), col("thresh"))

  /** Severity over the bp-smooth chain at the given pctile. The clim
    * tables are persisted (broadcast to facts, reused by every consumer)
    * and the chain itself is memoized per (session, dir, pctile) — the
    * event and category queries share one evaluation. The seas table is
    * keyed WITHOUT the pctile (it doesn't depend on it), so chains at
    * two pctiles share one persisted copy instead of double-persisting
    * an identical plan. */
  def severityChain(s: SparkSession, dir: String, pctile: Double = 0.9): DataFrame =
    graft.Caches.persisted(s, ("mhw_sev", dir, pctile)) {
      val dl = daily(s, dir)
      val seas = graft.Caches.persisted(s, ("mhw_seas", dir)) {
        climThresh(dl, Clim(0, seas = true, smoothHalf = Some(15)))
      }
      val thresh = graft.Caches.persisted(s, ("mhw_thresh", dir, pctile)) {
        climThresh(dl, Clim(5, pctile = Some(pctile), smoothHalf = Some(15)))
      }
      severity(dl, seas, thresh)
    }

  // ---------------------------------------------------------------- events

  /** common.calculate_mhw_metrics: boolean runs of severity>1 on the
    * calendar day axis (absent days break runs, like NaN→False in the
    * reference), duration filter, then single-pass gap-join of kept runs
    * (start − prev_end ≤ maxGap — chains merge transitively), all in
    * [[eventChains]] over each series' exceeding days. Metrics are
    * computed over the merged span INCLUDING gap days
    * ([[eventMetrics]]); peak is the first argmax of T_anom.
    *
    * One per-series kernel ([[eventKernel]]): one [[byKey]] exchange of
    * (user_id, epoch day, t_anom, severity), a hash sort, then each
    * series' day-sorted record scanned once in Scala for its spans and
    * their metrics. The severity frame is read once, origin included:
    * the kernel works on epoch days, each task reports its first day,
    * and the small event output is re-based on the earliest
    * ([[rebased]]), so indices count days since the frame's first day.
    *
    * `maxEvents` is the reference's `maxEvt`/`l_return` slot cap
    * (core.py:37,130: metrics arrays are pre-allocated at l_return=200
    * per cell, so chronologically later events have nowhere to land):
    * here each series keeps its first `maxEvents` spans, cut BEFORE
    * their metrics are computed. Long format needs no padding rows; the
    * default keeps every event (the cap only binds on >200-event
    * series — century-scale hourly records). */
  def detectEvents(sev: DataFrame, minDuration: Int = 5, maxGap: Int = 2,
                   maxEvents: Int = Int.MaxValue): DataFrame = {
    val ix = (c: String) => (col(c) - col("d0")).as(c)
    rebased(kernelRows(sev, minDuration, maxGap, maxEvents, None))
      .select(col("user_id"), col("evt"), ix("index_start"), ix("index_end"),
        date_from_unix_date(col("index_start")).as("date_start"),
        date_from_unix_date(col("index_end")).as("date_end"),
        (col("index_end") - col("index_start") + 1).as("duration"),
        ix("index_peak"), date_from_unix_date(col("index_peak")).as("date_peak"),
        col("intensity_max"), col("intensity_mean"), col("intensity_cumul"),
        col("severity_max"))
  }

  /** Exceedance, Spark's own `severity > 1` (null: no; NaN: yes). The
    * stream stages it as a column and [[eventKernel]] spells it in
    * Scala. */
  private[graft] val exceeds: Column = col("severity") > 1

  /** [[eventKernel]] over a severity frame: one [[byKey]] exchange of
    * (user_id, day, t_anom, severity, carry…, h), `day` the epoch day,
    * sorted on h = xxhash64(user_id) — one long sort key that Spark
    * radix-sorts; a hash collision only interleaves two series, which
    * the kernel separates again. `carry` set asks for span days. The
    * output holds the event columns, then for span days the day columns
    * (idx, t_anom, severity, carry…, ta_prev, ta_next), then `lo`; its
    * key may be null (marker rows). */
  private def kernelRows(sev: DataFrame, minDuration: Int, maxGap: Int, maxEvents: Int,
                         carry: Option[Seq[String]]): DataFrame = {
    val rows = byKey(sev.select(Seq(col("user_id"), unix_date(col("d")).as("day"),
        col("t_anom").cast("double"), col("severity").cast("double")) ++
        carry.toSeq.flatten.map(c => col(c).cast("double")): _*))
      .withColumn("h", xxhash64(col("user_id")))
      .sortWithinPartitions(col("h"))
    val days = carry.toSeq.flatMap(cs => ("idx" -> IntegerType) +:
      (Seq("t_anom", "severity") ++ cs ++ Seq("ta_prev", "ta_next")).map(_ -> DoubleType))
    val out = StructType(sev.schema("user_id").copy(nullable = true) +:
      (Seq("evt" -> LongType, "index_start" -> IntegerType, "index_end" -> IntegerType,
           "index_peak" -> IntegerType) ++
       Seq("intensity_max", "intensity_mean", "intensity_cumul", "severity_max").map(_ -> DoubleType) ++
       days :+ ("lo" -> IntegerType)).map { case (n, t) => StructField(n, t) })
    rows.mapPartitions(eventKernel(minDuration, maxGap, maxEvents, carry.isDefined))(
      Encoders.row(out))
  }

  /** The kernel output with the origin `d0` (the frame's first day)
    * beside every event row: each task's `lo` marker row carries its
    * first day, and one window over the small detection output takes
    * their minimum, then the markers go. */
  private def rebased(out: DataFrame): DataFrame =
    out.withColumn("d0", min(col("lo")).over(Window.partitionBy()))
      .filter(col("lo").isNull)

  /** The event scan of ONE series (common/core.py:37 `_detect_events`):
    * its exceeding day indices, sorted ascending → maximal runs of
    * consecutive indices, the duration filter, then a single-pass
    * gap-join (start − prev_end ≤ maxGap, chains merge transitively).
    * Returns the merged (start, end) spans in order. The only run
    * detection in graft: [[eventKernel]] runs it per series, the
    * streaming fold over each key's open buffer. */
  private[graft] def eventChains(idx: Seq[Int], minDuration: Int,
                                 maxGap: Int): Vector[(Int, Int)] = {
    val runs = idx.foldLeft(Vector.empty[(Int, Int)]) {
      case (done :+ ((a, b)), i) if i == b + 1 => done :+ ((a, i))
      case (done, i) => done :+ ((i, i))
    }
    runs.filter { case (a, b) => b - a + 1 >= minDuration }
      .foldLeft(Vector.empty[(Int, Int)]) {
        case (done :+ ((a0, b0)), (a, b)) if a - b0 <= maxGap => done :+ ((a0, b))
        case (done, run) => done :+ run
      }
  }

  /** The metrics of one event over its days `ds` in day order, each row
    * holding (day, t_anom, severity) from column `at` on: the
    * first-argmax peak day, intensity max / mean / cumulative and the
    * max severity, each null when no day holds a value. Spark's
    * aggregates mirrored: `max` skips null and orders NaN above every
    * number, the peak is the first day whose T_anom equals it (NaN
    * equals NaN), the mean and cumulative are [[graft.Parity.davg]] and
    * [[graft.Parity.dsum]] at 6dp on an exact [[graft.Parity.Sums]].
    * The batch kernel and the stream drain's finish share it. */
  private[graft] def eventMetrics(ds: collection.Seq[Row], at: Int): Seq[Any] = {
    def vals(j: Int) = ds.collect { case r if !r.isNullAt(at + j) => r.getInt(at) -> r.getDouble(at + j) }
    def mx(vs: collection.Seq[Double]) = vs.reduceOption((x, y) => if (!x.isNaN && (y.isNaN || y > x)) y else x)
    val ta = vals(1)
    val imax = mx(ta.map(_._2))
    val peak = imax.flatMap(m => ta.collectFirst { case (d, v) if v == m || v.isNaN && m.isNaN => d })
    val sum = exactSum(ta.map(_._2))
    Seq[Option[Any]](peak, imax, sum.map(s => r6d(s / ta.count(!_._2.isNaN))), sum.map(r6d),
      mx(vals(2).map(_._2)).map(r6d(_))).map(_.orNull)
  }

  /** The event kernel's per-partition step over rows as [[kernelRows]]
    * lays them out (user_id, day, t_anom, severity, carry…, h), sorted
    * by h. Per series it sorts the days, finds the spans with
    * [[eventChains]], keeps the first `maxEvents` and emits, with epoch
    * days in the index columns, one row per event (user_id, evt,
    * index_start, index_end, index_peak, intensity_max, intensity_mean,
    * intensity_cumul, severity_max, lo = null), or with `spanDays` one
    * per span day: those columns but `lo`, then the day's (idx, t_anom,
    * severity, carry…), the T_anom of the calendar days before and
    * after when the series holds them (ta_prev, ta_next), lo = null.
    * After the last series, one marker row (all null but `lo`, the
    * task's first day) for [[rebased]]. Null keys and null days make no
    * events (a null day never counts toward the first day either). */
  private[graft] def eventKernel(minDuration: Int, maxGap: Int, maxEvents: Int,
                                 spanDays: Boolean)(rows: Iterator[Row]): Iterator[Row] = {
    var lo = Int.MaxValue
    var width = 10
    def series(key: Any, rs: collection.Seq[Row]): Iterator[Row] = {
      // day order: (day, arrival) packed into one long per row
      val order = Array.tabulate(rs.length)(i => (rs(i).getInt(1).toLong << 32) | i)
      java.util.Arrays.sort(order)
      val ds = order.map(o => rs(o.toInt)).toIndexedSeq
      val hot = ds.collect { case r if !r.isNullAt(3) && (r.getDouble(3) > 1 || r.getDouble(3).isNaN) => r.getInt(1) }
      var at = 0
      eventChains(hot, minDuration, maxGap).iterator.take(maxEvents).zipWithIndex.flatMap {
        case ((a, b), k) =>
          while (ds(at).getInt(1) < a) at += 1
          val from = at
          while (at < ds.length && ds(at).getInt(1) <= b) at += 1
          val ev = Seq(key, k + 1L, a, b) ++ eventMetrics(ds.slice(from, at), 1)
          if (!spanDays) Iterator.single(Row.fromSeq(ev :+ null))
          else (from until at).iterator.map { i =>
            def ta(j: Int): Any =
              if (j >= 0 && j < ds.length && math.abs(ds(j).getInt(1) - ds(i).getInt(1)) == 1)
                ds(j).get(2) else null
            val r = ds(i)
            Row.fromSeq(ev ++ r.toSeq.slice(1, r.length - 1) ++ Seq(ta(i - 1), ta(i + 1), null))
          }
      }
    }
    // every row with a day counts toward the task's first day; rows
    // with a null key or day make no events
    val events = perSeries(rows) { r =>
      if (spanDays) width = r.length + 10
      !r.isNullAt(1) && { lo = math.min(lo, r.getInt(1)); !r.isNullAt(0) }
    }(series)
    events ++ (if (lo == Int.MaxValue) Iterator.empty
               else Iterator.single(Row.fromSeq(Seq.fill(width - 1)(null) :+ lo)))
  }

  /** Hobday-2018 category from per-event max severity. */
  def categoryOf(sevMax: Column): Column =
    when(sevMax <= 2, "moderate")
      .when(sevMax <= 3, "strong")
      .when(sevMax <= 4, "severe")
      .otherwise("extreme")

  /** Query #10: full event metrics (pctile=0.6, minDuration=3, maxGap=2 —
    * parameters chosen so the test data exercises duration filtering AND
    * gap-merging; operator defaults stay Hobday 5/2). */
  /** The #10-parameterized event table (pctile 0.6, minDuration 3,
    * maxGap 2), memoized per (session, dir): EIGHT queries (#10, #317,
    * #11e, #11l, #11g, #87b/#87, #11i, #345) consume the IDENTICAL
    * detection output, so the run/gap-join detection runs once per
    * session on top of the already-memoized severity chain. */
  private[graft] def eventsTable(s: SparkSession, dir: String): DataFrame =
    graft.Caches.persisted(s, ("mhw_events06", dir)) {
      detectEvents(severityChain(s, dir, 0.6), minDuration = 3, maxGap = 2)
    }

  def mhwEvents(s: SparkSession, dir: String): DataFrame =
    eventsTable(s, dir)
      .drop("severity_max")

  /** Query #317 mhw_onset_composite: SUPERPOSED EPOCH ANALYSIS around
    * event onsets — for each day offset in [−before, +after] relative
    * to every detected event's start, the composite (cross-event) mean
    * anomaly and severity. The canonical "what does an average MHW look
    * like as it spins up and decays" figure of the Hobday-school
    * literature: the pre-onset ramp (offsets < 0) shows how much
    * warning the threshold gives, the post-onset tail how events decay
    * relative to the duration filter. Same detection parameterization
    * as #10 (pctile 0.6, minDuration 3, maxGap 2) so the composite
    * describes exactly the events #10 reports; the severity composite
    * is the robust panel under that parameterization (the 0.6 quantile
    * can sit below the mean, where the anomaly's sign flips with the
    * denominator — severity is what detection thresholds on).
    *
    * Scale shape: the event table is per-key (keyDim-gated broadcast);
    * the composite is one range-join of the persisted severity table
    * against its onset dates plus a ≤(before+after+1)-row rollup — no
    * window, nothing collected. */
  def mhwOnsetComposite(s: SparkSession, dir: String, before: Int = 10,
                        after: Int = 20): DataFrame = {
    val ev = eventsTable(s, dir)
      .select(col("user_id").as("ev_uid"), col("date_start"))
    severityChain(s, dir, 0.6).join(graft.Hints.keyDim(ev),
        col("user_id") === col("ev_uid") &&
        col("d").between(date_sub(col("date_start"), before),
                         date_add(col("date_start"), after)))
      .select(datediff(col("d"), col("date_start")).as("offset"),
              col("t_anom"), col("severity"))
      .groupBy(col("offset"))
      .agg(count(lit(1)).as("n_obs"),
           davg(col("t_anom"), 6).as("mean_anom"),
           davg(col("severity"), 6).as("mean_severity"))
      .orderBy(col("offset"))
  }

  /** Query #11: Hobday-2018 category distribution over detected events. */
  def mhwCategory(s: SparkSession, dir: String): DataFrame =
    eventsTable(s, dir)
      .groupBy(categoryOf(col("severity_max")).as("category"))
      .agg(count(lit(1)).as("n_events"),
           davg(col("duration").cast("double"), 4).as("avg_duration"),
           max(col("intensity_max")).as("max_intensity"))

  /** Query #11d mhw_spatial_extent: per-day MHW coverage — the fraction
    * of observed series in MHW state (severity > 1) each calendar day,
    * the "MHW area" time series of the Hobday mapping studies. One
    * partial-aggregated groupBy over the (persisted) severity table; at
    * 100 TB the day axis has bounded cardinality → tiny shuffle. */
  def mhwSpatialExtent(s: SparkSession, dir: String): DataFrame =
    severityChain(s, dir, 0.9)
      .groupBy(col("d"))
      .agg(count(lit(1)).as("n_series"),
           sum(when(col("severity") > 1, 1L).otherwise(0L)).as("n_mhw"))
      .withColumn("mhw_frac", r(col("n_mhw") / col("n_series"), 6))

  /** #341 mhw_event_sync: pairwise EVENT SYNCHRONY — for every series
    * pair that is ever in MHW state on the same day, the Jaccard
    * overlap of their event-day sets (co-event days / union of event
    * days). #11d answers "how much of the basin is burning TODAY";
    * this answers "WHICH CELLS burn TOGETHER" — the spatial-coherence
    * readout behind regional event attribution (a basin-wide forcing
    * shows as a dense high-Jaccard block, local noise as isolated
    * pairs). Pairs that never co-occur are absent — identically in
    * both engines.
    *
    * Scale shape: the event-day table is DETECTION OUTPUT (tiny vs
    * facts); the co-occurrence join is day-keyed, so the per-day fan
    * is (active series)². Event sparsity bounds quiet days, but a
    * basin-wide event makes active ≈ all series — the hot day IS a
    * series² skewed fan, and the output itself is pair-cardinality.
    * [[graft.Hints.SyncDayCap]] bounds it: a positive K keeps, per
    * day, only the K active series with the smallest md5 rank (hash
    * of the series key alone, so the kept set is deterministic and a
    * low-rank series keeps its complete day set), capping the day fan
    * at K² and the output at K²·|days|. Both the pair join AND the
    * per-series day counts run on the capped table, so the capped
    * Jaccard is self-consistent (the synchrony of the subsampled
    * sets, not a biased estimate of the full one). Default 0 = exact,
    * oracle parity; the degraded plan is pinned in PostureSpec. */
  def mhwEventSync(s: SparkSession, dir: String): DataFrame =
    eventSyncDf(severityChain(s, dir, 0.9)
      .filter(col("severity") > 1)
      .select(col("user_id"), col("d")))

  /** DataFrame-generic core: expects a (user_id, d) event-day set. */
  private[graft] def eventSyncDf(evdIn: DataFrame): DataFrame = {
    val cap = graft.Hints.syncDayCap(evdIn.sparkSession)
    val evdAll = graft.Lineage.pin(evdIn)
    val evd =
      if (cap <= 0) evdAll
      else {
        // deterministic per-day thinning: rank active series by a hash
        // of the series key ALONE — the kept set is reproducible, and a
        // series below the rank cut keeps its entire day set. The
        // ranking window is day-keyed and linear in actives (the fan it
        // exists to bound is quadratic).
        val wd = org.apache.spark.sql.expressions.Window
          .partitionBy(col("d"))
          .orderBy(md5(col("user_id").cast("string")), col("user_id"))
        evdAll.withColumn("rk", row_number().over(wd))
          .filter(col("rk") <= cap)
          .drop("rk")
      }
    val cnt = evd.groupBy(col("user_id")).agg(count(lit(1)).as("nd"))
    evd.select(col("user_id").as("user_a"), col("d"))
      .join(evd.select(col("user_id").as("user_b"), col("d")), Seq("d"))
      .filter(col("user_a") < col("user_b"))
      .groupBy(col("user_a"), col("user_b"))
      .agg(count(lit(1)).as("days_both"))
      .join(cnt.select(col("user_id").as("user_a"), col("nd").as("days_a")),
            "user_a")
      .join(cnt.select(col("user_id").as("user_b"), col("nd").as("days_b")),
            "user_b")
      .withColumn("jaccard",
        r(col("days_both").cast("double") /
          (col("days_a") + col("days_b") - col("days_both")), 6))
      .select(col("user_a"), col("user_b"), col("days_a"), col("days_b"),
              col("days_both"), col("jaccard"))
      .orderBy(col("user_a"), col("user_b"))
  }

  /** #359 mhw_event_sync_blocks: event synchrony COARSE-GRAINED to
    * series blocks — the aggregation answer to #341's basin-wide-day
    * quadratic (the alternative to [[graft.Hints.SyncDayCap]]'s
    * thinning): series collapse to blocks of `blockSize` consecutive
    * keys, a block is event-active on a day when ANY member is, and
    * the pair Jaccard runs over block event-day sets through the SAME
    * key-generic core as #341. The day fan is (active blocks)² ≤
    * (series/B)² — a B² worst-case reduction — and the output is
    * blocks²-bounded, so the regional-coherence readout (which AREAS
    * burn together) survives the basin-wide regime that makes the
    * cell-level pair table itself impractical. blockSize is the
    * resolution/cost knob a deployment sets to its cell-to-region
    * ratio. */
  def mhwEventSyncBlocks(s: SparkSession, dir: String,
                         blockSize: Int = 16): DataFrame =
    eventSyncDf(severityChain(s, dir, 0.9)
      .filter(col("severity") > 1)
      .select(floor(col("user_id") / blockSize).cast("long").as("user_id"),
              col("d"))
      .distinct())
      .withColumnRenamed("user_a", "block_a")
      .withColumnRenamed("user_b", "block_b")

  /** Query #11e mhw_annual_stats: per-series annual event block stats —
    * event count, total MHW days, mean/max peak intensity, summed
    * cumulative intensity — the `blockAverage` analog of the public
    * marineHeatWaves toolkit (annual block summaries of detected
    * events). Events are tiny relative to facts, so this is a free
    * post-aggregation on the detection output. */
  def mhwAnnualStats(s: SparkSession, dir: String): DataFrame =
    eventsTable(s, dir)
      .groupBy(col("user_id"), year(col("date_start")).as("yr"))
      .agg(count(lit(1)).as("n_events"),
           sum(col("duration").cast("long")).as("mhw_days"),
           davg(col("intensity_max"), 6).as("mean_imax"),
           max(col("intensity_max")).as("max_imax"),
           dsum(col("intensity_cumul"), 6).as("total_cumul"))

  /** #11l mhw_event_dist: corpus-wide distribution of event durations
    * and peak intensities — the headline summary a basin-scale MHW
    * census reports (how long, how hot, across how many series).
    * Detection output is key-proportional-tiny relative to facts, so
    * the single-row final aggregate is cheap; the duration percentiles
    * use the same exact sorted-array interpolation as the threshold
    * chain, conf-switched to `approx_percentile` sketches via
    * [[graft.Hints.ApproxQuantiles]] ([[graft.Parity.quantiles]]; event
    * durations, unlike pooled climatology groups, are not years-bounded). */
  def mhwEventDist(s: SparkSession, dir: String): DataFrame = {
    val q = quantiles(s, col("duration").cast("double"), Seq(0.5, 0.9))
    val Seq(p50, p90) = q.at(q.agg).map(r(_, 6))
    eventsTable(s, dir)
      .agg(count(lit(1)).as("n_events"),
           countDistinct(col("user_id")).as("n_series"),
           davg(col("duration").cast("double"), 6).as("mean_duration"),
           max(col("duration")).cast("int").as("max_duration"),
           p50.as("p50_duration"),
           p90.as("p90_duration"),
           davg(col("intensity_max"), 6).as("mean_imax"),
           max(col("intensity_max")).as("max_imax"))
  }

  /** #11j `mhw_trend_annual`: the Oliver-2018 headline statistic —
    * the linear trend in annual MHW days per series, in days/decade.
    * Builds the complete per-key annual series (years with zero events
    * INCLUDED via the key's daily-record year span — a fit over only
    * event-years biases the trend high), then a closed-form least
    * squares in exact integer sums (years and day counts are integers,
    * so Σx, Σx², Σxy are exact longs; only the final slope division is
    * IEEE). Events are key-proportional-tiny and the year spine is
    * ~decades/key: both sides of the final join are partial-aggregated
    * before the one exchange on user_id. */
  def mhwTrendAnnual(s: SparkSession, dir: String): DataFrame = {
    val ev = eventsTable(s, dir)
    val annual = ev
      .groupBy(col("user_id"), year(col("date_start")).as("yr"))
      .agg(sum(col("duration").cast("long")).as("days"))
    val spine = daily(s, dir)
      .groupBy(col("user_id"))
      .agg(min(col("yr")).as("y0"), max(col("yr")).as("y1"))
      .select(col("user_id"),
              explode(sequence(col("y0"), col("y1"))).as("yr"))
    val full = spine.join(annual, Seq("user_id", "yr"), "left")
      .select(col("user_id"), col("yr"),
              coalesce(col("days"), lit(0L)).as("days"))
    val n = count(lit(1)).cast("double")
    val st = sum(col("yr").cast("long")).cast("double")
    val stt = sum((col("yr") * col("yr")).cast("long")).cast("double")
    val sy = sum(col("days")).cast("double")
    val sty = sum(col("days") * col("yr")).cast("double")
    full.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_years"),
           r(sy / n, 6).as("mean_days"),
           r(when(n * stt - st * st === 0d, 0d)
               .otherwise((n * sty - st * sy) / (n * stt - st * st)) * 10, 6)
             .as("trend_days_per_decade"))
  }

  /** Query #11g mhw_event_rates: the remainder of Oliver's per-event
    * metric battery (reference ground-truth asset
    * tests/data/legacy/marineHeatWaves.py:373-410):
    *  - intensity variability = sqrt of the population variance of the
    *    anomaly over the event span (incl. gap days), plus the relThresh
    *    (sst − thresh) and absolute (sst) intensity variants;
    *  - per-category day counts, cats = floor(severity) per day (Oliver's
    *    floor(1 + relThreshNorm); our severity carries the reference's
    *    1e-9 epsilon and 6dp stage rounding);
    *  - rate_onset / rate_decline with the half-day boundary convention:
    *    event-edge strength is the midpoint to the neighbouring day's
    *    anomaly when that calendar day exists; otherwise (series boundary
    *    — or a calendar gap, which the reference's dense grid cannot
    *    represent) the peak-distance slope fallback.
    * Variances use exact decimal moment sums (order-independent), final
    * arithmetic IEEE double, 6dp stage rounding — bit-identical to the
    * DuckDB oracle. Events come from the same per-series kernel as
    * detectEvents, which also hands each event day its neighbours'
    * anomalies. */
  def mhwEventRates(s: SparkSession, dir: String): DataFrame =
    eventRates(severityChain(s, dir, 0.6), minDuration = 3, maxGap = 2)

  /** Core of [[mhwEventRates]] over any severity frame carrying
    * (user_id, d, t_anom, severity, sst, seas, thresh): the event
    * kernel's span days ([[eventKernel]] with sst and thresh carried,
    * each day beside its event's peak and its neighbours' anomalies)
    * under one grouped aggregate, re-based like [[detectEvents]]. */
  def eventRates(sev: DataFrame, minDuration: Int = 5, maxGap: Int = 2): DataFrame = {
    val span = kernelRows(sev, minDuration, maxGap, Int.MaxValue, Some(Seq("sst", "thresh")))
      .withColumn("rt", r(col("sst") - col("thresh"), 6))
    val g = span
      .groupBy(col("user_id"), col("evt"), col("index_start"), col("index_end"),
        col("index_peak"))
      .agg(
        count(lit(1)).cast("double").as("n"),
        max(col("t_anom")).as("ta_peak"),
        dsum(col("t_anom")).as("m1"),
        dsum(col("t_anom") * col("t_anom")).as("m2"),
        count(col("rt")).cast("double").as("nrt"),
        max(col("rt")).as("imax_relthresh"),
        davg(col("rt"), 6).as("imean_relthresh"),
        dsum(col("rt")).as("rt1"),
        dsum(col("rt") * col("rt")).as("rt2"),
        dsum(col("rt"), 6).as("icum_relthresh"),
        max(col("sst")).as("imax_abs"),
        davg(col("sst"), 6).as("imean_abs"),
        dsum(col("sst")).as("a1"),
        dsum(col("sst") * col("sst")).as("a2"),
        dsum(col("sst"), 6).as("icum_abs"),
        sum(when(floor(col("severity")) === 1, 1L).otherwise(0L)).as("days_moderate"),
        sum(when(floor(col("severity")) === 2, 1L).otherwise(0L)).as("days_strong"),
        sum(when(floor(col("severity")) === 3, 1L).otherwise(0L)).as("days_severe"),
        sum(when(floor(col("severity")) >= 4, 1L).otherwise(0L)).as("days_extreme"),
        min(when(col("idx") === col("index_start"), col("t_anom"))).as("ta_first"),
        min(when(col("idx") === col("index_end"), col("t_anom"))).as("ta_last"),
        min(when(col("idx") === col("index_start"), col("ta_prev"))).as("ta_prev0"),
        min(when(col("idx") === col("index_end"), col("ta_next"))).as("ta_next1"),
        min(col("lo")).as("lo"))
    val tp = (col("index_peak") - col("index_start")).cast("double")
    val td = (col("index_end") - col("index_peak")).cast("double")
    def sd(s2: Column, s1: Column, cnt: Column): Column =
      r(sqrt(greatest(s2 / cnt - (s1 / cnt) * (s1 / cnt), lit(0.0))), 6)
    val ix = (c: String) => (col(c) - col("d0")).as(c)
    rebased(g).select(
      col("user_id"), col("evt"), ix("index_start"), ix("index_end"),
      (col("index_end") - col("index_start") + 1).as("duration"),
      ix("index_peak"),
      sd(col("m2"), col("m1"), col("n")).as("intensity_var"),
      col("imax_relthresh"), col("imean_relthresh"),
      sd(col("rt2"), col("rt1"), col("nrt")).as("ivar_relthresh"),
      col("icum_relthresh"),
      col("imax_abs"), col("imean_abs"),
      sd(col("a2"), col("a1"), col("n")).as("ivar_abs"),
      col("icum_abs"),
      col("days_moderate"), col("days_strong"),
      col("days_severe"), col("days_extreme"),
      r(when(col("ta_prev0").isNotNull,
          (col("ta_peak") - lit(0.5) * (col("ta_first") + col("ta_prev0"))) /
            (tp + lit(0.5)))
        .when(tp === 0, col("ta_peak") - col("ta_first"))
        .otherwise((col("ta_peak") - col("ta_first")) / tp), 6).as("rate_onset"),
      r(when(col("ta_next1").isNotNull,
          (col("ta_peak") - lit(0.5) * (col("ta_last") + col("ta_next1"))) /
            (td + lit(0.5)))
        .when(td === 0, col("ta_peak") - col("ta_last"))
        .otherwise((col("ta_peak") - col("ta_last")) / td), 6).as("rate_decline"))
  }

  /** #87b mhw_trend_significance: Oliver's `meanTrend` inference
    * (reference asset tests/data/legacy/marineHeatWaves.py:687-784)
    * applied to the annual-MHW-days series of [[mhwTrendAnnual]] — the
    * centered-time OLS with the trend's standard error:
    * se = s/√Sxx with s² = SSE/(n−2), plus the t-ratio trend/se (the
    * statistic Oliver compares to the Student-t quantile; the quantile
    * itself is a caller-side table lookup, not data-dependent work).
    * All moment sums are exact integers (years × day counts); only the
    * final algebra is IEEE, so the oracle lands on the same bits. Same
    * plan as mhwTrendAnnual: tiny per-key aggregates, one exchange. */
  def mhwTrendSignificance(s: SparkSession, dir: String): DataFrame = {
    val ev = eventsTable(s, dir)
    val annual = ev
      .groupBy(col("user_id"), year(col("date_start")).as("yr"))
      .agg(sum(col("duration").cast("long")).as("days"))
    val spine = daily(s, dir)
      .groupBy(col("user_id"))
      .agg(min(col("yr")).as("y0"), max(col("yr")).as("y1"))
      .select(col("user_id"),
              explode(sequence(col("y0"), col("y1"))).as("yr"))
    val full = spine.join(annual, Seq("user_id", "yr"), "left")
      .select(col("user_id"), col("yr"),
              coalesce(col("days"), lit(0L)).as("days"))
    trendInference(full)
  }

  /** OLS trend inference over any complete (user_id, yr, days) annual
    * frame — the meanTrend algebra, spec entry point. */
  def trendInference(full: DataFrame): DataFrame = {
    val n = count(lit(1)).cast("double")
    val st = sum(col("yr").cast("long")).cast("double")
    val stt = sum((col("yr") * col("yr")).cast("long")).cast("double")
    val sy = sum(col("days")).cast("double")
    val syy = sum(col("days") * col("days")).cast("double")
    val sty = sum(col("days") * col("yr")).cast("double")
    val g = full.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_years"), n.as("nn"), st.as("st"), stt.as("stt"),
           sy.as("sy"), syy.as("syy"), sty.as("sty"))
      .withColumn("sxx", col("stt") - col("st") * col("st") / col("nn"))
      .withColumn("sxy", col("sty") - col("st") * col("sy") / col("nn"))
      .withColumn("syc", col("syy") - col("sy") * col("sy") / col("nn"))
      .withColumn("slope",
        when(col("sxx") === 0d, 0d).otherwise(col("sxy") / col("sxx")))
      .withColumn("sse",
        greatest(col("syc") - col("slope") * col("slope") * col("sxx"), lit(0d)))
      .withColumn("se",
        when(col("nn") > 2 && col("sxx") > 0,
          sqrt(col("sse") / (col("nn") - 2) / col("sxx"))))
    g.select(col("user_id"), col("n_years"),
      r(col("sy") / col("nn"), 6).as("mean_days"),
      r(col("slope"), 6).as("trend_days_per_year"),
      r(col("se"), 6).as("se_trend"),
      r(when(col("se") > 0, col("slope") / col("se")), 6).as("t_ratio"))
  }

  // ----------------------------------------------------------- cold spells

  /** Severity chain over the NEGATED daily series — the engine of marine
    * cold-spell detection (reference ground-truth asset
    * tests/data/legacy/marineHeatWaves.py:245,414: `coldSpells=True`
    * negates the input, runs the identical detect pipeline, and negates
    * intensities back on output). Negation is applied AFTER the daily
    * mean's 6dp stage rounding, so in negated space every downstream
    * value is the exact IEEE negation of a rounded double — the oracle
    * replays the same order of operations. Memoized separately from the
    * warm-spell chain (same plan shape, different sign). */
  def coldSeverityChain(s: SparkSession, dir: String, pctile: Double = 0.6): DataFrame =
    graft.Caches.persisted(s, ("mhw_cold_sev", dir, pctile)) {
      coldSeverityChainDf(daily(s, dir), pctile)
    }

  /** Core of [[coldSeverityChain]] over any (user_id, d, sst, yr, doy)
    * daily frame. */
  def coldSeverityChainDf(dailyDf: DataFrame, pctile: Double): DataFrame = {
    val dl = dailyDf.withColumn("sst", -col("sst"))
    val seas = climThresh(dl, Clim(0, seas = true, smoothHalf = Some(15)))
    val thresh = climThresh(dl, Clim(5, pctile = Some(pctile), smoothHalf = Some(15)))
    severity(dl, seas, thresh)
  }

  /** Query #11h mhw_cold_spells: Oliver's `detect(coldSpells=True)` —
    * marine cold-spell events. The negated series runs the exact warm
    * pipeline (bp-smooth climatology, pooled-quantile threshold at the
    * q=0.6 test parameterization ≡ the 40th percentile of the original
    * series, severity, run/gap-join detection), then the intensity
    * metrics are negated back so cold events report negative anomalies,
    * exactly as the reference flips them on output. Category keeps the
    * Hobday-2018 rule on the (positive) negated-space severity. Plan
    * shape is identical to [[mhwEvents]] — the sign flip is free. */
  def mhwColdSpells(s: SparkSession, dir: String): DataFrame =
    coldEventsOf(coldSeverityChain(s, dir, 0.6), minDuration = 3, maxGap = 2)

  /** Detection + output flip over a negated-space severity frame (the
    * output half of Oliver's coldSpells branch). */
  def coldEventsOf(coldSev: DataFrame, minDuration: Int, maxGap: Int): DataFrame =
    detectEvents(coldSev, minDuration, maxGap)
      .select(
        col("user_id"), col("evt"), col("index_start"), col("index_end"),
        col("date_start"), col("date_end"), col("duration"),
        col("index_peak"), col("date_peak"),
        (-col("intensity_max")).as("intensity_max"),
        (-col("intensity_mean")).as("intensity_mean"),
        (-col("intensity_cumul")).as("intensity_cumul"),
        categoryOf(col("severity_max")).as("category"))

  // ----------------------------------------------------------- event ranks

  /** Query #11i mhw_event_rank: Oliver's `rank()` (reference asset
    * tests/data/legacy/marineHeatWaves.py:785-860) — per-series rank and
    * return period of each event under duration, intensity_max and
    * intensity_cumulative. Rank 1 = largest; ties follow numpy's stable
    * argsort (`n_events − argsort(argsort(x))`): of two equal events the
    * LATER one takes the smaller rank, i.e. `row_number` ordered by
    * (metric DESC, evt DESC). Return period = (nYears + 1) / rank with
    * nYears = (days on record)/365.25 — per series, from its own daily
    * record length, Oliver's time-vector convention.
    *
    * Scale shape: events are key-proportional-tiny; the three rank
    * windows share partitionBy(user_id) (one exchange, three in-stage
    * sorts) and the per-key record-length table joins co-keyed. */
  def mhwEventRank(s: SparkSession, dir: String): DataFrame =
    eventRank(
      eventsTable(s, dir),
      daily(s, dir).groupBy(col("user_id")).agg(count(lit(1)).as("n_days")))

  /** Core of [[mhwEventRank]]: `ev` = detectEvents output (or any frame
    * with user_id, evt, duration, intensity_max, intensity_cumul), `nd`
    * = per-key record length (user_id, n_days). */
  def eventRank(ev: DataFrame, nd: DataFrame): DataFrame = {
    val wU = Window.partitionBy("user_id")
    def rk(c: Column): Column =
      row_number().over(wU.orderBy(c.desc, col("evt").desc)).cast("long")
    val nYears = col("n_days").cast("double") / lit(365.25)
    def rp(rankCol: Column): Column = r((nYears + 1) / rankCol, 6)
    ev.join(graft.Hints.keyDim(nd), Seq("user_id"))
      .select(
        col("user_id"), col("evt"), col("duration"),
        col("intensity_max"), col("intensity_cumul"),
        rk(col("duration")).as("rank_duration"),
        rk(col("intensity_max")).as("rank_imax"),
        rk(col("intensity_cumul")).as("rank_icum"),
        col("n_days"))
      .select(
        col("user_id"), col("evt"), col("duration"),
        col("intensity_max"), col("intensity_cumul"),
        col("rank_duration"), col("rank_imax"), col("rank_icum"),
        rp(col("rank_duration")).as("rp_duration"),
        rp(col("rank_imax")).as("rp_imax"),
        rp(col("rank_icum")).as("rp_icum"))
  }
}
