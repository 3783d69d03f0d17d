package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataTypes

/** Cross-engine numeric parity helpers.
  *
  * The driver hash-compares our parquet output against DuckDB running the
  * same ANSI SQL. Double summation is order-dependent, and Spark's partial
  * aggregation order differs from DuckDB's scan order — so plain
  * `sum(double)` can differ in the last ulps and flip a rounded digit.
  *
  * Fix: accumulate in DECIMAL(38,10) (exact, order-independent), cast the
  * final value back to double, then round. The oracle SQL does the
  * identical `sum(CAST(x AS DECIMAL(38,10)))` dance, so both engines land
  * on the same bits. Per-row arithmetic (products, divisions) is plain
  * IEEE double — identical on both engines for identical inputs.
  *
  * At cluster scale decimal partial aggregation is still map-side
  * combinable (sum is algebraic over decimals), so this costs a constant
  * factor, not a shuffle.
  */
object Parity {
  /** The exact accumulator type of every order-independent double sum. */
  private[graft] val Dec = DataTypes.createDecimalType(38, 10)

  /** Event-time epoch micros, robust to the column's timestamp flavor.
    * The driver's parquet has shipped `ts` as int64-nanos, TIMESTAMP µs
    * and TIMESTAMP_NTZ µs across regenerations; `unix_micros` resolves
    * only on TIMESTAMP, so cast first — the NTZ→LTZ cast applies the
    * session timezone, which every entrypoint pins to UTC, making it a
    * stable relabeling (and a no-op cast on already-TIMESTAMP input). */
  def epochUs(c: Column): Column = unix_micros(c.cast(DataTypes.TimestampType))

  /** Portable round-half-up: floor(x·10^d + 0.5)/10^d. Spark's `round`
    * (decimal-string HALF_UP) and DuckDB's (binary) disagree when x sits
    * exactly on a .5 boundary — e.g. the mean of two 6dp values — so we
    * round with plain IEEE ops that are bit-identical in both engines.
    * NaN stays NaN, as in DuckDB: Spark's `floor` of a double is a LONG,
    * which would read NaN as 0. */
  def r(c: Column, d: Int): Column = {
    val m = math.pow(10, d)
    when(isnan(c), lit(Double.NaN)).otherwise(floor(c * m + 0.5) / m)
  }

  /** Exact sum via decimal accumulation, returned as double. */
  def dsum(c: Column): Column = sum(c.cast(Dec)).cast("double")

  /** Exact sum, rounded to `d` places. */
  def dsum(c: Column, d: Int): Column = r(dsum(c), d)

  /** Order-independent mean: exact decimal sum / count, then round. A
    * NaN is skipped in the count as the decimal cast skips it in the sum
    * (nanmean). */
  def davg(c: Column, d: Int): Column =
    r(dsum(c) / count(nanAsNull(c)), d)

  /** The daily mean of a series' observations: [[davg]], except that a
    * day holding a NaN observation is NaN (the decimal cast would read
    * the NaN as null and drop it), so the threshold's strict skipna sees
    * it. The one daily-mean rule of the MHW chain. */
  def dailyMean(c: Column, d: Int): Column =
    when(bool_or(isnan(c)), lit(Double.NaN)).otherwise(davg(c, d))

  /** `c` with NaN read as null (null stays null). */
  def nanAsNull(c: Column): Column = when(!isnan(c), c)

  /** Driver-side replica of [[r]] at d = 6 — THE half-up-6dp rounding
    * every JVM-side finalize (streaming folds, MMR greedy, the MHW
    * climatology kernel) must share with the distributed expressions.
    * NaN stays NaN and ±Inf rounds to ±Long.MaxValue/1e6, exactly as
    * [[r]] does. */
  def r6d(x: Double): Double =
    if (x.isNaN) x else math.floor(x * 1e6 + 0.5).toLong / 1e6

  /** The step rounding of the day-grain folds (Holt, Holt-Winters, the
    * CUSUM chart): half-up at 6dp through a LONG, so NaN rounds to 0.0
    * where [[r6d]] keeps it and ±Inf to ±Long.MaxValue/1e6. It is
    * [[sqlR]] at d = 6 as Spark evaluates it (Spark's `floor` of a
    * double is a long), which is what the folds' oracle SQL replays. */
  def sqlR6d(x: Double): Double = math.floor(x * 1e6 + 0.5).toLong / 1e6

  /** The exact sum of `xs` as Spark's `sum(CAST(x AS DECIMAL(38,10)))`
    * returns it: None (SQL null) when no value casts. */
  def exactSum(xs: IterableOnce[Double]): Option[Double] = {
    val acc = new Sums(1)
    xs.iterator.foreach(acc.addDouble(0, _))
    acc.get(0)
  }

  /** `size` exact sums, each Spark's `sum(CAST(x AS DECIMAL(38,10)))`
    * in JVM code — the one exact-sum accumulator of every Scala-side
    * kernel and fold. A double enters through the DECIMAL(38,10) cast:
    * NaN and ±Inf cast to null and add nothing, and a value past 38
    * digits throws as the cast does. A sum is an unscaled long that
    * widens to BigInteger once it (or a single value, |x| ≳ 9.2e8)
    * leaves the long range, and it leaves through `toDouble`
    * (Decimal.toDouble), which throws past 38 digits as Spark's sum
    * does. `any(i)`: the sum saw a value (false reads as SQL null). */
  final class Sums(size: Int) {
    private val lo = new Array[Long](size)
    private val hi = new Array[java.math.BigInteger](size)
    val any = new Array[Boolean](size)

    def clear(): Unit = {
      java.util.Arrays.fill(lo, 0L)
      java.util.Arrays.fill(hi.asInstanceOf[Array[AnyRef]], null)
      java.util.Arrays.fill(any, false)
    }

    private def addWide(i: Int, u: java.math.BigInteger): Unit =
      hi(i) = if (hi(i) == null) u else hi(i).add(u)

    private def addLong(i: Int, u: Long): Unit = {
      val s = lo(i) + u
      // signed overflow: both operands share a sign the sum lost
      if (((lo(i) ^ s) & (u ^ s)) < 0) {
        addWide(i, java.math.BigInteger.valueOf(lo(i)).add(java.math.BigInteger.valueOf(u)))
        lo(i) = 0L
      } else lo(i) = s
    }

    /** Add `v` as Spark's double→DECIMAL(38,10) cast reads it: its
      * shortest decimal repr, HALF_UP to scale 10. */
    def addDouble(i: Int, v: Double): Unit =
      if (!v.isNaN && !v.isInfinite) {
        any(i) = true
        val d = java.math.BigDecimal.valueOf(v).setScale(10, java.math.RoundingMode.HALF_UP)
        if (math.abs(v) < 9e8) addLong(i, d.unscaledValue.longValue)
        else if (d.precision > 38) throw new ArithmeticException(s"$v overflows DECIMAL(38,10)")
        else addWide(i, d.unscaledValue)
      }

    /** Add an exact scale-10 unscaled sum (a partial kept elsewhere). */
    def addUnscaled(i: Int, u: java.math.BigInteger): Unit = {
      any(i) = true
      if (u.bitLength < 64) addLong(i, u.longValue) else addWide(i, u)
    }

    def addFrom(i: Int, o: Sums, j: Int): Unit =
      if (o.any(j)) {
        any(i) = true
        addLong(i, o.lo(j))
        if (o.hi(j) != null) addWide(i, o.hi(j))
      }

    /** The exact scale-10 unscaled sum. */
    def unscaled(i: Int): java.math.BigInteger =
      if (hi(i) == null) java.math.BigInteger.valueOf(lo(i))
      else hi(i).add(java.math.BigInteger.valueOf(lo(i)))

    def toDouble(i: Int): Double = {
      val d = new java.math.BigDecimal(unscaled(i), 10)
      if (d.precision > 38) throw new ArithmeticException(s"sum $d overflows DECIMAL(38,10)")
      d.doubleValue
    }

    /** The sum as Spark reads it: None (SQL null) when it saw no value. */
    def get(i: Int): Option[Double] = if (any(i)) Some(toDouble(i)) else None

    /** The sum as streaming state keeps it (exact, None when it saw no
      * value); [[addState]] reads it back. */
    def state(i: Int): Option[BigInt] = if (any(i)) Some(BigInt(unscaled(i))) else None

    def addState(i: Int, u: Option[BigInt]): Unit = u.foreach(v => addUnscaled(i, v.bigInteger))
  }

  /** Oracle-SQL fragments mirroring the above (DuckDB dialect-safe ANSI). */
  def sqlR(x: String, d: Int): String = {
    val m = s"1e$d"
    s"floor(($x) * $m + 0.5) / $m"
  }
  def sqlSum(x: String): String =
    s"CAST(sum(CAST(($x) AS DECIMAL(38,10))) AS DOUBLE)"
  def sqlSum(x: String, d: Int): String = sqlR(sqlSum(x), d)
  def sqlAvg(x: String, d: Int): String =
    sqlR(s"${sqlSum(x)} / count($x)", d)

  /** Linear-interpolation quantile over a PRE-SORTED array column — the
    * explicit numpy-"linear" formula v_l + (v_u − v_l)·f, spelled out
    * (instead of Spark's `percentile`) so the oracle engine computes
    * the bit-identical IEEE expression. The single definition every
    * exact-quantile operator (threshold chain, RFM/Pareto boundaries,
    * event-duration percentiles, medians, bootstrap intervals) shares. */
  def linQuantile(vs: Column, p: Double): Column = {
    val n = size(vs)
    val h = (n - 1) * lit(p)
    val l = floor(h).cast("int")
    val f = h - l
    val vl = element_at(vs, l + 1)
    val vu = element_at(vs, least(l + 2, n))
    // empty input (a group whose values are all null collects to []):
    // NULL, matching the DuckDB mirror, whose out-of-range list index
    // is NULL — Spark's element_at(·, 0) would instead raise
    when(n === 0, lit(null)).otherwise(vl + (vu - vl) * f)
  }

  /** Per-group quantiles of `x` at `ps`: `agg` is the group's one
    * aggregate and `at(vs)` reads one unrounded quantile per p from its
    * value `vs` (a reference to the aggregated column, or `agg` itself
    * inline). Exact by default — the sorted samples under
    * [[linQuantile]], bit-matching the oracle; under
    * [[Hints.ApproxQuantiles]] a single bounded-state
    * `approx_percentile(x, array(ps…), 10000)` sketch, rank-exact for
    * groups under 10000 samples. The only reader of that posture. */
  final case class Quantiles(agg: Column, at: Column => Seq[Column])

  def quantiles(s: SparkSession, x: Column, ps: Seq[Double]): Quantiles =
    if (Hints.approxQuantiles(s))
      Quantiles(approx_percentile(x, array(ps.map(lit): _*), lit(10000)),
                vs => ps.indices.map(i => element_at(vs, i + 1)))
    else
      Quantiles(sort_array(collect_list(x)), vs => ps.map(linQuantile(vs, _)))

  /** DuckDB mirror of [[linQuantile]] as an aggregate expression over
    * `list_sort(list(x))` (unrounded — wrap with [[sqlR]] at the call
    * site to match the Spark side's stage rounding). */
  def sqlQuantileAgg(x: String, p: Double): String = {
    val l = s"CAST(floor((count($x) - 1) * $p) AS INT)"
    val f = s"((count($x) - 1) * $p - floor((count($x) - 1) * $p))"
    val vs = s"list_sort(list($x))"
    val vl = s"$vs[$l + 1]"
    val vu = s"$vs[LEAST($l + 2, CAST(count($x) AS INT))]"
    s"($vl + ($vu - $vl) * $f)"
  }
}
