package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Parity._
import graft.sources.Tables

/** Round-9 batch-19 operators (SURVEY §2 #344-#345): binary transfer
  * entropy between type pairs and the MHW duration-intensity scaling
  * law.
  */
object Round9Ops19 {

  // ------------------------------------ #344 events_transfer_entropy

  /** #344 events_transfer_entropy: DIRECTIONAL information flow
    * between every ordered type pair — binary (above/below own
    * median) transfer entropy TE(src→dst) = Σ p(x₁,x₀,y₀) ·
    * ln[p(x₁|x₀,y₀)/p(x₁|x₀)]: how much does knowing the SOURCE's
    * state today reduce uncertainty about the DESTINATION's state
    * tomorrow, beyond the destination's own history? The model-free,
    * asymmetric companion to #339 (CCF is linear and symmetric in
    * information; TE(a→b) ≠ TE(b→a) IS the direction) — the causality
    * screen before anyone fits #311's diff-in-diff to a pair. Median
    * binarization uses each type's OWN median (the portable #49
    * formula), so the readout is level-free; cells with zero count
    * drop from the sum (TE stays finite — every conditional in an
    * observed cell is positive).
    *
    * Scale shape: the corpus is touched once in the (type, day)
    * rollup; medians are a ≤|types|-row list rollup broadcast back;
    * the lead window, the pair join, the ≤8-cell count table and its
    * marginal windows are all MODEL-SIZED (types² × 8). */
  def eventsTransferEntropy(s: SparkSession, dir: String): DataFrame =
    transferEntropyDf(Tables.events(s, dir))

  /** DataFrame-generic core: expects (event_type, ts, value). */
  def transferEntropyDf(ev: DataFrame): DataFrame = {
    val daily = ev.groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(davg(col("value"), 6).as("m"))
      .transform(graft.Lineage.pin)
    val med = daily.groupBy(col("event_type"))
      .agg(sort_array(collect_list(col("m"))).as("vs"))
      .select(col("event_type"), r(linQuantile(col("vs"), 0.5), 6).as("med"))
    val bits = daily.join(broadcast(med), "event_type")
      .select(col("event_type"), col("d"),
              (col("m") > col("med")).cast("int").as("b"))
      .transform(graft.Lineage.pin)
    val w = Window.partitionBy(col("event_type")).orderBy(col("d"))
    val bx = bits
      .withColumn("x1", lead(col("b"), 1).over(w))
      .filter(col("x1").isNotNull)
      .select(col("event_type").as("dst"), col("d"),
              col("b").as("x0"), col("x1"))
    val trip = bx.join(broadcast(bits.select(col("event_type").as("src"),
        col("d"), col("b").as("y0"))), Seq("d"))
      .filter(col("src") =!= col("dst"))
    val cells = trip.groupBy(col("src"), col("dst"), col("x1"), col("x0"),
        col("y0"))
      .agg(count(lit(1)).as("c"))
    val wPair = Window.partitionBy(col("src"), col("dst"))
    val wX0Y0 = Window.partitionBy(col("src"), col("dst"), col("x0"), col("y0"))
    val wX1X0 = Window.partitionBy(col("src"), col("dst"), col("x1"), col("x0"))
    val wX0 = Window.partitionBy(col("src"), col("dst"), col("x0"))
    val terms = cells
      .withColumn("n", sum(col("c")).over(wPair))
      .withColumn("c_x0y0", sum(col("c")).over(wX0Y0))
      .withColumn("c_x1x0", sum(col("c")).over(wX1X0))
      .withColumn("c_x0", sum(col("c")).over(wX0))
      .withColumn("term",
        (col("c") / col("n")) *
          r(log((col("c") * col("c_x0")).cast("double") /
                (col("c_x0y0") * col("c_x1x0"))), 6))
    terms.groupBy(col("src"), col("dst"))
      .agg(max(col("n")).as("n_triples"),
           dsum(col("term"), 6).as("te_nats"))
      .orderBy(col("src"), col("dst"))
  }

  val eventsTransferEntropySql: String = {
    val q = {
      val l = "CAST(floor((count(m) - 1) * 0.5) AS INT)"
      val f = "((count(m) - 1) * 0.5 - floor((count(m) - 1) * 0.5))"
      val vs = "list_sort(list(m))"
      val vl = s"$vs[$l + 1]"
      val vu = s"$vs[LEAST($l + 2, CAST(count(m) AS INT))]"
      sqlR(s"$vl + ($vu - $vl) * $f", 6)
    }
    s"""WITH daily AS (
       |  SELECT event_type, CAST(ts AS DATE) AS d, ${sqlAvg("value", 6)} AS m
       |  FROM events GROUP BY 1, 2),
       |med AS (SELECT event_type, $q AS med FROM daily GROUP BY event_type),
       |bits AS (
       |  SELECT d.event_type, d.d, CAST(d.m > m.med AS INT) AS b
       |  FROM daily d JOIN med m USING (event_type)),
       |bx AS (
       |  SELECT event_type AS dst, d, b AS x0,
       |         lead(b, 1) OVER (PARTITION BY event_type ORDER BY d) AS x1
       |  FROM bits),
       |trip AS (
       |  SELECT s.event_type AS src, x.dst, x.x1, x.x0, s.b AS y0
       |  FROM (SELECT * FROM bx WHERE x1 IS NOT NULL) x
       |  JOIN bits s ON s.d = x.d AND s.event_type <> x.dst),
       |cells AS (
       |  SELECT src, dst, x1, x0, y0, count(*) AS c
       |  FROM trip GROUP BY 1, 2, 3, 4, 5),
       |terms AS (
       |  SELECT src, dst, c,
       |         sum(c) OVER (PARTITION BY src, dst) AS n,
       |         sum(c) OVER (PARTITION BY src, dst, x0, y0) AS c_x0y0,
       |         sum(c) OVER (PARTITION BY src, dst, x1, x0) AS c_x1x0,
       |         sum(c) OVER (PARTITION BY src, dst, x0) AS c_x0
       |  FROM cells)
       |SELECT src, dst, CAST(max(n) AS BIGINT) AS n_triples,
       |       ${sqlSum(
             "(c / n) * (" +
             sqlR("ln(CAST(c * c_x0 AS DOUBLE) / (c_x0y0 * c_x1x0))", 6) +
             ")", 6)} AS te_nats
       |FROM terms GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  // ------------------------------------- #345 mhw_duration_scaling

  /** #345 mhw_duration_scaling: the DURATION-INTENSITY scaling law of
    * the detected event census — corpus-wide OLS of ln(duration) on
    * ln(peak intensity): do hotter events last longer, and with what
    * exponent? The one-line physics readout of the event catalog
    * (Hobday-style censuses report exactly this power-law panel), and
    * the sanity check that the detector is not fabricating structure
    * (a shuffled catalog reads slope ≈ 0). Reported with intercept,
    * r², and the event count; the #11e detection conventions
    * (minDuration 3, maxGap 2, 60th-percentile threshold).
    *
    * Scale shape: detection output is tiny vs facts; the regression
    * is one decimal moment fold to a single row. */
  def mhwDurationScaling(s: SparkSession, dir: String): DataFrame = {
    val ev = Mhw.eventsTable(s, dir)
      .filter(col("intensity_max") > 0)
      .select(r(log(col("duration").cast("double")), 6).as("y"),
              r(log(col("intensity_max")), 6).as("x"))
    val n = count(lit(1)).cast("double")
    val (sx, sy) = (dsum(col("x")), dsum(col("y")))
    val (sxy, sxx, syy) = (dsum(col("x") * col("y")),
      dsum(col("x") * col("x")), dsum(col("y") * col("y")))
    val den = n * sxx - sx * sx
    val slope = (n * sxy - sx * sy) / nullif(den, lit(0d))
    val r2num = (n * sxy - sx * sy) * (n * sxy - sx * sy)
    val r2den = den * (n * syy - sy * sy)
    ev.agg(count(lit(1)).as("n_events"),
           r(slope, 6).as("slope"),
           r((sy - r(slope, 6) * sx) / n, 6).as("intercept"),
           r(r2num / nullif(r2den, lit(0d)), 6).as("r2"))
  }

  val mhwDurationScalingSql: String = {
    val n = "CAST(count(*) AS DOUBLE)"
    val sx = sqlSum("x"); val sy = sqlSum("y")
    val sxy = sqlSum("x * y"); val sxx = sqlSum("x * x")
    val syy = sqlSum("y * y")
    val den = s"($n * $sxx - $sx * $sx)"
    val slope = sqlR(s"($n * $sxy - $sx * $sy) / nullif($den, 0.0)", 6)
    val r2 = s"(($n * $sxy - $sx * $sy) * ($n * $sxy - $sx * $sy)) / " +
      s"nullif($den * ($n * $syy - $sy * $sy), 0.0)"
    MhwSql.chainPrefix(0.6) +
    s"""SELECT count(*) AS n_events,
       |       $slope AS slope,
       |       ${sqlR(s"($sy - ($slope) * $sx) / $n", 6)} AS intercept,
       |       ${sqlR(r2, 6)} AS r2
       |FROM (
       |  SELECT ${sqlR("ln(CAST(duration AS DOUBLE))", 6)} AS y,
       |         ${sqlR("ln(intensity_max)", 6)} AS x
       |  FROM evm WHERE intensity_max > 0)""".stripMargin
  }
}
