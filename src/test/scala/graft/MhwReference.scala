package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Parity._
import graft.operators.Mhw
import graft.time.DoyFunctions.wrapDoy

/** The DataFrame spelling of the pooled climatology and threshold, kept
  * as the parity reference of the per-series kernel [[Mhw.climThresh]]:
  *  - the raw fan ([[poolSamples]]): each observation explodes to the
  *    (2·hw+1) window centers it feeds, then one aggregate per center;
  *  - slot partials ([[pooledSlots]] → [[poolMerged]]): one aggregate
  *    per (key, DOY) slot in three year-eligibility variants, fanned
  *    ×(2hw+1) as slots and merged per center;
  *  - the Feb-29 ([[interpFeb29Cols]]) and smoothing ([[smoothDoyCols]])
  *    passes over a (user_id, doy, value…) table.
  * Means skip a NaN observation in both the sum and the count
  * ([[graft.Parity.davg]]), the kernel's rule; everything else is the
  * expression the production chain ran before the kernel replaced it. */
object MhwReference {

  /** Explode each daily observation to the (2·hw+1) window centers it
    * contributes to, with the reference's cross-year grid semantics: a
    * center that falls off the [1,366] grid belongs to the adjacent year
    * and only counts if that year is present in the data. */
  def poolSamples(dailyDf: DataFrame, hw: Int): DataFrame = {
    val years = dailyDf.select(col("yr").as("c_yr")).distinct()
    Mhw.byKey(dailyDf)
      .withColumn("k", explode(sequence(lit(-hw), lit(hw))))
      .withColumn("c_raw", col("doy") + col("k"))
      .withColumn("c_yr", col("yr") +
        when(col("c_raw") < 1, -1).when(col("c_raw") > 366, 1).otherwise(0))
      .join(broadcast(years), "c_yr")
      .select(col("user_id"), wrapDoy(col("c_raw")).as("doy"), col("sst"))
  }

  /** Plain per-DOY mean (best-practice climatology). */
  def climatologyBp(dailyDf: DataFrame): DataFrame =
    dailyDf.groupBy(col("user_id"), col("doy")).agg(davg(col("sst"), 6).as("seas"))

  /** Raw-fan pooled quantile: strict skipna, any NaN nulls the center. */
  def pooledQuantileRawFan(dailyDf: DataFrame, hw: Int, pctile: Double): DataFrame =
    poolSamples(dailyDf, hw)
      .groupBy(col("user_id"), col("doy"))
      .agg(sort_array(collect_list(col("sst"))).as("vs"),
           max(when(isnan(col("sst")), 1).otherwise(0)).as("has_nan"))
      .select(col("user_id"), col("doy"),
              when(col("has_nan") === 1, lit(null))
                .otherwise(r(linQuantile(col("vs"), pctile), 6)).as("thresh"))

  /** Raw-fan pooled mean. */
  def pooledMeanRawFan(dailyDf: DataFrame, hw: Int): DataFrame =
    poolSamples(dailyDf, hw)
      .groupBy(col("user_id"), col("doy"))
      .agg(davg(col("sst"), 6).as("seas"))

  /** Slot partials: per (key, DOY) slot, the value array, exact decimal
    * sum, counts and NaN flag in three year-shift eligibility variants
    * (all years / obs whose next year exists / obs whose previous year
    * exists), fanned ×(2hw+1) as slots; each center picks the variant
    * its wrap direction needs. */
  def pooledSlots(dailyDf: DataFrame, hw: Int): DataFrame = {
    val years = dailyDf.select(col("yr")).distinct()
    val flagged = Mhw.byKey(dailyDf)
      .join(broadcast(years.select((col("yr") - 1).as("yr"),
                                   lit(1).as("next_ok"))), Seq("yr"), "left")
      .join(broadcast(years.select((col("yr") + 1).as("yr"),
                                   lit(1).as("prev_ok"))), Seq("yr"), "left")
    def variant(cond: Column, sfx: String): Seq[Column] = {
      val v = when(cond, col("sst"))
      Seq(collect_list(v).as(s"vs$sfx"),
        sum(v.cast(Dec)).as(s"s$sfx"),
        count(when(!isnan(v), v)).as(s"n$sfx"),
        // eligible-ROW count, null-sst rows included: a center exists
        // whenever ANY eligible observation row does
        count(when(cond, lit(1))).as(s"ne$sfx"),
        max(when(cond && isnan(col("sst")), 1).otherwise(0)).as(s"nan$sfx"))
    }
    val aggs = variant(lit(true), "_all") ++
      variant(col("next_ok") === 1, "_next") ++
      variant(col("prev_ok") === 1, "_prev")
    val slots = flagged.groupBy(col("user_id"), col("doy"))
      .agg(aggs.head, aggs.tail: _*)
    def pick(c: String): Column =
      when(col("c_raw") > 366, col(s"${c}_next"))
        .when(col("c_raw") < 1, col(s"${c}_prev"))
        .otherwise(col(s"${c}_all"))
    slots
      .withColumn("k", explode(sequence(lit(-hw), lit(hw))))
      .withColumn("c_raw", col("doy") + col("k"))
      .select(col("user_id"), wrapDoy(col("c_raw")).as("doy"),
        pick("vs").as("vs"), pick("s").as("s"), pick("n").as("n"),
        pick("ne").as("ne"), pick("nan").as("nan"))
  }

  /** Merge the (2hw+1) slot partials of each center; centers with no
    * eligible row are dropped. */
  def poolMerged(dailyDf: DataFrame, hw: Int): DataFrame =
    pooledSlots(dailyDf, hw)
      .groupBy(col("user_id"), col("doy"))
      .agg(sort_array(flatten(collect_list(col("vs")))).as("vs"),
           sum(col("s")).as("s"), sum(col("n")).as("n"),
           sum(col("ne")).as("ne"), max(col("nan")).as("has_nan"))
      .filter(col("ne") > 0)
      .drop("ne")

  private def seasCol: Column = r(col("s").cast("double") / col("n"), 6).as("seas")

  private def threshCol(pctile: Double): Column =
    when(col("has_nan") === 1, lit(null))
      .otherwise(r(linQuantile(col("vs"), pctile), 6)).as("thresh")

  /** Slot-partials pooled mean. */
  def pooledMean(dailyDf: DataFrame, hw: Int): DataFrame =
    poolMerged(dailyDf, hw).select(col("user_id"), col("doy"), seasCol)

  /** Slot-partials pooled quantile. */
  def pooledQuantile(dailyDf: DataFrame, hw: Int, pctile: Double): DataFrame =
    poolMerged(dailyDf, hw).select(col("user_id"), col("doy"), threshCol(pctile))

  /** Slot-partials pooled mean and quantile in one table. */
  def pooledBoth(dailyDf: DataFrame, hw: Int, pctile: Double): DataFrame =
    poolMerged(dailyDf, hw).select(col("user_id"), col("doy"), seasCol, threshCol(pctile))

  /** 31-slot (±half) circular running mean over the DOY grid,
    * min_periods=1, over several value columns in one explode+aggregate. */
  def smoothDoyCols(climDf: DataFrame, valCols: Seq[String], half: Int = 15): DataFrame =
    climDf
      .withColumn("o", explode(sequence(lit(-half), lit(half))))
      .groupBy(col("user_id"), wrapDoy(col("doy") + col("o")).as("doy"))
      .agg(davg(col(valCols.head), 6).as(valCols.head),
           valCols.tail.map(c => davg(col(c), 6).as(c)): _*)

  def smoothDoy(climDf: DataFrame, valCol: String, half: Int = 15): DataFrame =
    smoothDoyCols(climDf, Seq(valCol), half)

  /** Legacy Feb-29: every DOY-60 row becomes 0.5·(DOY59 + DOY61); if
    * either neighbour is absent the row is absent, and a null neighbour
    * nulls it. One fan-out + one grouped aggregate. */
  def interpFeb29Cols(climDf: DataFrame, valCols: Seq[String]): DataFrame = {
    def payload = valCols.map(c => col(c).as(c))
    val fan = explode(array(
      when(col("doy") =!= 60,
        struct((col("doy").as("doy2") +: lit(0).as("src") +: payload): _*)),
      when(col("doy") === 59,
        struct((lit(60).as("doy2") +: lit(59).as("src") +: payload): _*)),
      when(col("doy") === 61,
        struct((lit(60).as("doy2") +: lit(61).as("src") +: payload): _*))))
    val perCol = valCols.flatMap { c =>
      Seq(max(when(col("c.src") === 0, col(s"c.$c"))).as(s"direct_$c"),
          max(when(col("c.src") === 59, col(s"c.$c"))).as(s"v59_$c"),
          max(when(col("c.src") === 61, col(s"c.$c"))).as(s"v61_$c"))
    }
    val counts = Seq(
      sum(when(col("c.src") === 0, 1).otherwise(0)).as("dcnt"),
      sum(when(col("c.src") === 59, 1).otherwise(0)).as("n59"),
      sum(when(col("c.src") === 61, 1).otherwise(0)).as("n61"))
    val aggs = counts ++ perCol
    climDf.select(col("user_id"), fan.as("c"))
      .filter(col("c").isNotNull)
      .groupBy(col("user_id"), col("c.doy2").as("doy"))
      .agg(aggs.head, aggs.tail: _*)
      .filter(col("dcnt") > 0 || (col("n59") === 1 && col("n61") === 1))
      .select(col("user_id") +: col("doy") +: valCols.map { c =>
        when(col("dcnt") > 0, col(s"direct_$c"))
          .otherwise(r(lit(0.5) * col(s"v59_$c") + lit(0.5) * col(s"v61_$c"), 6))
          .as(c)
      }: _*)
  }

  def interpFeb29(climDf: DataFrame, valCol: String): DataFrame =
    interpFeb29Cols(climDf, Seq(valCol))

  /** The fused legacy chain: slot-partials pool, Feb-29, smoothing. */
  def legacyClimThresh(dailyDf: DataFrame, hw: Int = 5, pctile: Double = 0.9): DataFrame = {
    val cols = Seq("seas", "thresh")
    smoothDoyCols(interpFeb29Cols(pooledBoth(dailyDf, hw, pctile), cols), cols)
  }
}
