package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Parity._
import graft.operators.Round6Ops.{HoltAlpha, HoltBeta, HoltHorizon, HwAlpha, HwBeta, HwGamma, HwSeason}
import graft.operators.Round6Ops2.{BtHorizon, CusumH, CusumK}

/** The Spark SQL `aggregate` spelling of the day-grain folds, kept as
  * the parity reference of the Scala folds the batch builders run
  * ([[graft.operators.Round6Ops.holtFold]], `holtWinters`,
  * [[graft.operators.Round6Ops2.cusumChart]], `backtest`): each
  * builder's expression as it stood before the folds replaced it.
  * Over a daily frame (user_id, d, sst); FoldReferencePropertySpec pins
  * each builder to its reference cell for cell. */
object FoldReference {

  private val r6 = (x: String) => sqlR(x, 6)

  /** One series' daily values in day order. */
  private val xs: Column =
    transform(sort_array(collect_list(struct(col("d"), col("sst")))), p => p("sst"))

  private def series(dl: DataFrame, extra: Column*): DataFrame =
    dl.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_obs"), (extra :+ xs.as("xs")): _*)

  /** The Holt recursion over a sorted value-array expression. */
  private def holtFoldExpr(xs: String): String = {
    val newL = r6(s"$HoltAlpha * x + ${1 - HoltAlpha} * (acc.l + acc.b)")
    s"""aggregate(
       |  slice($xs, 2, size($xs) - 1),
       |  named_struct('l', element_at($xs, 1), 'b', CAST(0.0 AS DOUBLE)),
       |  (acc, x) -> named_struct(
       |    'l', $newL,
       |    'b', ${r6(s"$HoltBeta * ($newL - acc.l) + ${1 - HoltBeta} * acc.b")}))"""
      .stripMargin.replace('\n', ' ')
  }

  def tsHoltDf(dl: DataFrame): DataFrame =
    series(dl)
      .withColumn("st", expr(holtFoldExpr("xs")))
      .select(col("user_id"), col("n_obs"),
              col("st.l").as("level"), col("st.b").as("trend"))
      .withColumn("forecast",
        r(col("level") + lit(HoltHorizon) * col("trend"), 6))

  def tsHoltWintersDf(dl: DataFrame): DataFrame = {
    val m = HwSeason
    val l0 = r6(s"aggregate(slice(xs, 1, $m), CAST(0.0 AS DOUBLE), (a, x) -> a + x) / $m")
    val sInit = (1 to m).map(i => r6(s"element_at(xs, $i) - l0")).mkString(", ")
    val newL = r6(s"$HwAlpha * (x - element_at(acc, 3)) + ${1 - HwAlpha} * (element_at(acc, 1) + element_at(acc, 2))")
    val newB = r6(s"$HwBeta * (($newL) - element_at(acc, 1)) + ${1 - HwBeta} * element_at(acc, 2)")
    val newS = r6(s"$HwGamma * (x - ($newL)) + ${1 - HwGamma} * element_at(acc, 3)")
    val fold =
      s"""aggregate(
         |  slice(xs, ${m + 1}, size(xs) - $m),
         |  concat(array(l0, CAST(0.0 AS DOUBLE)), array($sInit)),
         |  (acc, x) -> concat(
         |    array($newL, $newB), slice(acc, 4, ${m - 1}), array($newS)))"""
        .stripMargin.replace('\n', ' ')
    val fc = (1 to m).map(h =>
      r6(s"element_at(st, 1) + $h * element_at(st, 2) + element_at(st, ${2 + h})"))
      .mkString(", ")
    series(dl)
      .filter(col("n_obs") >= m + 1)
      .withColumn("l0", expr(l0))
      .withColumn("st", expr(fold))
      .select(col("user_id"), col("n_obs"),
              col("st")(0).as("level"), col("st")(1).as("trend"),
              posexplode(expr(s"array($fc)")))
      .select(col("user_id"), col("n_obs"), col("level"), col("trend"),
              (col("pos") + 1).cast("int").as("h"), col("col").as("forecast"))
      .orderBy(col("user_id"), col("h"))
  }

  def tsForecastBacktestDf(dl: DataFrame): DataFrame = {
    val fold = holtFoldExpr(s"slice(xs, 1, size(xs) - $BtHorizon)")
    val errsHolt =
      s"""transform(sequence(1, $BtHorizon),
         |  h -> abs(element_at(xs, size(xs) - $BtHorizon + h) -
         |           ${r6("st.l + h * st.b")}))""".stripMargin.replace('\n', ' ')
    val errsNaive =
      s"""transform(sequence(1, $BtHorizon),
         |  h -> abs(element_at(xs, size(xs) - $BtHorizon + h) -
         |           element_at(xs, size(xs) - $BtHorizon)))"""
        .stripMargin.replace('\n', ' ')
    def mae(errs: String) =
      r(expr(s"aggregate($errs, CAST(0.0 AS DOUBLE), (a, x) -> a + x)") /
        BtHorizon.toDouble, 6)
    series(dl)
      .filter(col("n_obs") >= BtHorizon + 2)
      .withColumn("st", expr(fold))
      .withColumn("mae_holt", mae(errsHolt))
      .withColumn("mae_naive", mae(errsNaive))
      .select(col("user_id"), col("n_obs"),
              col("st.l").as("level"), col("st.b").as("trend"),
              col("mae_holt"), col("mae_naive"),
              when(col("mae_naive") > 0.0,
                r(lit(1.0) - col("mae_holt") / col("mae_naive"), 6)).as("skill"))
      .orderBy(col("user_id"))
  }

  def tsCusumAlarmDf(dl: DataFrame): DataFrame = {
    val sp = r6(s"greatest(CAST(0.0 AS DOUBLE), acc.sp + (x - mu - $CusumK * sg))")
    val fold =
      s"""aggregate(xs,
         |  named_struct('sp', CAST(0.0 AS DOUBLE), 'mx', CAST(0.0 AS DOUBLE),
         |               'al', CAST(0.0 AS DOUBLE), 'ab', CAST(0.0 AS DOUBLE)),
         |  (acc, x) -> named_struct(
         |    'sp', $sp,
         |    'mx', greatest(acc.mx, $sp),
         |    'al', acc.al + (CASE WHEN $sp > $CusumH * sg AND acc.ab = 0.0
         |                         THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END),
         |    'ab', CASE WHEN $sp > $CusumH * sg
         |               THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END))"""
        .stripMargin.replace('\n', ' ')
    series(dl, dsum(col("sst")).as("sx"), dsum(col("sst") * col("sst")).as("sxx"))
      .filter(col("n_obs") >= 2)
      .withColumn("mu", r(col("sx") / col("n_obs"), 6))
      .withColumn("sg", r(sqrt(greatest(lit(0.0),
        (col("sxx") - col("n_obs") * col("mu") * col("mu")) /
          (col("n_obs") - 1))), 6))
      .withColumn("st", expr(fold))
      .select(col("user_id"), col("n_obs"), col("mu"), col("sg").as("sigma"),
              col("st.mx").as("cusum_max"),
              col("st.al").cast("long").as("n_alarms"))
      .orderBy(col("user_id"))
  }
}
