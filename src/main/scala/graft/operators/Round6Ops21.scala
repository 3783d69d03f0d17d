package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Parity._
import graft.sources.Tables

/** Round-6 batch-38 operators (SURVEY §2 #258): the predicted-language
  * corpus mix. (#259 stream_lang_mix and #260 stream_mix_weights live
  * in [[graft.streaming.Streaming]] and drain this batch's / #74's
  * registers.)
  */
object Round6Ops21 {

  /** #23's shared prediction (see [[TextOps.predictedLangCol]]). */
  private[graft] def predictedLangCol: Column = TextOps.predictedLangCol
  private[graft] def predictedLangSqlFrag: String = TextOps.predictedLangSqlFrag

  /** The mergeable language-mix registers: per (source, predicted
    * language) doc counts — the streaming state of #259. */
  def langMixRegisters(docs: DataFrame): DataFrame =
    docs.select(col("source"), predictedLangCol.as("predicted"))
      .groupBy(col("source"), col("predicted"))
      .agg(count(lit(1)).as("n"))

  /** Share readout over the ≤(sources×langs) register table. */
  def langMixFinalize(g: DataFrame): DataFrame = {
    val wSrc = Window.partitionBy(col("source"))
    val wLang = Window.partitionBy(col("predicted"))
    val wAll = Window.partitionBy()
    g.withColumn("src_share",
        r(col("n") / sum(col("n")).over(wSrc).cast("double"), 6))
      .withColumn("lang_share",
        r(col("n") / sum(col("n")).over(wLang).cast("double"), 6))
      .withColumn("corpus_share",
        r(col("n") / sum(col("n")).over(wAll).cast("double"), 6))
      .orderBy(col("source"), col("predicted"))
  }

  /** #258 doc_lang_mix: the PREDICTED-LANGUAGE corpus mix — per
    * (source, #23-predicted language): counts and the three shares a
    * multilingual corpus build reads (within source, within language,
    * of corpus). #23/#188 grade the CLASSIFIER against labels; this
    * table is what the classifier is FOR — the language composition
    * that #74's temperature weights rebalance, read per source so a
    * crawler whose language mix shifts (geo rerouting, an encoding
    * break upstream of langid) pages before the mixture drifts.
    * Registers are plain counts → streamable (#259).
    *
    * Scale shape: map-only prediction (higher-order token filters, no
    * UDF), one (source, lang) groupBy; shares are windows over the
    * bounded register table. */
  def docLangMix(s: SparkSession, dir: String): DataFrame =
    langMixFinalize(langMixRegisters(Tables.documents(s, dir)))

  val docLangMixSql: String =
    s"""WITH g AS (
       |  SELECT source, $predictedLangSqlFrag AS predicted, count(*) AS n
       |  FROM documents GROUP BY 1, 2)
       |SELECT source, predicted, n,
       |       ${sqlR("n / CAST(sum(n) OVER (PARTITION BY source) AS DOUBLE)", 6)}
       |         AS src_share,
       |       ${sqlR("n / CAST(sum(n) OVER (PARTITION BY predicted) AS DOUBLE)", 6)}
       |         AS lang_share,
       |       ${sqlR("n / CAST(sum(n) OVER () AS DOUBLE)", 6)} AS corpus_share
       |FROM g ORDER BY source, predicted""".stripMargin
}
