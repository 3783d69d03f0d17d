package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.Parity._

/** Schema evolution across lake epochs (SURVEY §2 #331): a producer
  * adds a column mid-stream and the lake must keep answering over BOTH
  * vintages — the single most common schema-drift event on a real
  * 100 TB lake (new attribution field, new consent flag). The staged
  * layout is two partition directories with DIFFERENT file schemas;
  * the read is one `mergeSchema` scan.
  */
object Evolution {

  /** Stage the two-vintage layout, both epochs as one artifact. */
  private[graft] def stage(s: SparkSession, dir: String): String =
    Staging.staged("evo", dir, s"$dir/events.parquet") { base =>
      val ev = Tables.events(s, dir)
      ev.filter(to_date(col("ts")).between("2024-01-08", "2024-01-14"))
        .select(col("event_id"), col("event_type"), col("value"))
        .write.mode(SaveMode.Overwrite).parquet(s"$base/epoch=1")
      ev.filter(to_date(col("ts")).between("2024-01-15", "2024-01-21"))
        .select(col("event_id"), col("event_type"), col("value"),
                col("user_id")) // the column the producer added
        .write.mode(SaveMode.Overwrite).parquet(s"$base/epoch=2")
    }

  /** #331 events_schema_evolution: per-(epoch, type) rollup over a
    * `mergeSchema` scan of the two-vintage lake — counts, value mass,
    * how many rows MISS the added column and its coverage share. The
    * pre-evolution epoch answers NULL for the new column (the merged
    *-schema contract), so coverage is 0 before and 1 after — the
    * audit a consumer runs before trusting the new field in a join.
    *
    * Scale note: `mergeSchema` footer-merges EVERY file's schema — on
    * a real lake pin the merged schema explicitly (read.schema(...))
    * or maintain it in a catalog; the per-epoch coverage rollup here
    * is the monitoring query either way. Partition pruning still
    * applies (epoch is a directory column). */
  def eventsSchemaEvolution(s: SparkSession, dir: String): DataFrame = {
    val base = stage(s, dir)
    s.read.option("mergeSchema", "true").parquet(base)
      .groupBy(col("epoch"), col("event_type"))
      .agg(count(lit(1)).as("n"),
           dsum(col("value"), 4).as("sum_value"),
           sum(when(col("user_id").isNull, 1L).otherwise(0L)).as("n_missing"),
           r(count(col("user_id")).cast("double") / count(lit(1)), 6)
             .as("coverage"))
      .select(col("epoch").cast("int").as("epoch"), col("event_type"),
              col("n"), col("sum_value"), col("n_missing"), col("coverage"))
      .orderBy(col("epoch"), col("event_type"))
  }

  val eventsSchemaEvolutionSql: String =
    s"""WITH u AS (
       |  SELECT 1 AS epoch, event_type, value, CAST(NULL AS BIGINT) AS user_id
       |  FROM events
       |  WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-08' AND DATE '2024-01-14'
       |  UNION ALL
       |  SELECT 2 AS epoch, event_type, value, user_id
       |  FROM events
       |  WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-15' AND DATE '2024-01-21')
       |SELECT epoch, event_type, count(*) AS n,
       |       ${sqlR(sqlSum("value"), 4)} AS sum_value,
       |       CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_missing,
       |       ${sqlR("CAST(count(user_id) AS DOUBLE) / count(*)", 6)} AS coverage
       |FROM u GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
}
