package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.Parity._

/** Columnar/row source-sink matrix (SURVEY §2 #108): the same relation
  * written and re-read as ORC and as JSON-lines, with the rollup
  * asserted identical across formats. Format choice is a real lake
  * decision — ORC is the other columnar citizen (predicate pushdown,
  * stripe stats) and JSON-lines is the universal interchange/staging
  * format — and the invariant that matters is that the FORMAT is
  * transparent: same rows in, same answer out.
  *
  * CSV completes the matrix as the headered text staple (explicit
  * schema + header; doubles survive by shortest-representation
  * printing). Two deliberate schema choices document the formats'
  * sharp edges:
  * the round-trip projects (event_id, event_type, value) — no
  * timestamp, because Spark's default JSON timestamp serialization is
  * millisecond-granular (a µs-precision ts would round-trip LOSSY
  * through JSON while surviving ORC/parquet bit-exact), and doubles,
  * which Spark writes to JSON with full 17-significant-digit precision
  * (round-trip exact by IEEE shortest-representation rules).
  */
object Formats {

  /** The one-week slice staged as `orc/`, `json/` and `csv/` under one
    * artifact root. */
  private[graft] def stage(s: SparkSession, dir: String): String =
    Staging.staged("fmt", dir, s"$dir/events.parquet") { base =>
      val slice = Tables.events(s, dir)
        .filter(to_date(col("ts")).between("2024-01-08", "2024-01-14"))
        .select(col("event_id"), col("event_type"), col("value"))
      slice.write.mode(SaveMode.Overwrite).orc(s"$base/orc")
      slice.write.mode(SaveMode.Overwrite).json(s"$base/json")
      slice.write.mode(SaveMode.Overwrite).option("header", "true")
        .csv(s"$base/csv")
    }

  /** #108 events_format_roundtrip: one rollup per storage format over
    * the same staged relation — rows must agree except the `fmt` tag.
    * The JSON read supplies an explicit schema (schema inference is a
    * full extra pass at scale — never rely on it on a 100 TB lake). */
  def eventsFormatRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val base = stage(s, dir)
    val schema = "event_id BIGINT, event_type STRING, value DOUBLE"
    def rollup(df: DataFrame, fmt: String): DataFrame =
      df.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value"), 4).as("sum_value"),
             min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"))
        .withColumn("fmt", lit(fmt))
    rollup(s.read.orc(s"$base/orc"), "orc")
      .unionByName(rollup(s.read.schema(schema).json(s"$base/json"), "json"))
      .unionByName(rollup(
        s.read.schema(schema).option("header", "true").csv(s"$base/csv"), "csv"))
      .select(col("fmt"), col("event_type"), col("n"), col("sum_value"),
              col("min_id"), col("max_id"))
      .orderBy(col("fmt"), col("event_type"))
  }

  val eventsFormatRoundtripSql: String = {
    val core =
      s"""SELECT event_type, count(*) AS n, ${sqlR(sqlSum("value"), 4)} AS sum_value,
         |       min(event_id) AS min_id, max(event_id) AS max_id
         |FROM events
         |WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-08' AND DATE '2024-01-14'
         |GROUP BY 1""".stripMargin
    s"""SELECT fmt, event_type, n, sum_value, min_id, max_id FROM (
       |  SELECT 'orc' AS fmt, * FROM ($core)
       |  UNION ALL
       |  SELECT 'json' AS fmt, * FROM ($core)
       |  UNION ALL
       |  SELECT 'csv' AS fmt, * FROM ($core))
       |ORDER BY fmt, event_type""".stripMargin
  }
}
