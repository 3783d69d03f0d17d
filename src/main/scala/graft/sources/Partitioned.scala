package graft.sources

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.Parity._

/** Date-partitioned parquet layout (SURVEY §2 #99): Hive-style
  * `p_date=YYYY-MM-DD/` directories whose partition values live in the
  * PATH, not the files — so a date predicate prunes whole directories
  * at PLANNING time (`PartitionFilters` in the scan node) and the
  * pruned files are never opened, listed columns never decoded. This is
  * the other half of the physical-layout story next to
  * [[Bucketed]]: bucketing kills the join shuffle, date partitioning
  * kills the time-range scan — at 100 TB an un-partitioned events table
  * makes every "last week" query a full-corpus read, while a
  * daily-partitioned one reads 7/10957 directories.
  *
  * Partition granularity is a real design choice at scale: daily over
  * years → tens of thousands of directories is fine (listing is
  * metadata-cheap); per-hour × per-type double partitioning multiplies
  * directory count and shrinks files toward the small-file cliff. The
  * fixture partitions by day only and keeps `event_type` as an ordinary
  * column-statistics concern (parquet row-group min/max), which is the
  * recommended split: low-cardinality, always-filtered → directory;
  * everything else → row-group stats.
  */
object Partitioned {

  /** The staged copy `name` of `events` for `dir` as a daily-partitioned
    * table, written once per JVM and source ([[Staging.staged]]). Dynamic
    * partition overwrite is the production backfill mode (rewrite only
    * the touched days); the initial load here is a static overwrite. It
    * does not coalesce: every upstream task writes its slice of every
    * day, the natural small-file debris #293's compactor cleans. */
  private def dailyCopy(s: SparkSession, dir: String, name: String): String =
    Staging.staged(name, dir, s"$dir/events.parquet") { path =>
      Tables.events(s, dir)
        .withColumn("p_date", date_format(col("ts"), "yyyy-MM-dd"))
        .write.partitionBy("p_date").mode(SaveMode.Overwrite).parquet(path)
    }

  /** The read-only partitioned layout of `dir`'s events. */
  private[graft] def eventsPartitioned(s: SparkSession, dir: String): String =
    dailyCopy(s, dir, "part")

  /** The pruned scan: read back the partitioned layout with a
    * partition-column predicate. Exposed for the plan-pin spec. */
  private[graft] def prunedScan(s: SparkSession, dir: String,
                                from: String, to: String): DataFrame =
    s.read.parquet(eventsPartitioned(s, dir))
      .filter(col("p_date") >= from && col("p_date") <= to)

  /** #99 events_partitioned_prune: one-week type rollup driven off the
    * partitioned layout. The `p_date` predicate is a PartitionFilter —
    * only the 7 matching directories are scanned (PlanSpec pins
    * `PartitionFilters` non-empty and partition count 7), the other ~23
    * days of files are never opened. */
  def eventsPartitionedPrune(s: SparkSession, dir: String): DataFrame =
    prunedScan(s, dir, "2024-01-08", "2024-01-14")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value"), 4).as("sum_value"))
      .orderBy(col("event_type"))

  /** Oracle over the ORIGINAL un-partitioned table: the layout must not
    * change the answer, only the files read. */
  val eventsPartitionedPruneSql: String =
    s"""SELECT event_type, count(*) AS n,
       |       ${sqlR(sqlSum("value"), 4)} AS sum_value
       |FROM events
       |WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-08' AND DATE '2024-01-14'
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------- #102 aggregate pushdown

  /** #102 events_minmax_pushdown: MIN/MAX/COUNT answered from parquet
    * FOOTER STATISTICS — the scan never decodes a data page
    * (`PushedAggregation` in the v2 scan node). At 100 TB this is the
    * difference between a full-corpus read and a metadata-only pass for
    * the daily "data freshness / row count" monitoring queries every
    * pipeline runs. Requires the v2 parquet source + aggregate
    * pushdown, both scoped to THIS query's planning (v1 is the session
    * default; flipping it globally would re-shape every other query's
    * scans). The confs are set on a CLONED session (`newSession`: own
    * session state, shared context/catalog) rather than
    * set-plan-restore on the caller's — a concurrently-planned query on
    * the shared session must never observe the v2/pushdown window.
    * Values are identical either way — footer stats for min/max/count
    * are exact, not estimates. */
  def eventsMinmaxPushdown(s: SparkSession, dir: String): DataFrame = {
    val scoped = s.newSession()
    scoped.conf.set("spark.sql.sources.useV1SourceList",
      scoped.conf.get("spark.sql.sources.useV1SourceList")
        .split(",").filterNot(_.trim == "parquet").mkString(","))
    scoped.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    scoped.read.parquet(s"$dir/events.parquet")
      .agg(min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"),
           count(lit(1)).as("n"))
  }

  val eventsMinmaxPushdownSql: String =
    """SELECT min(event_id) AS min_id, max(event_id) AS max_id,
      |       count(*) AS n FROM events""".stripMargin

  // ------------------------------------------------ #103 batch backfill

  /** #103 events_backfill_overwrite: the production BACKFILL move on a
    * partitioned lake table — recompute a slice of days from the source
    * of truth and `INSERT OVERWRITE` only those partitions
    * (`partitionOverwriteMode=dynamic`); every other day's files are
    * physically untouched (spec pins their mtimes). The recomputation
    * always derives from the ORIGINAL events table, never from the
    * current state of the copy, so re-running the backfill is
    * idempotent — the property that makes backfills safe to retry. The
    * fixture "correction" re-prices click events by ×1.1 over
    * Jan 10-12; the report aggregates a window spanning corrected and
    * untouched days, and the oracle applies the same CASE to the
    * original table — the copy must land on that exact fixed point. */
  def eventsBackfillOverwrite(s: SparkSession, dir: String): DataFrame = {
    val path = dailyCopy(s, dir, "backfill")
    val corrected = Tables.events(s, dir)
      .withColumn("p_date", date_format(col("ts"), "yyyy-MM-dd"))
      .filter(col("p_date").between("2024-01-10", "2024-01-12"))
      .withColumn("value",
        when(col("event_type") === "click", col("value") * 1.1)
          .otherwise(col("value")))
    corrected.write.partitionBy("p_date").option("partitionOverwriteMode", "dynamic")
      .mode(SaveMode.Overwrite).parquet(path)
    s.read.parquet(path)
      .filter(col("p_date").between("2024-01-09", "2024-01-13"))
      .groupBy(col("p_date").cast("string").as("p_date"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value"), 4).as("sum_value"))
      .orderBy(col("p_date"), col("event_type"))
  }

  val eventsBackfillOverwriteSql: String =
    s"""SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS p_date, event_type,
       |       count(*) AS n,
       |       ${sqlR(sqlSum("CASE WHEN event_type = 'click' AND CAST(ts AS DATE) BETWEEN DATE '2024-01-10' AND DATE '2024-01-12' THEN value * 1.1 ELSE value END"), 4)} AS sum_value
       |FROM events
       |WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-09' AND DATE '2024-01-13'
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ------------------------------------------------ #290 events_erase_user

  /** Erase one user from a partitioned copy at `path`: recompute each
    * AFFECTED day from the source of truth minus the user and
    * dynamic-overwrite only those partitions; a day the user owns
    * ENTIRELY is tombstoned by explicit directory delete, because
    * dynamic overwrite only replaces partitions present in the written
    * data — an empty recomputed day would otherwise leave the old
    * files (and the user's rows) on disk, the silent GDPR hole this
    * helper exists to close. Idempotent on retry: every write derives
    * from the original table, never from the copy. */
  private[graft] def eraseUserFromCopy(ev: DataFrame, path: String,
                                       uid: Long): Unit = {
    val dated = ev.withColumn("p_date", date_format(col("ts"), "yyyy-MM-dd"))
    // ≤days rows: (day, total, user's share) — drives both the rewrite
    // and the tombstone decision
    val affected = dated.groupBy(col("p_date"))
      .agg(count(lit(1)).as("n_total"),
           count(when(col("user_id") === uid, 1)).as("n_user"))
      .filter(col("n_user") > 0)
      .collect()
    val (owned, mixed) = affected.partition(r => r.getLong(1) == r.getLong(2))
    if (mixed.nonEmpty) {
      val days = mixed.map(_.getString(0))
      // null-safe inequality: =!= evaluates to NULL for NULL user ids,
      // which a plain filter drops — silently deleting every
      // anonymous row alongside the target user
      dated.filter(col("p_date").isin(days.map(x => x: Any): _*) &&
                   !(col("user_id") <=> lit(uid)))
        .write.partitionBy("p_date").option("partitionOverwriteMode", "dynamic")
        .mode(SaveMode.Overwrite).parquet(path)
    }
    owned.foreach { r =>
      FileUtils.deleteDirectory(new java.io.File(s"$path/p_date=${r.getString(0)}"))
    }
  }

  /** #290 events_erase_user: the GDPR/right-to-be-forgotten move on a
    * partitioned lake table — locate the target user's partitions,
    * recompute them from the source of truth WITHOUT the user, and
    * dynamic-overwrite only those directories (plus explicit tombstones
    * for fully-owned days — see [[eraseUserFromCopy]]). The third
    * mutation operator under the SURVEY §5 commit protocol: same
    * derive-from-truth idempotence as #103's backfill, same
    * single-writer contract. Target = the feed's minimum user id
    * (deterministic at every SF). Report per affected day: surviving
    * events in the copy and the erased count — the copy must land on
    * the relational fixed point the oracle computes from the original
    * table, which is the proof the erasure is complete AND touched
    * nothing else. */
  def eventsEraseUser(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val uid = ev.agg(min(col("user_id"))).collect()(0).getLong(0)
    val path = dailyCopy(s, dir, "erase")
    eraseUserFromCopy(ev, path, uid)
    // report: before-counts from the source of truth, after-counts from
    // the materialized copy (LEFT join — a tombstoned day reads 0)
    val before = ev.filter(col("user_id") === uid)
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("p_date"))
      .agg(count(lit(1)).as("n_erased"))
    val after = s.read.parquet(path)
      .groupBy(col("p_date").cast("string").as("p_date"))
      .agg(count(lit(1)).as("n_after"))
    before.join(after, Seq("p_date"), "left")
      .select(col("p_date"),
              coalesce(col("n_after"), lit(0L)).as("n_events"),
              col("n_erased"))
      .orderBy(col("p_date"))
  }

  /** Oracle: the same report relationally — surviving = day total minus
    * the target user's events; the Spark side must read these numbers
    * back from the PHYSICAL copy. */
  val eventsEraseUserSql: String =
    s"""WITH target AS (SELECT min(user_id) AS uid FROM events),
       |days AS (
       |  SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS p_date,
       |         count(*) AS n_before,
       |         CAST(sum(CASE WHEN user_id = uid THEN 1 ELSE 0 END) AS BIGINT)
       |           AS n_erased
       |  FROM events CROSS JOIN target GROUP BY 1)
       |SELECT p_date, n_before - n_erased AS n_events, n_erased
       |FROM days WHERE n_erased > 0 ORDER BY 1""".stripMargin

  // ------------------------------------ #293 events_compact_partitions

  /** Parquet data files under one partition directory. */
  private def dataFiles(dir: java.io.File): Array[java.io.File] =
    Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))

  /** Compact every partition under `path` holding more than `maxFiles`
    * data files into a single file via dynamic partition overwrite.
    * Skips already-compact partitions entirely (no read, no rewrite —
    * reruns are physical no-ops, pinned by mtime in the spec). Returns
    * the per-day (files_before, files_after) map for the report. */
  private[graft] def compactCopy(s: SparkSession, path: String,
                                 maxFiles: Int): Map[String, (Int, Int)] = {
    val parts = Option(new java.io.File(path).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("p_date="))
    val before = parts.map(p =>
      p.getName.stripPrefix("p_date=") -> dataFiles(p).length).toMap
    val fat = before.filter(_._2 > maxFiles).keys.toSeq.sorted
    if (fat.nonEmpty) {
      // Stage the compacted partitions in a sibling directory, then
      // swap each one in with a rename. A same-path read-and-overwrite
      // only works because dynamic overwrite defers partition deletion
      // to commit time (after all read tasks finish) — it is the
      // self-overwrite pattern Spark rejects on the SQL INSERT path,
      // and a crash between a partition's delete and rename at commit
      // loses that day with no staged copy to recover from. With the
      // sibling stage, a crash at any point leaves the original
      // partition intact or fully replaced, never half-gone.
      val tmp = s"$path.compact_tmp"
      FileUtils.deleteDirectory(new java.io.File(tmp))
      // one file per compacted partition: repartition BY the partition
      // column so each day lands in exactly one task's writer
      s.read.parquet(path)
        .filter(col("p_date").isin(fat.map(x => x: Any): _*))
        .repartition(fat.size, col("p_date"))
        .write.partitionBy("p_date").mode(SaveMode.Overwrite).parquet(tmp)
      fat.foreach { d =>
        val dst = new java.io.File(s"$path/p_date=$d")
        val stg = new java.io.File(s"$tmp/p_date=$d")
        FileUtils.deleteDirectory(dst)
        if (!stg.renameTo(dst))
          throw new java.io.IOException(s"compact: staged rename failed for day $d")
      }
      FileUtils.deleteDirectory(new java.io.File(tmp))
    }
    parts.map { p =>
      val d = p.getName.stripPrefix("p_date=")
      d -> (before(d), dataFiles(p).length)
    }.toMap
  }

  /** #293 events_compact_partitions: the lake OPTIMIZE move — the
    * third maintenance mutation beside #103's backfill and #290's
    * erasure. A streaming/backfill-written partition accumulates one
    * file per writer task per batch; small files poison scans (one
    * scheduler task + one footer read each) and at 100 TB the
    * compactor IS the difference between a listing-bound and an
    * IO-bound table. Partitions over the file threshold rewrite to one
    * file each (repartition on the partition column → one writer per
    * day, dynamic overwrite → untouched days keep their files,
    * spec-pinned by mtime); already-compact partitions are skipped
    * without a read, so reruns are physical no-ops. The report is the
    * DATA readout per day — the oracle recomputes it from the original
    * table, proving compaction moved bytes, not values; the file-count
    * collapse itself is spec-pinned (physical state is invisible to a
    * relational oracle). */
  def eventsCompactPartitions(s: SparkSession, dir: String,
                              maxFiles: Int = 1): DataFrame = {
    val path = dailyCopy(s, dir, "compact")
    compactCopy(s, path, maxFiles)
    s.read.parquet(path)
      .groupBy(col("p_date").cast("string").as("p_date"))
      .agg(count(lit(1)).as("n_events"),
           dsum(col("value"), 4).as("sum_value"))
      .orderBy(col("p_date"))
  }

  val eventsCompactPartitionsSql: String =
    s"""SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS p_date,
       |       count(*) AS n_events,
       |       ${sqlR(sqlSum("value"), 4)} AS sum_value
       |FROM events GROUP BY 1 ORDER BY 1""".stripMargin
}
