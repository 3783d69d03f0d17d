package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming upsert sink via `foreachBatch` + dynamic partition
  * overwrite (SURVEY §2 #100): the canonical "stream maintains a keyed
  * snapshot table" pattern when no transactional table format (Delta/
  * Iceberg) is available. Each micro-batch:
  *
  *  1. reduces the batch to one latest-wins row per key (plus a count
  *     partial) — a batch-local aggregate, tiny vs the batch;
  *  2. determines the AFFECTED hash buckets (the snapshot is
  *     partitioned by `bucket = pmod(hash-key, nBuckets)`);
  *  3. reads ONLY those bucket directories back (partition pruning),
  *     merges latest-wins + count-sum, and rewrites ONLY those buckets
  *     (`partitionOverwriteMode=dynamic`).
  *
  * Cost per batch is proportional to the touched buckets, not the
  * snapshot: at 100 TB the snapshot table rewrites |affected buckets| /
  * nBuckets of itself per trigger, and a key-skewed trigger touches few
  * buckets. foreachBatch gives at-least-once batch delivery; replay
  * safety is two-layered:
  *
  *  - re-merging the CURRENT batch (the normal at-least-once case — a
  *    crash between sink write and offset commit) is idempotent:
  *    latest-wins by (ts, event_id) is unchanged by replay, and the
  *    count partial is keyed on the batch id, so batch b REPLACES, not
  *    double-counts, its own contribution;
  *  - a replayed OLDER batch within the SAME stream incarnation is
  *    dropped by a high-watermark guard: the snapshot records the max
  *    merged batch id in `_GRAFT_MAX_BATCH` (written atomically —
  *    temp file + rename — so a crash can't leave a corrupt
  *    watermark), and `0 < batchId < watermark` skips the merge — the
  *    snapshot already compacts per-batch partials away, so an older
  *    batch's partial cannot be replaced, only skipped. (A crash
  *    between sink write and watermark write replays the SAME batch
  *    id, which falls through to the first layer — replace.)
  *  - a RESTARTED incarnation (no checkpointLocation: Structured
  *    Streaming resets batch ids to 0 and the source re-reads
  *    everything, old + newly-arrived) must NOT be confused with an
  *    old-batch replay — batch ids are not comparable across
  *    incarnations. `batchId == 0` with an existing watermark
  *    therefore RESETS the snapshot (static overwrite) and rebuilds:
  *    the re-read stream reconstructs the same fixed point plus the
  *    new events, instead of silently dropping them.
  *
  * That idempotence is exactly what exactly-once sinks are built from
  * on non-transactional storage.
  */
object StreamingUpsert {

  private val NBuckets = 16

  private def watermarkFile(path: String) =
    java.nio.file.Paths.get(s"$path/_GRAFT_MAX_BATCH")

  /** Max batch id already merged into the snapshot (−1: none; a
    * corrupt/unparsable file also reads −1 — the content-idempotent
    * merge layers then apply instead of wedging every batch). */
  private[graft] def readWatermark(path: String): Long = {
    val f = watermarkFile(path)
    if (!java.nio.file.Files.exists(f)) -1L
    else try new String(java.nio.file.Files.readAllBytes(f)).trim.toLong
    catch { case _: NumberFormatException => -1L }
  }

  /** Atomic: temp file + rename, so a crash mid-write can't leave a
    * partial watermark. */
  private def writeWatermark(path: String, id: Long): Unit = {
    val tmp = java.nio.file.Paths.get(s"$path/._GRAFT_MAX_BATCH.tmp")
    java.nio.file.Files.write(tmp, id.toString.getBytes)
    java.nio.file.Files.move(tmp, watermarkFile(path),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** Latest-wins reduction of any (event) frame: one row per user with
    * the most recent (ts, event_id) event's fields + an event count. */
  private[graft] def latestPerUser(df: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    df.select(col("user_id"), col("ts"), col("event_id"),
              col("event_type"), col("value"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n_events", count(lit(1)).over(Window.partitionBy(col("user_id"))))
      .filter(col("rn") === 1).drop("rn")
  }

  /** Merge a reduced micro-batch into the snapshot at `path`,
    * rewriting only the affected buckets. `batchId` keys the count
    * partial for replay-safety. */
  private[graft] def mergeBatch(s: SparkSession, path: String,
                                reduced: DataFrame, batchId: Long): Unit = {
    val watermark = readWatermark(path)
    // batch ids are NOT comparable across stream incarnations: id 0
    // with an existing watermark means a restarted stream re-reading
    // from scratch — reset and rebuild (see the replay contract above)
    val restarted = batchId == 0 && watermark >= 0
    // high-watermark guard (same incarnation only): a strictly older
    // batch was already merged AND compacted — skip it
    if (!restarted && batchId < watermark) return
    val incoming = reduced
      .withColumn("bucket", pmod(col("user_id"), lit(NBuckets)).cast("int"))
      .withColumn("batch_id", lit(batchId))
    val buckets = incoming.select("bucket").distinct()
      .collect().map(_.getInt(0)).sorted // ≤ NBuckets scalars
    val exists = !restarted && new java.io.File(s"$path/_SUCCESS").exists()
    val merged = if (!exists) incoming else {
      val cur = s.read.parquet(path).filter(col("bucket").isin(buckets.map(Integer.valueOf): _*))
      // latest-wins on event fields; counts re-sum per (user, batch) so
      // a replayed batch REPLACES its own partial instead of adding it
      val all = cur.unionByName(incoming)
        .groupBy(col("user_id"), col("bucket"), col("batch_id"))
        .agg(max(struct(col("ts"), col("event_id"), col("event_type"), col("value")))
               .as("latest"),
             max(col("n_events")).as("n_events"))
      all.groupBy(col("user_id"), col("bucket"))
        .agg(max(col("latest")).as("latest"), sum(col("n_events")).as("n_events"),
             max(col("batch_id")).as("batch_id"))
        .select(col("user_id"),
                col("latest.ts").as("ts"), col("latest.event_id").as("event_id"),
                col("latest.event_type").as("event_type"),
                col("latest.value").as("value"),
                col("n_events"), col("bucket"), col("batch_id"))
    }
    // initial load: STATIC overwrite, so a crashed first attempt's
    // partial part-files are wiped rather than wedging every retry
    // (ErrorIfExists would throw on the half-written dir forever);
    // incremental merges: DYNAMIC, replacing only the read buckets. The
    // per-write option leaves the session conf untouched.
    merged.write.partitionBy("bucket")
      .option("partitionOverwriteMode", if (exists) "dynamic" else "static")
      .mode(SaveMode.Overwrite)
      .parquet(path)
    writeWatermark(path, batchId)
  }

  /** Drive the upsert stream over the events source into a fresh
    * snapshot dir; returns the snapshot path. Exposed for the spec
    * (which stages its own multi-batch source). */
  private[graft] def runUpsertStream(s: SparkSession, source: DataFrame,
                                     path: String): Unit =
    Streaming.withStreamPartitions(s) {
      val q = source.writeStream
        .foreachBatch { (batch: DataFrame, id: Long) =>
          mergeBatch(s, path, latestPerUser(batch), id)
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }

  /** #100 stream_upsert: run the upsert over the events stream, then
    * report the final snapshot — per-user latest event + lifetime event
    * count. The oracle recomputes the same snapshot relationally from
    * the static table: the incremental path must land on the identical
    * fixed point. */
  def streamUpsert(s: SparkSession, dir: String): DataFrame = {
    val path = Streaming.stagingPath("upsert")
    try {
      runUpsertStream(s, Streaming.eventsStream(s, dir), path)
      s.read.parquet(path)
        .select(col("user_id"), col("ts").as("last_ts"),
                col("event_type").as("last_type"),
                col("value").as("last_value"), col("n_events"))
        .orderBy(col("user_id"))
        .localCheckpoint()
    } finally Streaming.deleteScratch(path)
  }

  val streamUpsertSql: String =
    """SELECT user_id, ts AS last_ts, event_type AS last_type,
      |       value AS last_value, n_events
      |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
      |                                   ORDER BY ts DESC, event_id DESC) AS rn,
      |             count(*) OVER (PARTITION BY user_id) AS n_events
      |      FROM events)
      |WHERE rn = 1 ORDER BY user_id""".stripMargin
}
