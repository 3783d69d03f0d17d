package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Shared registry for memoized persisted DataFrames (the daily-series,
  * severity-chain, shingle and simhash tables). Replaces the per-object
  * TrieMaps, fixing two lifecycle bugs:
  *
  *  - key collisions: the old key `semanticHash().toLong << 32 |
  *    identityHashCode(session)` OR'd a sign-extended Int, so a negative
  *    identity hash erased the semanticHash word and two corpora could
  *    silently share one persisted table. Keys here are (session, key)
  *    tuples compared structurally — no bit packing.
  *  - unbounded growth: entries (and their MEMORY_AND_DISK blocks) lived
  *    for the JVM lifetime, across stopped sessions. The registry is
  *    LRU-bounded and [[clear]] unpersists everything a session pinned;
  *    entries of stopped sessions are dropped eagerly.
  */
object Caches {

  /** When `true` on a session, [[persisted]]/[[getOrUpdate]] return the
    * freshly-built frame with NO persist and NO memoization, so
    * `explain` sees the full builder plan instead of an
    * InMemoryRelation stub. Set by [[graft.PlanAudit]] (explain-only —
    * nothing executes, so skipping the persist costs nothing); never
    * set on an executing session, where it would rebuild the severity
    * chain per consumer. */
  val PlanAuditConf = "spark.graft.planAudit"

  private[graft] def auditing(s: SparkSession): Boolean =
    s.conf.get(PlanAuditConf, "false").toBoolean

  private final case class Entry(session: SparkSession, df: DataFrame)

  private val maxEntries = 64
  private val entries =
    scala.collection.mutable.LinkedHashMap.empty[(SparkSession, Any), Entry]

  // Diagnostics for the bench artifact: the round-3 driver bench showed
  // the cached dedup family 12x slower than a same-code builder run, and
  // registry eviction was the prime suspect. The counters settle it:
  // hits/misses say whether the sweep reuses the persisted tables,
  // evictions says whether the LRU bound ever fires (with ~9 distinct
  // keys per sweep it should read 0 forever).
  private val nHits = new java.util.concurrent.atomic.AtomicLong
  private val nMisses = new java.util.concurrent.atomic.AtomicLong
  private val nEvictions = new java.util.concurrent.atomic.AtomicLong

  /** (hits, misses, evictions) since JVM start. */
  def stats: (Long, Long, Long) = (nHits.get, nMisses.get, nEvictions.get)

  /** Block residency of every cached RDD in the context: (name, memory
    * bytes, disk bytes, cached-partition fraction). Reveals whether the
    * BlockManager spilled/dropped the persisted tables mid-sweep even
    * though the registry never evicted them (and how much storage the
    * accumulated localCheckpoint blocks are holding). */
  def residency(s: SparkSession): Seq[(String, Long, Long, Double)] =
    try s.sparkContext.getRDDStorageInfo.toSeq.map { i =>
      (s"${i.id}:${i.name}", i.memSize, i.diskSize,
       if (i.numPartitions == 0) 0.0
       else i.numCachedPartitions.toDouble / i.numPartitions)
    } catch { case NonFatal(_) => Nil }

  /** Memoize `build` (which should return an already-persisted frame)
    * under (session, key). LRU: re-access moves the entry to the back;
    * past [[maxEntries]] the oldest entry is unpersisted and dropped. */
  def getOrUpdate(s: SparkSession, key: Any)(build: => DataFrame): DataFrame = {
    if (auditing(s)) return build
    synchronized {
      entries.filterInPlace { case (_, e) =>
        val dead = e.session.sparkContext.isStopped
        if (dead) safeUnpersist(e.df)
        !dead
      }
      val k = (s, key)
      entries.remove(k) match {
        case Some(e) =>
          nHits.incrementAndGet()
          entries.put(k, e) // refresh LRU position
          e.df
        case None =>
          nMisses.incrementAndGet()
          val df = build
          entries.put(k, Entry(s, df))
          while (entries.size > maxEntries) {
            val (ok, oe) = entries.head
            entries.remove(ok)
            nEvictions.incrementAndGet()
            safeUnpersist(oe.df)
          }
          df
      }
    }
  }

  /** Storage policy for the memoized chain tables. Default
    * `MEMORY_AND_DISK` is single-host-lifetime storage — right for
    * local/bench, but on a cluster an executor loss silently recomputes
    * (persist) the whole upstream chain. A deployment sets:
    *  - any [[StorageLevel]] name (e.g. `MEMORY_AND_DISK_2`): replicated
    *    blocks survive one executor loss with no DFS round-trip;
    *  - `RELIABLE`: fault-tolerant `checkpoint` to the session's
    *    configured checkpoint directory (`sc.setCheckpointDir`) — blocks
    *    land on the DFS and survive any number of executor losses (the
    *    same posture [[Lineage.cut]] takes for iterative operators).
    * Values are storage-only: spec-pinned to leave results unchanged. */
  val ChainStorageConf = "spark.graft.chainStorage"

  private val warnedCheckpointCleanup = new java.util.concurrent.atomic.AtomicBoolean

  private def chainStore(s: SparkSession, df: DataFrame): DataFrame =
    s.conf.get(ChainStorageConf, "MEMORY_AND_DISK").toUpperCase match {
      case "RELIABLE" =>
        require(s.sparkContext.getCheckpointDir.isDefined,
          s"$ChainStorageConf=RELIABLE needs sc.setCheckpointDir(...)")
        // unpersist() is a no-op for reliable checkpoints: without the
        // cleaner conf, every evicted/cleared chain table leaves its
        // files on the DFS forever — the one deployment knob RELIABLE
        // mode depends on, so its absence is loudly flagged once
        if (!s.sparkContext.getConf.getBoolean(
              "spark.cleaner.referenceTracking.cleanCheckpoints", false) &&
            warnedCheckpointCleanup.compareAndSet(false, true))
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"$ChainStorageConf=RELIABLE without spark.cleaner." +
            "referenceTracking.cleanCheckpoints=true: checkpoint files of " +
            "evicted chain tables are never deleted and the checkpoint " +
            "dir grows unboundedly — set the cleaner conf on the context")
        df.checkpoint(eager = false)
      case lvl => df.persist(StorageLevel.fromString(lvl))
    }

  /** Convenience: memoize + store (per [[ChainStorageConf]]) in one call. */
  def persisted(s: SparkSession, key: Any)(build: => DataFrame): DataFrame =
    if (auditing(s)) build
    else getOrUpdate(s, key)(chainStore(s, build))

  // ------------------------------------------------------- driver models

  /** Driver-side MODEL memo — collected, model-sized training artifacts
    * (IVF centroid tables, PQ codebooks, BPE merge tables and training
    * runs, classifier weights, and the pinned BPE word map) that
    * several operators train IDENTICALLY from the same corpus. The frame registry above shares
    * distributed tables; this shares the train-once/probe-many driver
    * artifacts the persisted-index family (AnnIndex) stages to parquet,
    * for the in-session operators that consume the model directly.
    * Keyed (session, key) like the frame registry and cleared by
    * [[clear]]. Unlike frames there is no plan-stub concern, so audit
    * mode shares the memo too (training collects are eager either way).
    * Values are model-sized by contract (≤ k×dims floats, or a pinned
    * frame's handle). */
  private val models =
    scala.collection.mutable.LinkedHashMap.empty[(SparkSession, Any), Any]

  def model[T](s: SparkSession, key: Any)(build: => T): T = {
    val k = (s, key)
    val hit = synchronized {
      models.filterInPlace { case ((owner, _), _) => !owner.sparkContext.isStopped }
      models.get(k)
    }
    hit match {
      case Some(v) =>
        nHits.incrementAndGet()
        v.asInstanceOf[T]
      case None =>
        nMisses.incrementAndGet()
        // build OUTSIDE the lock: training runs Spark jobs, and holding
        // the registry lock across them would serialize concurrent
        // driver threads (guide §2.6 overlap) against unrelated lookups
        val v = build
        synchronized { models.getOrElseUpdate(k, v) }.asInstanceOf[T]
    }
  }

  /** Unpersist and drop every entry owned by `s` (long-lived drivers call
    * this between corpora; Verify/Bench call it before stop). */
  def clear(s: SparkSession): Unit = synchronized {
    entries.filterInPlace { case ((owner, _), e) =>
      val mine = owner eq s
      if (mine) safeUnpersist(e.df)
      !mine
    }
    models.filterInPlace { case ((owner, _), _) => !(owner eq s) }
  }

  private def safeUnpersist(df: DataFrame): Unit =
    try if (!df.sparkSession.sparkContext.isStopped) df.unpersist(false)
    catch { case NonFatal(_) => () }
}
