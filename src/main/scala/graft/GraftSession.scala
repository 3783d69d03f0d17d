package graft

import scala.util.Try

import org.apache.spark.GraftBus
import org.apache.spark.sql.SparkSession

/** Session defaults shared by every entrypoint (Verify/Bench/tests).
  *
  * - UTC session timezone (oracle parity)
  * - AQE on: runtime coalescing + skew-join handling stand in for manual
  *   partition tuning at scale
  * - nanosAsLong: older testdata generations stored ns timestamps, which
  *   Spark's reader otherwise rejects; Tables.normalizeTs canonicalizes
  *   whichever encoding (ns-long / µs NTZ / µs TIMESTAMP) actually arrives
  * - shuffle.partitions sized to the local core count, NOT the 200
  *   default; on a real cluster this is set ∝ executors
  */
object GraftSession {

  /** Local core count of the mains: `SPARK_GRAFT_CPUS`, default every
    * core of the machine. */
  val cpus: String = sys.env.getOrElse(
    "SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)

  /** Post-amplification bytes one shuffle/aggregation task should hold
    * in memory. 256 MB leaves headroom under the default 60%-of-heap
    * execution fraction with 32 concurrent tasks on a 128 GiB local JVM,
    * and matches the per-task budget a 4–8 GiB-executor cluster plans
    * for. */
  val AutoShuffleTargetBytes: Long = 256L << 20

  /** Volume rule for `spark.sql.shuffle.partitions`: enough partitions
    * that one task's working set — input bytes × in-stage amplification
    * (explodes, collect_list pooling) — fits [[AutoShuffleTargetBytes]],
    * floored at the core count (never starve the machine) and capped
    * (scheduling overhead bound). This is the rule the ×30/×100 grid
    * runs proved by hand: at 104 M points the default core-count
    * partitions put ~36 M exploded pooling rows in each aggregation
    * task → sort-spill (warm 167 s); partitions ∝ volume recovers 88 s
    * (BENCH_GRID_x30_r5.json). On a cluster the same rule applies with
    * the cluster's total cores as the floor. */
  def shufflePartitionsFor(
      inputBytes: Long, cores: Int,
      amplification: Double = 1.0, cap: Int = 4096): Int = {
    val byVolume =
      math.ceil(inputBytes.toDouble * amplification / AutoShuffleTargetBytes)
    val n = if (byVolume.isNaN || byVolume > cap) cap else byVolume.toInt
    // round UP to whole scheduling waves (a multiple of the core count):
    // a ragged last wave leaves cores idle exactly on the heaviest stage
    // (x30 A/B: 120 partitions = 3.75 waves measured materially slower
    // than 128 = 4 waves on the same data)
    val waves = math.max(1, math.ceil(math.max(cores, n).toDouble / cores).toInt)
    math.min(cap, waves * cores)
  }

  /** Apply [[shufflePartitionsFor]] to a session using `df`'s Catalyst
    * size estimate as the input volume (for a persisted + materialized
    * frame the estimate is the actual cached size). Returns the chosen
    * partition count. `amplification` is the caller's known in-stage
    * fan-out downstream of the shuffle — e.g. the MHW pooling explode is
    * ×(2·hw+1) — because the spill driver is the task's working set, not
    * the exchange's wire bytes. */
  def autoScaleShuffle(df: org.apache.spark.sql.DataFrame,
                       amplification: Double = 1.0): Int = {
    val s = df.sparkSession
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val cores = s.sparkContext.defaultParallelism
    val n = shufflePartitionsFor(
      if (bytes.isValidLong) bytes.toLong else Long.MaxValue, cores, amplification)
    s.conf.set("spark.sql.shuffle.partitions", n.toString)
    n
  }

  /** Volume rule for MODEL-SIZED iterative loops (the BPE trainers'
    * per-round pair counts): partitions ∝ the model table's own row
    * count, floor 1 — deliberately NOT floored at the core count. The
    * [[shufflePartitionsFor]] floor exists for corpus-proportional
    * stages; a per-round job over a model-sized vocabulary is
    * overhead-bound, not throughput-bound: at test SF the vocabulary
    * is tens of rows and core-count-partition rounds pay ~2×cores task
    * launches per merge round, while a real 10⁷-word vocabulary gets
    * ~150 tasks from the same rule. rowsPerTask=65536 bracketed words
    * ≈ a few MB of strings per task, ~25 MB after the ×(len−1) pair
    * explode — far under [[AutoShuffleTargetBytes]]. */
  def modelPartitionsFor(nRows: Long, rowsPerTask: Long = 65536,
                         cap: Int = 4096): Int =
    math.max(1L, math.min(cap.toLong,
      (nRows + rowsPerTask - 1) / rowsPerTask)).toInt

  /** Scoped conf for MODEL-SIZED driver-loop rounds (the BPE trainers):
    * [[modelPartitionsFor]]-derived shuffle partitioning AND adaptive
    * execution OFF, both restored after `body`. Each round is a fixed
    * two-stage query over a model-sized table — AQE's per-exchange
    * materialization barrier + replanning is pure overhead there
    * (measured on the 64-round sequential trainer at sf0.1: ~8.0 s
    * AQE-on → ~5.5 s AQE-off at the same partitioning), while the
    * partition count is already volume-derived, which is the decision
    * AQE coalescing would have made. Corpus-proportional stages keep
    * the session posture (AQE on) — this scope is only ever entered
    * AFTER the vocabulary has been pinned down to model size. */
  def withModelLoopConf[T](s: SparkSession, parts: Int)(body: => T): T = {
    val kv = Seq("spark.sql.shuffle.partitions" -> parts.toString,
                 "spark.sql.adaptive.enabled" -> "false")
    val olds = kv.map { case (k, _) => k -> s.conf.get(k) }
    kv.foreach { case (k, v) => s.conf.set(k, v) }
    try body finally olds.foreach { case (k, v) => s.conf.set(k, v) }
  }

  /** Node-local scratch for everything Spark spills to local storage:
    * shuffle/block-manager dirs (`spark.local.dir` defaults to
    * `java.io.tmpdir`), the temp checkpoint dirs of ephemeral streaming
    * drains (offset/commit WAL + state-store deltas — each tiny file is
    * atomically renamed and synced, so their latency is the drain's
    * floor), and the staged copies of `graft.sources.Staging`.
    *
    * Root: `SPARK_GRAFT_SCRATCH` when set (a production deployment
    * points it at its fast local NVMe); `off` or unset falls back as
    * below. Unset, it is a RAM-backed tmpfs (`/dev/shm/graft-scratch`)
    * when `/dev/shm` is writable and its usable space covers the JVM's
    * max heap ([[defaultScratchRoot]]), else the JVM's default temp dir;
    * `off` is always the JVM's default temp dir. Guide §2.1/§6: local scratch
    * bandwidth+latency is the tighter limit for shuffle files and state
    * commits on machines with slow disks — measured here, the ~55
    * streaming drains spent 60-80% of their wall in state/WAL commits to
    * an ext4 /tmp (stream_click_attr 16.4 s → 3.1 s, stream_hurst
    * 9.2 s → 3.2 s with scratch on tmpfs). tmpfs is correct for this
    * suite because ALL scratch here is ephemeral (AvailableNow drains
    * into memory sinks recompute from parquet on restart; durability of
    * their checkpoints is not load-bearing) and sub-GB. A stream whose
    * checkpoint must survive the node points at a DFS via the normal
    * per-query checkpointLocation — a durability choice, not a bench
    * one. */
  private def scratchRoot(): Option[String] =
    sys.env.get("SPARK_GRAFT_SCRATCH") match {
      case Some("off")           => None
      case Some(d) if d.nonEmpty => Some(d)
      case _ =>
        val shm = new java.io.File("/dev/shm")
        defaultScratchRoot(shm.isDirectory && shm.canWrite, shm.getUsableSpace,
          Runtime.getRuntime.maxMemory)
    }

  /** The scratch root when `SPARK_GRAFT_SCRATCH` is unset: tmpfs only
    * when it is writable and its usable space covers the max heap.
    * Scratch (shuffle files, spills, staged copies) grows with the data
    * a heap of that size works on, and a full tmpfs fails the write
    * where a disk would not; a smaller tmpfs falls back to the JVM's
    * default temp dir (None). */
  private[graft] def defaultScratchRoot(shmWritable: Boolean, shmUsableBytes: Long,
                                        maxHeapBytes: Long): Option[String] =
    if (shmWritable && shmUsableBytes >= maxHeapBytes) Some("/dev/shm/graft-scratch")
    else None

  /** This JVM's own scratch dir: one uniquely named `graft-<uuid>` dir
    * under the root, made once per JVM (the first `local` call) and
    * deleted by Spark's shutdown hook after the SparkContext has stopped.
    * No two JVMs share a staged copy or a streaming dir, and a cold JVM
    * never finds an older one's. A JVM killed without running its
    * shutdown hooks (SIGKILL, an OOM kill) leaves its dir behind under
    * the root. When the root cannot be created or written, the dir goes
    * under the JVM's default temp dir instead. `java.io.tmpdir` is
    * pointed at it, because it is the single root Spark derives local
    * scratch from when spark.local.dir is unset: DiskBlockManager dirs,
    * Utils.createTempDir (streaming temp checkpoints) and the staged
    * copies. Setting it before the first SparkContext moves all of them
    * together. */
  private lazy val scratchDir: String = {
    val dir = scratchRoot().flatMap(root => Try(GraftBus.tempDir(root)).toOption)
      .getOrElse(GraftBus.tempDir(System.getProperty("java.io.tmpdir"))).getPath
    System.setProperty("java.io.tmpdir", dir)
    dir
  }

  def local(cpus: String): SparkSession = {
    scratchDir
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      // coalescePartitions.parallelismFirst keeps Spark's default (true):
      // size-only coalescing measured a clean loss in round 13
      // (bench_out/ab_pf_*.json: zero winners, 1-1.5 s/query regressions
      // where a byte-small exchange feeds a CPU-dense stage)
      // static conf, must be set before the first session: the default
      // 100-entry generated-class cache thrashes under this library's
      // ~200 distinct codegen'd plans (Bench warmup + timed passes),
      // recompiling + re-JITing classes that were just evicted
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      // AQE re-renders the FULL explain string for the listener bus on
      // every plan update (AdaptiveSparkPlanExec.onUpdatePlan →
      // ExplainUtils.processPlan) even with the UI disabled; on this
      // library's largest expression trees (the 64-register portable
      // HLL, 366-slot circular-smoothing projections) that formatting
      // dominates driver CPU. Cap the rendered length — nothing in a
      // headless run reads it. Plan-shape consumers (PlanSpec,
      // PlanAudit) override via env: the conf is static, so it must be
      // decided before the JVM's first session.
      .config("spark.sql.maxPlanStringLength",
        sys.props.get("SPARK_GRAFT_MAX_PLAN_STR")
          .orElse(sys.env.get("SPARK_GRAFT_MAX_PLAN_STR"))
          .getOrElse("8192"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
