package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Mhw
import graft.time.DoyFunctions

/** Like-for-like replica of the reference's speed benchmark
  * (examples/speed_benchmark.ipynb): a 17×17 OISST-subset-shaped grid ×
  * 1982-01-01..2014-12-31 daily (≈ 3.48 M points), through the same
  * three stages the notebook times —
  *   1. legacy climatology + threshold fit on the 1982–2011 baseline,
  *   2. severity over the full record,
  *   3. MHW event detection + metrics.
  * The notebook's wall-clock on dask/laptop is the BASELINE bar the
  * per-SF bench can't reach (sf0.1 is ~75× fewer points, fixed costs
  * dominate); this main runs the chain at the reference's OWN data
  * scale. The grid is synthesized deterministically (seasonal cycle +
  * xxhash noise + seeded warm anomalies so events exist) — value
  * content doesn't change the work: every stage's cost is driven by
  * row counts and group cardinalities, which match the notebook's.
  *
  * Writes one JSON line to stdout and BENCH_GRID.json.
  */
object BenchGrid {
  def main(args: Array[String]): Unit = {
    val cpus = GraftSession.cpus
    val settler = new BenchKit.Settler
    val spark = GraftSession.local(cpus)

    // SPARK_GRAFT_GRID_SCALE multiplies the cell count (1 = the
    // notebook's 17×17 subset; 10 ≈ 34.8 M points) — the scaling sweep
    // that shows throughput is linear in cells, the property that
    // carries to a 1000-executor grid
    val scale = sys.env.getOrElse("SPARK_GRAFT_GRID_SCALE", "1").toInt
    // SPARK_GRAFT_KEYDIM_BCAST=false runs the large-deployment posture:
    // per-key clim/threshold tables are NOT force-broadcast and the
    // severity joins degrade to co-partitioned shuffle joins (the
    // PlanSpec-pinned shape) — at ×100 (28.9k cells → 10.6M clim rows)
    // this is the honest 100 TB configuration, and the run doubles as
    // the no-driver-OOM proof for the gate.
    sys.env.get("SPARK_GRAFT_KEYDIM_BCAST")
      .foreach(v => spark.conf.set(Hints.BroadcastKeyDims, v))
    val keyDimBcast = spark.conf.get(Hints.BroadcastKeyDims, "true")
    val nCells = 17 * 17 * scale
    val d0 = java.sql.Date.valueOf("1982-01-01")
    val nDays = java.time.temporal.ChronoUnit.DAYS.between(
      java.time.LocalDate.of(1982, 1, 1), java.time.LocalDate.of(2015, 1, 1)).toInt

    // deterministic synthetic SST: per-cell base + seasonal cycle +
    // bounded hash noise + multi-week warm spikes (events to detect)
    def grid(): DataFrame =
      spark.range(nCells).select(col("id").as("user_id"))
        .crossJoin(spark.range(nDays).select(col("id").cast("int").as("t")))
        .select(
          col("user_id"),
          date_add(lit(d0), col("t")).as("d"),
          (lit(15.0) + col("user_id") % 17 * 0.3 +
           lit(5.0) * cos(col("t") * lit(2 * math.Pi / 365.25)) +
           (pmod(xxhash64(col("user_id"), col("t")), lit(1000)) / 1000.0 - 0.5) +
           when(pmod(col("t") + col("user_id") * 37, lit(1500)) < 45, 3.5)
             .otherwise(0.0)).as("sst"))
        .withColumn("yr", year(col("d")))
        .withColumn("doy", DoyFunctions.climDoy(col("d")))

    // materialize the input once (the notebook loads a netCDF file; data
    // generation is not part of either side's measurement). At ×10+ the
    // input is ~19 GB serialized — holding it ON-HEAP leaves the warm
    // pass running against a 65%-full old gen, and G1's CONCURRENT
    // cycles (unaccounted in task gc_ms) then tax every warm stage
    // (measured: warm clim 265 s vs cold 161 s on a quiet host, +3300
    // task-seconds with only +221 s stop-the-world GC). DISK_ONLY keeps
    // the measurement heap clean and prices both passes identically —
    // also the honest cluster shape: a real deployment streams the
    // input from storage, it does not pin 100 TB in executor heaps.
    val inputLvl =
      if (scale >= 10) org.apache.spark.storage.StorageLevel.DISK_ONLY
      else org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val dl = grid().persist(inputLvl)
    val nPoints = dl.count()

    // Volume rule: size shuffle partitions to the materialized input ×
    // the pooling chain's in-stage fan-out (each daily row explodes to
    // 2·hw+1 window centers whose collect_list partials are resident in
    // the aggregation task) — the rule the hand-set partition counts of
    // the ×30/×100 runs turned into.
    val shufflePartitions = GraftSession.autoScaleShuffle(dl, amplification = 11.0)

    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }
    val loadStart = BenchKit.loadavg()

    // Task-level metric accumulator (the ×100 IO-wall evidence): spill
    // bytes, shuffle IO, input bytes, executor run/GC time per pass.
    // At 348 M points the materialized input + chain persists exceed
    // RAM, so the WARM pass re-reads persisted blocks from disk and
    // sort-spills against the same device — the hypothesis for warm ≥
    // cold on the single-host grid; these counters are the test.
    val tasks = new BenchKit.TaskMetricsListener(spark.sparkContext)
    // block residency of everything persisted (is the input on disk?)
    def storageSnap(): String = {
      val infos = spark.sparkContext.getRDDStorageInfo
      s"""{"cached_mem":${infos.map(_.memSize).sum},""" +
        s""""cached_disk":${infos.map(_.diskSize).sum}}"""
    }

    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val base = dl.filter(col("yr").between(1982, 2011))

    /** The notebook's three timed steps. Fresh frames per call; only
      * `persist` handles escape so the next step consumes the
      * materialized table, like the notebook's eager `.compute()`s. */
    def runChain(): (Long, Double, Double, Double, Seq[DataFrame]) = {
      // Step 1 — legacy climatology + threshold, fit on the Hobday
      // baseline (1982–2011): compute_climatology/compute_threshold
      // with climatologyPeriod=(1982, 2011). The fused chain computes
      // both tables in one pooling pass (bit-identical to the separate
      // operators, spec-pinned).
      val (both, tClim) = timed {
        val b = Mhw.legacyClimThresh(base, 5, 0.9).persist(lvl)
        b.count()
        b
      }
      val seas = both.select(col("user_id"), col("doy"), col("seas"))
      val thresh = both.select(col("user_id"), col("doy"), col("thresh"))
      // Step 2 — severity over the FULL record
      val (sev, tSev) = timed {
        val s = Mhw.severity(dl, seas, thresh).persist(lvl)
        s.count()
        s
      }
      // Step 3 — event detection + metrics (Hobday 5/2 defaults)
      val (nEvents, tEvents) = timed {
        Mhw.detectEvents(sev, minDuration = 5, maxGap = 2).count()
      }
      (nEvents, tClim, tSev, tEvents, Seq(both, sev))
    }

    // Pass 1 (cold): JVM pays whole-stage codegen + C2 compilation of
    // every generated class INSIDE the measurement — the worst case for
    // a fresh single-purpose JVM. The dask baseline has no analogous
    // cost (numpy kernels ship precompiled), so pass 2 reports the
    // steady state any long-lived Spark driver/cluster runs at: same
    // plans, warm code cache, JIT settled (Bench's protocol).
    val m0 = tasks.snapshot()
    val loadCold0 = BenchKit.loadavg()
    val (nEvents, cClim, cSev, cEvents, scratch1) = runChain()
    val loadCold1 = BenchKit.loadavg()
    val coldMetrics = tasks.delta(m0)
    val coldStorage = storageSnap()
    scratch1.foreach(_.unpersist(false))
    settler.settle()
    val m2 = tasks.snapshot()
    val loadWarm0 = BenchKit.loadavg()
    val (nEvents2, wClim, wSev, wEvents, _) = runChain()
    val loadWarm1 = BenchKit.loadavg()
    val warmMetrics = tasks.delta(m2)
    val warmStorage = storageSnap()
    require(nEvents2 == nEvents, s"non-deterministic event count: $nEvents vs $nEvents2")

    val coldTotal = cClim + cSev + cEvents
    val warmTotal = wClim + wSev + wEvents
    val json =
      f"""{"grid_cells":$nCells,"days":$nDays,"points":$nPoints,"events":$nEvents,"cold":{"sec_clim_thresh":$cClim%.3f,"sec_severity":$cSev%.3f,"sec_events":$cEvents%.3f,"sec_total":$coldTotal%.3f},"warm":{"sec_clim_thresh":$wClim%.3f,"sec_severity":$wSev%.3f,"sec_events":$wEvents%.3f,"sec_total":$warmTotal%.3f},"reference_notebook_sec":{"clim_thresh":5.9},"cpus":"$cpus","broadcast_key_dims":$keyDimBcast,"shuffle_partitions":$shufflePartitions,"cold_task_metrics":${BenchKit.jsonObject(coldMetrics)},"warm_task_metrics":${BenchKit.jsonObject(warmMetrics)},"cold_storage":$coldStorage,"warm_storage":$warmStorage,"loadavg":{"start":$loadStart,"cold0":$loadCold0,"cold1":$loadCold1,"warm0":$loadWarm0,"warm1":$loadWarm1,"end":${BenchKit.loadavg()},"gate":${settler.gateJson}}}"""
    val outDefault =
      if (scale == 1) "/root/repo/BENCH_GRID.json"
      else s"/root/repo/BENCH_GRID_x$scale.json"
    BenchKit.write(sys.env.getOrElse("SPARK_GRAFT_GRID_OUT", outDefault), json)
    println(json)
    Caches.clear(spark)
    spark.stop()
  }
}
