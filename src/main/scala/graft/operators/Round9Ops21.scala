package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Parity._
import graft.sources.Tables

/** Round-9 batch-21 operators (SURVEY §2 #348-#349): deterministic
  * Poisson-bootstrap confidence intervals and the Markov stationary
  * distribution.
  */
object Round9Ops21 {

  // ---------------------------------------- #348 events_bootstrap_ci

  /** Poisson(1) CDF thresholds, 6dp literals shared by both engines:
    * P(0)=.367879, P(≤1)=.735759, P(≤2)=.919699, P(≤3)=.981012,
    * P(≤4)=.996340; the tail caps at 5. */
  private val PoisCdf = Seq(0.367879, 0.735759, 0.919699, 0.981012, 0.99634)

  /** The portable linear-interpolation quantile (the #49 formula). */
  private def linQuantile(vs: Column, p: Double): Column = {
    val n = size(vs)
    val h = (n - 1) * lit(p)
    val l = floor(h).cast("int")
    val f = h - l
    val vl = element_at(vs, l + 1)
    val vu = element_at(vs, least(l + 2, n))
    vl + (vu - vl) * f
  }

  /** #348 events_bootstrap_ci: a NONPARAMETRIC confidence interval for
    * each type's mean value by the POISSON BOOTSTRAP — the shape
    * bootstrap takes on MapReduce (Chamandy et al., Google): instead
    * of materializing B resamples, every row draws a deterministic
    * Poisson(1) replication weight per replica from the md5-uniform of
    * (event_id, replica), so one scan feeds all B replica means and
    * the whole procedure is a map-side expression + one rollup.
    * Reports the plain mean, the bootstrap SE, and the percentile
    * 95% CI — the distribution-free panel for metrics whose normal
    * approximation #104 would get wrong (heavy tails, #337's outlier
    * regime). Deterministic: the hash IS the randomness (the #82
    * seedless discipline), so both engines draw identical weights.
    *
    * Scale shape: the ×B fan is map-only (an explode over a literal
    * replica array) and partial aggregation collapses it to
    * ≤|types|×B groups before any shuffle; the replica-mean table is
    * MODEL-SIZED and the CI quantiles run on collected B-element
    * lists per type. */
  def eventsBootstrapCi(s: SparkSession, dir: String,
                        reps: Int = 100): DataFrame =
    bootstrapCiDf(Tables.events(s, dir), reps)

  /** DataFrame-generic core: expects (event_id, event_type, value). */
  def bootstrapCiDf(ev: DataFrame, reps: Int = 100): DataFrame =
    bootstrapFinalize(bootstrapRegisters(ev, reps))

  /** 16-bit Poisson(1) CDF thresholds as 4-char lowercase hex
    * literals: a replica's uniform is one 16-bit slice of the md5 hex,
    * and fixed-width lowercase hex compares lexicographically as the
    * number it encodes — so the weight is a pure STRING compare, no
    * base-16 decode anywhere in the hot path. Generated from
    * [[PoisCdf]] so both engines share one source of truth. The
    * Poisson CDF lookup needs ~6 significant digits; 16 bits quantize
    * each threshold by < 2⁻¹⁶, identical in both engines. */
  private[graft] val PoisCdfHex: Seq[String] =
    PoisCdf.map(t => f"${math.floor(t * 65536).toInt}%04x")

  /** The per-(type, replica) weighted-moment registers — decimal sums
    * and counts all merge by addition, so this IS the #354 streaming
    * state (≤|types|×(B+1) rows). Replica −1 carries the plain base
    * moments (same merge algebra, one register stream).
    *
    * Fan economics (profiled at sf0.1): one md5 feeds EIGHT
    * replicas (8 disjoint 16-bit uniforms per 128-bit digest —
    * ⌈reps/8⌉ hashes per row, any reps value), and the weight is a
    * 4-char string compare against [[PoisCdfHex]]. But the dominant
    * cost was never the hash: the ×B row fan inherits the SCAN's
    * partitioning, and a bench-scale single-split input ran the whole
    * fan on one core (17 s of an 18 s query). The pre-fan
    * round-robin repartition costs one shuffle of the 3-column base
    * projection — 1/B of the fan's rows — and spreads the ×B work
    * across the cluster; it is the same fix at 100 TB, where a
    * 128 MB input split otherwise becomes a 12.8 GB fan task. */
  private[graft] def bootstrapRegisters(ev0: DataFrame,
                                        reps: Int = 100): DataFrame = {
    val parts = ev0.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val ev = ev0.select(col("event_id"), col("event_type"), col("value"))
      .repartition(parts)
    val nHash = (reps + 7) / 8
    val fan = ev.withColumn("g", explode(array((0 until nHash).map(lit): _*)))
      .withColumn("h", md5(concat(col("event_id").cast("string"), lit(":"),
        col("g").cast("string")).cast("binary")))
      .withColumn("o", explode(array((0 until 8).map(lit): _*)))
      .withColumn("b", col("g") * 8 + col("o"))
      .filter(col("b") < reps)
      .withColumn("hx", substring(col("h"), col("o") * 4 + 1, lit(4)))
    val w = PoisCdfHex.zipWithIndex.foldRight(lit(5): Column) {
      case ((t, k), rest) => when(col("hx") < t, k).otherwise(rest)
    }
    val repRegs = fan
      .withColumn("w", w)
      .groupBy(col("event_type"), col("b"))
      .agg(dsum(col("w") * col("value")).as("sv"),
           sum(col("w")).as("sw"),
           count(lit(1)).as("c"))
    val baseRegs = ev.groupBy(col("event_type"))
      .agg(dsum(col("value")).as("sv"),
           lit(0L).as("sw"),
           count(lit(1)).as("c"))
      .select(col("event_type"), lit(-1).as("b"), col("sv"), col("sw"),
              col("c"))
    repRegs.select(col("event_type"), col("b"), col("sv"), col("sw"),
        col("c"))
      .unionByName(baseRegs)
  }

  /** CI readout over the drained registers — shared verbatim by batch
    * and the #354 stream twin (pinned: consumed by both the base and
    * replica branches). */
  private[graft] def bootstrapFinalize(regsIn: DataFrame): DataFrame = {
    val regs = graft.Lineage.pin(regsIn)
    // a replica whose Poisson weights all land 0 yields NULL mb —
    // drop it explicitly on BOTH engines (Spark collect_list skips
    // NULLs but DuckDB list() keeps them, which would misalign the
    // sorted-list quantile indexing against the NULL-excluding count)
    val repMeans = regs.filter(col("b") >= 0)
      .select(col("event_type"),
              r(col("sv") / nullif(col("sw").cast("double"), lit(0d)), 6)
                .as("mb"))
      .filter(col("mb").isNotNull)
    val n = count(lit(1)).cast("double")
    val sd = sqrt(greatest(lit(0d),
      (dsum(col("mb") * col("mb")) - dsum(col("mb")) * dsum(col("mb")) / n) /
        (n - 1)))
    val ci = repMeans.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_replicas"),
           r(sd, 6).as("se_boot"),
           sort_array(collect_list(col("mb"))).as("vs"))
      .select(col("event_type"), col("n_replicas"), col("se_boot"),
              r(linQuantile(col("vs"), 0.025), 6).as("ci_lo"),
              r(linQuantile(col("vs"), 0.975), 6).as("ci_hi"))
    val base = regs.filter(col("b") === -1)
      .select(col("event_type"), col("c").as("n"),
              r(col("sv") / col("c"), 6).as("mean"))
    base.join(ci, "event_type")
      .select(col("event_type"), col("n"), col("mean"), col("se_boot"),
              col("ci_lo"), col("ci_hi"), col("n_replicas"))
      .orderBy(col("event_type"))
  }

  def eventsBootstrapCiSql(reps: Int = 100): String = {
    // mirror of bootstrapRegisters: 8 replicas per md5 (16-bit hex
    // slices), weight by lexicographic compare against the shared
    // PoisCdfHex literals — no base-16 decode on either engine
    val w = PoisCdfHex.zipWithIndex.foldRight("5") {
      case ((t, k), rest) => s"CASE WHEN hx < '$t' THEN $k ELSE $rest END"
    }
    def q(p: Double): String = {
      val l = s"CAST(floor((count(mb) - 1) * $p) AS INT)"
      val f = s"((count(mb) - 1) * $p - floor((count(mb) - 1) * $p))"
      val vs = "list_sort(list(mb))"
      val vl = s"$vs[$l + 1]"
      val vu = s"$vs[LEAST($l + 2, CAST(count(mb) AS INT))]"
      sqlR(s"$vl + ($vu - $vl) * $f", 6)
    }
    val n = "CAST(count(*) AS DOUBLE)"
    val sd = s"sqrt(greatest(0.0, (${sqlSum("mb * mb")} - " +
      s"${sqlSum("mb")} * ${sqlSum("mb")} / $n) / ($n - 1)))"
    s"""WITH hashed AS (
       |  SELECT e.event_type, e.value, g.g,
       |         md5(CAST(e.event_id AS VARCHAR) || ':' ||
       |             CAST(g.g AS VARCHAR)) AS h
       |  FROM events e CROSS JOIN (
       |    SELECT CAST(range AS INT) AS g FROM range(0, ${(reps + 7) / 8})) g),
       |fan AS (
       |  SELECT event_type, value, g * 8 + o.o AS b,
       |         substr(h, 1 + o.o * 4, 4) AS hx
       |  FROM hashed CROSS JOIN (
       |    SELECT CAST(range AS INT) AS o FROM range(0, 8)) o
       |  WHERE g * 8 + o.o < $reps),
       |wt AS (SELECT event_type, value, b, $w AS w FROM fan),
       |rep AS (
       |  SELECT event_type, b,
       |         ${sqlR(s"${sqlSum("w * value")} / nullif(CAST(sum(w) AS DOUBLE), 0.0)", 6)}
       |           AS mb
       |  FROM wt GROUP BY 1, 2
       |  HAVING mb IS NOT NULL),
       |ci AS (
       |  SELECT event_type, count(*) AS n_replicas,
       |         ${sqlR(sd, 6)} AS se_boot,
       |         ${q(0.025)} AS ci_lo,
       |         ${q(0.975)} AS ci_hi
       |  FROM rep GROUP BY 1),
       |base AS (
       |  SELECT event_type, count(*) AS n,
       |         ${sqlR(s"${sqlSum("value")} / count(*)", 6)} AS mean
       |  FROM events GROUP BY 1)
       |SELECT b.event_type, b.n, b.mean, c.se_boot, c.ci_lo, c.ci_hi,
       |       c.n_replicas
       |FROM base b JOIN ci c USING (event_type)
       |ORDER BY b.event_type""".stripMargin
  }

  // -------------------------------------- #349 events_markov_stationary

  /** #349 events_markov_stationary: the LONG-RUN state occupancy of
    * the #53 transition chain by fixed-round power iteration
    * (π' = πP, 16 rounds, 8dp per round — the #31c/#156 iteration
    * discipline), reported against the chain's EMPIRICAL occupancy
    * with the gap. #53 publishes where each state goes NEXT; the
    * stationary vector says where the process SPENDS ITS TIME — the
    * capacity/attention weights a funnel owner actually allocates by,
    * and gap ≈ 0 doubles as the ergodicity check (a reducible or
    * periodic chain shows a persistent gap). States with no outgoing
    * transitions hold their mass (absorbing convention, identical in
    * both engines).
    *
    * Scale shape: the transition table is MODEL-SIZED (≤|types|²);
    * every iteration is a join + rollup on it. The corpus is touched
    * once, in #53's lag-window pass. */
  def eventsMarkovStationary(s: SparkSession, dir: String,
                             iters: Int = 16): DataFrame =
    stationaryFromTrans(
      Analytics2.eventsMarkov(s, dir)
        .select(col("prev"), col("next"), col("n"), col("prob")), iters)

  /** DataFrame-generic core over a (prev, next, n, prob) transition
    * table. */
  private[graft] def stationaryFromTrans(transIn: DataFrame,
                                         iters: Int = 16): DataFrame = {
    val trans = graft.Lineage.pin(transIn)
    val nodes = trans.select(col("prev").as("state"))
      .union(trans.select(col("next").as("state"))).distinct()
      .transform(graft.Lineage.pin)
    // absorbing convention as DATA, not control flow: states without
    // outgoing transitions get a synthetic self-loop of prob 1, so each
    // iteration references the previous π exactly ONCE — a second
    // reference (e.g. a separate "hold your mass" join) doubles the
    // un-materialized plan per round and turns the loop exponential
    val selfLoops = nodes
      .join(trans.select(col("prev").as("state")).distinct(),
            Seq("state"), "left_anti")
      .select(col("state").as("prev"), col("state").as("next"),
              lit(0L).as("n"), lit(1.0).as("prob"))
    val p = trans.select(col("prev"), col("next"), col("n"), col("prob"))
      .union(selfLoops).transform(graft.Lineage.pin)
    val nDf = nodes.agg(count(lit(1)).cast("double").as("n_states"))
    val pi0 = nodes.crossJoin(broadcast(nDf))
      .select(col("state"), r(lit(1.0) / col("n_states"), 8).as("pi"))
    def round(prev: DataFrame): DataFrame = p
      .join(prev.withColumnRenamed("state", "prev"), "prev")
      .groupBy(col("next").as("state"))
      .agg(r(dsum(col("pi") * col("prob")), 8).as("pi"))
    val s = transIn.sparkSession
    var pi = pi0
    if (graft.Caches.auditing(s)) {
      // explain-only: keep the loop lazy (no jobs), periodic cut bounds
      // Catalyst analysis depth
      for (i <- 1 to iters) {
        pi = round(pi)
        if (i % 4 == 0) pi = graft.Lineage.cut(pi)
      }
    } else {
      // The π table is MODEL-SIZED (one row per state, |states| ≈ event
      // types), so the 16 rounds are overhead-bound, not throughput-
      // bound: lazily planned they execute at the session's corpus
      // posture — 2 exchanges × cores partitions × 16 rounds of near-
      // empty tasks plus AQE's per-exchange replanning. Run them
      // EAGERLY (cutEager per round — one tiny job each) under the
      // model-loop conf, the measured BPE-trainer treatment
      // (GraftSession.withModelLoopConf): partitions ∝ the transition
      // table's own volume, AQE off for the fixed two-stage round.
      // Values are bit-identical — same rounds, same arithmetic.
      val parts = graft.GraftSession.modelPartitionsFor(p.count())
      graft.GraftSession.withModelLoopConf(s, parts) {
        for (_ <- 1 to iters) pi = graft.Lineage.cutEager(round(pi))
      }
    }
    // a state with outgoing-but-no-incoming arcs drains to mass 0 and
    // falls out of the π table — restore it explicitly
    pi = nodes.join(pi, Seq("state"), "left")
      .select(col("state"), coalesce(col("pi"), lit(0d)).as("pi"))
    val emp = trans.groupBy(col("next").as("state"))
      .agg(sum(col("n")).as("cnt"))
    val tot = emp.agg(sum(col("cnt")).cast("double").as("t"))
    pi.join(emp, Seq("state"), "left").crossJoin(broadcast(tot))
      .withColumn("emp_share",
        r(coalesce(col("cnt"), lit(0L)).cast("double") / col("t"), 6))
      .withColumn("gap", r(abs(col("pi") - col("emp_share")), 6))
      .select(col("state"), col("pi"), col("emp_share"), col("gap"))
      .orderBy(col("state"))
  }

  def eventsMarkovStationarySql(iters: Int = 16): String = {
    def round(prev: String, out: String): String =
      s"""$out AS (
         |  SELECT t.next AS state,
         |         ${sqlR(sqlSum("p.pi * t.prob"), 8)} AS pi
         |  FROM trans2 t JOIN $prev p ON p.state = t.prev
         |  GROUP BY 1)"""
    val rounds = (1 to iters).map(i => round(s"p${i - 1}", s"p$i")).mkString(",\n")
    s"""WITH raw AS (
       |  SELECT prev, event_type AS next, count(*) AS n
       |  FROM (SELECT event_type,
       |               lag(event_type) OVER (PARTITION BY user_id
       |                                     ORDER BY ts, event_id) AS prev
       |        FROM events)
       |  WHERE prev IS NOT NULL
       |  GROUP BY 1, 2),
       |trans AS (
       |  SELECT prev, next, n,
       |         ${sqlR("n / (sum(n) OVER (PARTITION BY prev))", 6)} AS prob
       |  FROM raw),
       |nodes AS (
       |  SELECT DISTINCT state FROM (
       |    SELECT prev AS state FROM trans
       |    UNION SELECT next FROM trans)),
       |trans2 AS (
       |  SELECT prev, next, prob FROM trans
       |  UNION ALL
       |  SELECT n.state, n.state, 1.0
       |  FROM nodes n
       |  WHERE n.state NOT IN (SELECT prev FROM trans)),
       |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n_states FROM nodes),
       |p0 AS (
       |  SELECT state, ${sqlR("1.0 / (SELECT n_states FROM nn)", 8)} AS pi
       |  FROM nodes),
       |$rounds,
       |emp AS (
       |  SELECT next AS state, CAST(sum(n) AS BIGINT) AS cnt
       |  FROM trans GROUP BY 1),
       |tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS t FROM emp)
       |SELECT n.state, coalesce(p.pi, 0.0) AS pi,
       |       ${sqlR("coalesce(e.cnt, 0) / (SELECT t FROM tot)", 6)} AS emp_share,
       |       ${sqlR(s"abs(coalesce(p.pi, 0.0) - (${sqlR("coalesce(e.cnt, 0) / (SELECT t FROM tot)", 6)}))", 6)} AS gap
       |FROM nodes n
       |LEFT JOIN p$iters p ON p.state = n.state
       |LEFT JOIN emp e ON e.state = n.state
       |ORDER BY n.state""".stripMargin
  }
}
