package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Round-8 batch-3 operators (SURVEY §2 #284-#285): schema-on-read
  * drift monitoring over the events feed's JSON `props` column.
  */
object Round8Ops {

  // ---------------------------------------------- #284 dq_schema_drift

  /** Corpus midpoint day (min + ⌊span/2⌋) — the injection's rollout
    * date. One 1-row aggregate, collected driver-side so the streaming
    * twin can inject against a literal (a stream cannot re-aggregate
    * its own history for a constant; the batch op uses the same scalar
    * so the two are bit-identical by construction). */
  private[graft] def feedMidDay(ev: DataFrame): java.sql.Date =
    // floor() explicitly: int/2 is double division in Spark and DuckDB,
    // but their double→int casts disagree (truncate vs round-half) —
    // floor first is identical in both engines
    ev.agg(date_add(min(to_date(col("ts"))),
        floor(datediff(max(to_date(col("ts"))), min(to_date(col("ts")))) / 2)
          .cast("int")).as("mid"))
      .collect()(0).getAs[java.sql.Date](0)

  /** Deterministic drift injection (the #165/#167 self-injection
    * discipline — the synthetic feed's props schema is too clean to
    * exercise the monitor): a "beta" key rides every 11th event BEFORE
    * the midpoint day (a retired experiment), and every 7th event
    * ON/AFTER it renames "k" to "k_v2" (a producer rollout). Map-only,
    * fenced here, mirrored verbatim in the oracle; the monitor reads
    * only the injected column. Both rewrite patterns are ^-anchored so
    * at most one match exists per value — Spark's regexp_replace is
    * global while DuckDB's default is first-match-only, and an
    * unanchored pattern would silently diverge the engines on any
    * future payload containing the needle twice. */
  private[graft] def injectedProps(ev: DataFrame, mid: java.sql.Date): DataFrame = {
    val d = to_date(col("ts"))
    ev.withColumn("props2",
      when(d < lit(mid) && pmod(col("event_id"), lit(11)) === 0,
           regexp_replace(col("props"), "^\\{", "{\"beta\": 1,"))
        .when(d >= lit(mid) && pmod(col("event_id"), lit(7)) === 0,
              regexp_replace(col("props"), "^\\{\"k\":", "{\"k_v2\":"))
        .otherwise(col("props")))
  }

  /** Mergeable (day, key) registers: one JSON-key explode per event,
    * counts merge by addition — also the #285 streaming state. */
  private[graft] def schemaRegisters(ev: DataFrame, mid: java.sql.Date): DataFrame =
    injectedProps(ev, mid)
      .select(date_format(col("ts"), "yyyy-MM-dd").as("day"),
              explode(json_object_keys(col("props2"))).as("key"))
      .groupBy(col("day"), col("key"))
      .agg(count(lit(1)).as("n"))

  /** Per-key lifecycle readout over the drained ≤days×keys register
    * table: first/last day seen, days present, event count, and the
    * drift verdict relative to the feed's day range — `new` (appeared
    * mid-feed: a producer rollout), `retired` (vanished mid-feed: a
    * dropped field consumers may still read), `transient`, `stable`. */
  private[graft] def schemaDriftFinalize(regs: DataFrame): DataFrame = {
    val span = regs.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    regs.groupBy(col("key"))
      .agg(min(col("day")).as("first_day"), max(col("day")).as("last_day"),
           count(lit(1)).as("n_days"), sum(col("n")).as("n_events"))
      .crossJoin(broadcast(span))
      .withColumn("status",
        when(col("first_day") > col("d0") && col("last_day") < col("d1"),
             "transient")
          .when(col("first_day") > col("d0"), "new")
          .when(col("last_day") < col("d1"), "retired")
          .otherwise("stable"))
      .select(col("key"), col("first_day"), col("last_day"),
              col("n_days"), col("n_events"), col("status"))
      .orderBy(col("key"))
  }

  /** #284 dq_schema_drift: SCHEMA-ON-READ drift over the JSON props
    * feed — which keys exist, when each appeared/vanished, and the
    * new/retired/stable verdict per key. The monitor a semi-structured
    * lake table needs that column-schema DQ (#200/#229 profile typed
    * columns) cannot see: producers add and drop JSON fields without
    * any schema change. Scale shape: one scan, map-only key explode
    * (bounded by keys-per-doc), one (day, key) rollup — trivially
    * map-side-combinable; the lifecycle readout runs over the bounded
    * register table with a broadcast 1-row span. */
  def dqSchemaDrift(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    schemaDriftFinalize(schemaRegisters(ev, feedMidDay(ev)))
  }

  // ---------------------------------------- #292 corpus_split_leakage

  /** The #82 split assignment (md5-uniform on doc_id, 80/10/10) for an
    * arbitrary id column — must stay bit-identical to corpus_split's
    * expression or the audit would grade a split nobody ships. */
  private def splitOf(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val u = conv(substring(md5(id.cast("string").cast("binary")), 1, 15), 16, 10)
      .cast("bigint").cast("double") / math.pow(2, 60)
    when(u < 0.8, "train").when(u < 0.9, "val").otherwise("test")
  }

  private def splitOfSql(id: String): String =
    s"""CASE WHEN CAST(('0x' || substr(md5(CAST($id AS VARCHAR)), 1, 15))::BIGINT AS DOUBLE)
       |            / ${math.pow(2, 60)} < 0.8 THEN 'train'
       |     WHEN CAST(('0x' || substr(md5(CAST($id AS VARCHAR)), 1, 15))::BIGINT AS DOUBLE)
       |            / ${math.pow(2, 60)} < 0.9 THEN 'val'
       |     ELSE 'test' END""".stripMargin

  /** #292 corpus_split_leakage: INTERNAL split leakage — the #27
    * near-duplicate pairs graded by which #82 splits their two sides
    * land in. Decontamination (#24d/#264) guards against EXTERNAL
    * benchmarks; this audits the corpus's own train/val/test split: a
    * near-dup pair straddling train and val is an eval row the model
    * has effectively seen, the silent inflation random document-level
    * splits always carry. Readout per unordered split pair: verified
    * pair count, mean Jaccard, and the cross-split flag — the
    * cross rows are the leak report, the within-train row is the
    * (harmless) bulk. Scale shape: rides the #27 banded pair table
    * unchanged; split labels are map-only md5 expressions on the pair
    * ids (no join back to documents); one ≤3×3 rollup. */
  def corpusSplitLeakage(s: SparkSession, dir: String,
                         tau: Double = 0.3): DataFrame = {
    import graft.Parity.davg
    val pairs = LshDedup.dedupMinhash(s, dir, tau)
    pairs
      .withColumn("sa", splitOf(col("id_a")))
      .withColumn("sb", splitOf(col("id_b")))
      .select(least(col("sa"), col("sb")).as("split_lo"),
              greatest(col("sa"), col("sb")).as("split_hi"),
              col("jaccard"))
      .groupBy(col("split_lo"), col("split_hi"))
      .agg(count(lit(1)).as("n_pairs"),
           davg(col("jaccard"), 6).as("mean_jaccard"))
      .withColumn("is_cross", col("split_lo") =!= col("split_hi"))
      .orderBy(col("split_lo"), col("split_hi"))
  }

  def corpusSplitLeakageSql(tau: Double = 0.3): String = {
    import graft.Parity.sqlAvg
    s"""WITH p AS (${LshDedup.dedupMinhashSql(tau)}),
       |sp AS (
       |  SELECT jaccard,
       |         LEAST(${splitOfSql("id_a")}, ${splitOfSql("id_b")}) AS split_lo,
       |         GREATEST(${splitOfSql("id_a")}, ${splitOfSql("id_b")}) AS split_hi
       |  FROM p)
       |SELECT split_lo, split_hi, count(*) AS n_pairs,
       |       ${sqlAvg("jaccard", 6)} AS mean_jaccard,
       |       split_lo <> split_hi AS is_cross
       |FROM sp GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  // ------------------------------------- #291 lineitem_zorder_locality

  /** Bit-interleave of two `bits`-wide non-negative longs — the Z-order
    * (Morton) key, as a plain sum of shift/mask terms (codegen'd; the
    * identical expression renders in SQL). */
  private def zinterleave(a: org.apache.spark.sql.Column,
                          b: org.apache.spark.sql.Column,
                          bits: Int): org.apache.spark.sql.Column =
    (0 until bits).map { i =>
      shiftleft(shiftright(a, i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), 2 * i + 1)
    }.reduce(_ + _)

  /** #291 lineitem_zorder_locality: WHY a lake table Z-orders — measured
    * relationally. File pruning skips a file when the predicate misses
    * its min/max range, so the quantity that decides pruning power is
    * the per-file VALUE SPAN of each filtered column. This op encodes
    * "files" deterministically as equal-width buckets over a layout's
    * sort key (value-based, map-only — no global rank) and compares two
    * layouts of lineitem: time-sorted (by ship day) vs Z-ordered
    * (12-bit Morton interleave of ship day × part key). Readout per
    * layout: bucket count and the exact total min-max span of BOTH
    * columns across buckets — time-sort gives minimal day spans but
    * every bucket covers the whole part range (date predicates prune,
    * part predicates scan everything); Z-order bounds both, the
    * two-predicate pruning win that pays for the pricier write. The
    * #97/#99/#102 physical-layout family's missing fourth member:
    * bucketing kills the join shuffle, partitioning kills the time
    * scan, footer stats kill the metadata query — Z-order kills the
    * second predicate's full scan. Scale shape: two broadcast 1-row
    * aggs, map-only keys/buckets, one ≤nBuckets rollup per layout. */
  def lineitemZorderLocality(s: SparkSession, dir: String,
                             bits: Int = 12, nBuckets: Int = 32): DataFrame = {
    val li = Tables.lineitem(s, dir).select(col("l_partkey"), col("l_shipdate"))
    // Range stats for BOTH columns: each is normalized into [0, 2^bits)
    // before interleaving. Raw interleave truncates to the low `bits`
    // bits, so any key exceeding 2^bits-1 (l_partkey tops 19999 at
    // sf0.1 vs 4095 for bits=12) aliases mod 2^bits and the Z-curve
    // stops bounding that column's span — normalization makes the
    // Morton key scale-invariant. Integer `div` (not floor-of-double)
    // so Spark and DuckDB agree bit-for-bit.
    val side = 1L << bits
    val stats = li.agg(
      min(to_date(col("l_shipdate"))).as("d0"),
      (datediff(max(to_date(col("l_shipdate"))),
                min(to_date(col("l_shipdate")))) + lit(1)).cast("long").as("pd_n"),
      min(col("l_partkey")).cast("long").as("pk0"),
      (max(col("l_partkey")) - min(col("l_partkey")) + lit(1)).cast("long").as("pk_n"))
    val keyed = li.crossJoin(broadcast(stats))
      .select(datediff(to_date(col("l_shipdate")), col("d0")).cast("long").as("pd"),
              col("l_partkey").cast("long").as("pk"),
              col("pd_n"), col("pk0"), col("pk_n"))
      .withColumn("npd", expr(s"pd * $side div pd_n"))
      .withColumn("npk", expr(s"(pk - pk0) * $side div pk_n"))
      .withColumn("zkey", zinterleave(col("npd"), col("npk"), bits))
    def layoutReport(key: String, name: String): DataFrame = {
      val mm = keyed.agg(min(col(key)).as("kmin"), max(col(key)).as("kmax"))
      keyed.crossJoin(broadcast(mm))
        .withColumn("bucket", least(lit(nBuckets - 1),
          floor((col(key) - col("kmin")).cast("double") * nBuckets /
                (col("kmax") - col("kmin") + lit(1L)).cast("double"))
            .cast("int")))
        .groupBy(col("bucket"))
        .agg((max(col("pd")) - min(col("pd"))).as("span_days"),
             (max(col("pk")) - min(col("pk"))).as("span_part"))
        .agg(count(lit(1)).as("n_buckets"),
             sum(col("span_days")).as("total_span_days"),
             sum(col("span_part")).as("total_span_part"))
        .select(lit(name).as("layout"), col("n_buckets"),
                col("total_span_days"), col("total_span_part"))
    }
    layoutReport("pd", "time_sorted")
      .unionByName(layoutReport("zkey", "zorder"))
      .orderBy(col("layout"))
  }

  def lineitemZorderLocalitySql(bits: Int = 12, nBuckets: Int = 32): String = {
    val zi = (0 until bits).map(i =>
      s"(((npd >> $i) & 1) << ${2 * i}) + (((npk >> $i) & 1) << ${2 * i + 1})")
      .mkString(" + ")
    def report(key: String, name: String) =
      s"""SELECT '$name' AS layout, count(*) AS n_buckets,
         |       CAST(sum(span_days) AS BIGINT) AS total_span_days,
         |       CAST(sum(span_part) AS BIGINT) AS total_span_part
         |FROM (
         |  SELECT LEAST(${nBuckets - 1}, CAST(floor(
         |           CAST($key - (SELECT min($key) FROM keyed) AS DOUBLE) * $nBuckets /
         |           CAST((SELECT max($key) FROM keyed) - (SELECT min($key) FROM keyed) + 1 AS DOUBLE))
         |         AS INT)) AS bucket,
         |         max(pd) - min(pd) AS span_days,
         |         max(pk) - min(pk) AS span_part
         |  FROM keyed GROUP BY 1)""".stripMargin
    val side = 1L << bits
    s"""WITH stats AS (
       |  SELECT min(CAST(l_shipdate AS DATE)) AS d0,
       |         CAST(datediff('day', min(CAST(l_shipdate AS DATE)),
       |                       max(CAST(l_shipdate AS DATE))) + 1 AS BIGINT) AS pd_n,
       |         CAST(min(l_partkey) AS BIGINT) AS pk0,
       |         CAST(max(l_partkey) - min(l_partkey) + 1 AS BIGINT) AS pk_n
       |  FROM lineitem),
       |base AS (
       |  SELECT CAST(datediff('day', d0, CAST(l_shipdate AS DATE)) AS BIGINT) AS pd,
       |         CAST(l_partkey AS BIGINT) AS pk, pd_n, pk0, pk_n
       |  FROM lineitem CROSS JOIN stats),
       |norm AS (
       |  SELECT pd, pk,
       |         (pd * $side) // pd_n AS npd,
       |         ((pk - pk0) * $side) // pk_n AS npk
       |  FROM base),
       |keyed AS (SELECT pd, pk, $zi AS zkey FROM norm)
       |${report("pd", "time_sorted")}
       |UNION ALL
       |${report("zkey", "zorder")}
       |ORDER BY layout""".stripMargin
  }

  // --------------------------------------------- #288 corpus_pii_audit

  /** Deterministic PII injection (the synthetic corpus is PII-free, so
    * the audit would read zero everywhere): every 13th doc gains an
    * email, every 17th a phone number (both at lcm 221) — id-derived
    * so incidence is exact ground truth at every SF. Fenced here,
    * mirrored verbatim in the oracle; the audit reads only the
    * injected column. */
  private[graft] def injectedPii(docs: DataFrame): DataFrame =
    docs.withColumn("text2", concat(col("text"),
      when(pmod(col("doc_id"), lit(13)) === 0,
        concat(lit(" reach user"), col("doc_id").cast("string"),
               lit("@example.org"))).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(17)) === 0,
        concat(lit(" call +1 202 555 01"),
               lpad((col("doc_id") % 100).cast("string"), 2, "0")))
        .otherwise(lit(""))))

  /** Mergeable per-source PII registers: doc counts, docs carrying ≥1
    * email / phone / any PII, and total hit counts — all merge by
    * addition; the regex screens are the #24e fragments, map-only per
    * doc. Also the #289 streaming state. */
  private[graft] def piiRegisters(docs: DataFrame): DataFrame = {
    val ne = regexp_count(col("text2"), lit(TextOps.emailRe))
    val np = regexp_count(col("text2"), lit(TextOps.phoneRe))
    injectedPii(docs)
      .select(col("source"), ne.as("ne"), np.as("np"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           sum(when(col("ne") > 0, 1L).otherwise(0L)).as("n_email_docs"),
           sum(when(col("np") > 0, 1L).otherwise(0L)).as("n_phone_docs"),
           sum(when(col("ne") > 0 || col("np") > 0, 1L).otherwise(0L))
             .as("n_pii_docs"),
           sum(col("ne").cast("long")).as("n_emails"),
           sum(col("np").cast("long")).as("n_phones"))
  }

  /** Incidence-rate readout over the ≤|sources| register table. */
  private[graft] def piiAuditFinalize(regs: DataFrame): DataFrame = {
    import graft.Parity.r
    regs.select(col("source"), col("n_docs"), col("n_pii_docs"),
                col("n_emails"), col("n_phones"),
                r(col("n_email_docs") / col("n_docs").cast("double"), 6)
                  .as("email_rate"),
                r(col("n_phone_docs") / col("n_docs").cast("double"), 6)
                  .as("phone_rate"),
                r(col("n_pii_docs") / col("n_docs").cast("double"), 6)
                  .as("pii_rate"))
      .orderBy(col("source"))
  }

  /** #288 corpus_pii_audit: PII INCIDENCE per source — the compliance
    * report a curation run publishes alongside the #24e redaction
    * (redaction masks the hits; this says which sources carry them and
    * at what rate, the number that routes a source to legal review
    * rather than a regex). One scan, the #24e regex fragments as
    * conditional sums, one bounded source rollup — the register/
    * finalize contract, so #289 streams it unchanged. */
  def corpusPiiAudit(s: SparkSession, dir: String): DataFrame =
    piiAuditFinalize(piiRegisters(Tables.documents(s, dir)))

  val corpusPiiAuditSql: String = {
    import graft.Parity.sqlR
    val withPii =
      "text || (CASE WHEN doc_id % 13 = 0 THEN ' reach user' || CAST(doc_id AS VARCHAR) || '@example.org' ELSE '' END)" +
      " || (CASE WHEN doc_id % 17 = 0 THEN ' call +1 202 555 01' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') ELSE '' END)"
    s"""WITH f AS (
       |  SELECT source,
       |         len(regexp_extract_all($withPii, '${TextOps.emailRe}')) AS ne,
       |         len(regexp_extract_all($withPii, '${TextOps.phoneRe}')) AS np
       |  FROM documents),
       |g AS (
       |  SELECT source, count(*) AS n_docs,
       |         CAST(sum(CASE WHEN ne > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_email_docs,
       |         CAST(sum(CASE WHEN np > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_phone_docs,
       |         CAST(sum(CASE WHEN ne > 0 OR np > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pii_docs,
       |         CAST(sum(ne) AS BIGINT) AS n_emails,
       |         CAST(sum(np) AS BIGINT) AS n_phones
       |  FROM f GROUP BY 1)
       |SELECT source, n_docs, n_pii_docs, n_emails, n_phones,
       |       ${sqlR("n_email_docs / CAST(n_docs AS DOUBLE)", 6)} AS email_rate,
       |       ${sqlR("n_phone_docs / CAST(n_docs AS DOUBLE)", 6)} AS phone_rate,
       |       ${sqlR("n_pii_docs / CAST(n_docs AS DOUBLE)", 6)} AS pii_rate
       |FROM g ORDER BY source""".stripMargin
  }

  /** Oracle: identical injection (regex mirrored), DuckDB json_keys,
    * same rollup + verdicts. */
  val dqSchemaDriftSql: String =
    s"""WITH mid AS (
       |  SELECT min(CAST(ts AS DATE)) +
       |         CAST(floor(datediff('day', min(CAST(ts AS DATE)),
       |                             max(CAST(ts AS DATE))) / 2) AS INT) AS mid
       |  FROM events),
       |inj AS (
       |  SELECT ts,
       |         CASE
       |           WHEN CAST(ts AS DATE) < mid AND event_id % 11 = 0
       |             THEN regexp_replace(props, '^\\{', '{"beta": 1,')
       |           WHEN CAST(ts AS DATE) >= mid AND event_id % 7 = 0
       |             THEN regexp_replace(props, '^\\{"k":', '{"k_v2":')
       |           ELSE props END AS props2
       |  FROM events CROSS JOIN mid),
       |keyed AS (
       |  SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
       |         unnest(json_keys(props2)) AS key
       |  FROM inj),
       |regs AS (SELECT day, key, count(*) AS n FROM keyed GROUP BY 1, 2),
       |span AS (SELECT min(day) AS d0, max(day) AS d1 FROM regs),
       |per_key AS (
       |  SELECT key, min(day) AS first_day, max(day) AS last_day,
       |         count(*) AS n_days, CAST(sum(n) AS BIGINT) AS n_events
       |  FROM regs GROUP BY 1)
       |SELECT key, first_day, last_day, n_days, n_events,
       |       CASE WHEN first_day > d0 AND last_day < d1 THEN 'transient'
       |            WHEN first_day > d0 THEN 'new'
       |            WHEN last_day < d1 THEN 'retired'
       |            ELSE 'stable' END AS status
       |FROM per_key CROSS JOIN span ORDER BY key""".stripMargin
}
