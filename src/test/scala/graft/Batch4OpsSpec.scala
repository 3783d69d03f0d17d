package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TextOps2
import graft.sources.{Partitioned, Staging, Tables}

/** Invariants + plan pins for the round-5 batch-4 operators (#99-#101):
  * partition-pruned scans, the foreachBatch upsert sink (streaming side
  * in StreamingSpec), and edit-distance fuzzy matching. */
class Batch4OpsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.local("4")

  private val sf = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  // ------------------------------------------- events_partitioned_prune

  test("partitioned prune: answer matches the un-partitioned scan") {
    val pruned = Partitioned.eventsPartitionedPrune(spark, sf).collect().toSeq
    val direct = Tables.events(spark, sf)
      .filter(to_date(col("ts")).between("2024-01-08", "2024-01-14"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), Parity.dsum(col("value"), 4).as("sum_value"))
      .orderBy(col("event_type")).collect().toSeq
    assert(pruned == direct)
    assert(pruned.nonEmpty)
  }

  test("partitioned prune: date predicate is a PartitionFilter; 7 of ~30 day dirs survive") {
    val scan = Partitioned.prunedScan(spark, sf, "2024-01-08", "2024-01-14")
    val p = plan(scan)
    assert(p.contains("PartitionFilters: ["), s"no partition filters:\n$p")
    assert(p.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)].*", "$1")
      .contains("p_date"), s"p_date predicate not pushed to partition pruning:\n$p")
    // pruning is real: the filtered scan reads only the 7 matching
    // day directories, the full scan reads ~30
    val selected = scan.select(input_file_name()).distinct()
      .collect().map(_.getString(0)).toSet
    assert(selected.forall { f =>
      val d = f.replaceAll(".*p_date=", "").replaceAll("/.*", "")
      d >= "2024-01-08" && d <= "2024-01-14"
    }, s"file outside pruned range read: $selected")
    val allDays = spark.read.parquet(Partitioned.eventsPartitioned(spark, sf))
      .select("p_date").distinct().count()
    assert(allDays > 7 && selected.map(_.replaceAll(".*p_date=", "")
      .replaceAll("/.*", "")).size == 7)
  }

  // ------------------------------------------- events_minmax_pushdown

  test("minmax pushdown: aggregates answered from parquet footers, not data pages") {
    val df = Partitioned.eventsMinmaxPushdown(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PushedAggregation: [MIN(event_id), MAX(event_id), COUNT(*)]"),
      s"aggregate not pushed to the scan:\n$p")
    val r = df.collect()(0)
    val exact = Tables.events(spark, sf)
      .agg(min(col("event_id")), max(col("event_id")), count(lit(1))).collect()(0)
    assert(r == exact, "footer-stat aggregates must be exact")
    // the scoped confs leaked nothing: the session is back on v1 parquet
    assert(spark.conf.get("spark.sql.sources.useV1SourceList").contains("parquet"))
  }

  // ---------------------------------------- events_backfill_overwrite

  test("backfill: only the corrected day partitions rewrite; re-running is idempotent") {
    val modeKey = "spark.sql.sources.partitionOverwriteMode"
    val mode0 = spark.conf.getAll.get(modeKey)
    val first = Partitioned.eventsBackfillOverwrite(spark, sf).collect().toSeq
    val base = new java.io.File(Staging.pathOf("backfill", sf))
    def mtimes() = base.listFiles().filter(_.getName.startsWith("p_date="))
      .map(d => d.getName -> d.listFiles().map(f => f.getName -> f.lastModified()).toMap)
      .toMap
    val before = mtimes()
    val second = Partitioned.eventsBackfillOverwrite(spark, sf).collect().toSeq
    assert(second == first, "backfill must be idempotent (derives from the source of truth)")
    val after = mtimes()
    val untouched = before.keys.filterNot(d =>
      d >= "p_date=2024-01-10" && d <= "p_date=2024-01-12")
    untouched.foreach { d =>
      assert(before(d) == after(d), s"untouched partition $d was rewritten")
    }
    Seq("2024-01-10", "2024-01-11", "2024-01-12").foreach { d =>
      assert(before(s"p_date=$d") != after(s"p_date=$d"),
        s"backfilled partition $d was not rewritten")
    }
    assert(spark.conf.getAll.get(modeKey) == mode0,
      "the backfill changed the session's partitionOverwriteMode")
  }

  // ---------------------------------------------------- events_welch_t

  test("welch t: statistics match a driver-side recomputation per pair") {
    import graft.operators.Analytics3
    val out = Analytics3.eventsWelchT(spark, sf).collect()
    assert(out.nonEmpty)
    val groups = Tables.events(spark, sf).select("event_type", "value").collect()
      .groupBy(_.getString(0)).map { case (t, rs) => t -> rs.map(_.getDouble(1)) }
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    out.foreach { row =>
      val (a, b) = (row.getString(0), row.getString(1))
      val (xa, xb) = (groups(a), groups(b))
      def mv(x: Array[Double]) = {
        val m = x.sum / x.length
        (m, x.map(v => (v - m) * (v - m)).sum / (x.length - 1))
      }
      val ((ma, va), (mb, vb)) = (mv(xa), mv(xb))
      val (sea, seb) = (va / xa.length, vb / xb.length)
      val t = (ma - mb) / math.sqrt(sea + seb)
      assert(math.abs(row.getDouble(4) - r6(t)) < 1e-4, s"t mismatch for ($a,$b)")
      val df = (sea + seb) * (sea + seb) /
        (sea * sea / (xa.length - 1) + seb * seb / (xb.length - 1))
      assert(math.abs(row.getDouble(5) - r6(df)) < 1e-2, s"df mismatch for ($a,$b)")
      assert(df >= math.min(xa.length, xb.length) - 1 - 1e-6 &&
             df <= xa.length + xb.length - 2 + 1e-6)
    }
  }

  // --------------------------------------------------- customer_pareto

  test("pareto: deciles partition all customers; concentration accumulates to 1; no ntile window") {
    import graft.operators.Analytics3
    val out = Analytics3.customerPareto(spark, sf).collect()
    val nCust = Tables.orders(spark, sf).select("o_custkey").distinct().count()
    assert(out.map(_.getLong(1)).sum == nCust)
    assert(out.map(_.getInt(0)).toSet.subsetOf((1 to 10).toSet))
    // ordered decile-10 first; cumulative share is monotone to ~1
    val cums = out.map(_.getDouble(4))
    assert(cums.zip(cums.tail).forall { case (x, y) => x <= y + 1e-9 })
    assert(math.abs(cums.last - 1.0) < 1e-3)
    // top decile concentrates more than its population share
    assert(out.head.getDouble(3) > out.head.getLong(1).toDouble / nCust)
    assert(!plan(Analytics3.customerPareto(spark, sf))
      .replaceAll("(?s)\\(\\d+\\) Window.*?rowsBetween.*?decile.*", "")
      .contains("ntile"))
  }

  // ------------------------------------------------------- scd2_as_of

  test("scd2 as-of: returns each user's attribute at the cutoff, independently recomputed") {
    import graft.operators.Curation
    val asOf = "2024-01-15 00:00:00"
    val out = Curation.scd2AsOf(spark, sf, asOf).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    val wLast = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts").desc, col("event_id").desc)
    val direct = Tables.events(spark, sf)
      .filter(col("ts") <= lit(asOf).cast("timestamp"))
      .withColumn("rn", row_number().over(wLast))
      .filter(col("rn") === 1)
      .select("user_id", "event_type").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == direct,
      "as-of lookup must equal the last event at/before the cutoff per user")
  }

  // ------------------------------------------------------ doc_fuzzy_match

  test("fuzzy match: distances equal a driver-side Levenshtein; pairs ordered and bounded") {
    val out = TextOps2.docFuzzyMatch(spark, sf).collect()
    assert(out.nonEmpty)
    val texts = Tables.documents(spark, sf)
      .select(col("doc_id"), lower(trim(col("text"))).as("t")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    out.foreach { r =>
      val (a, b, dist) = (r.getLong(0), r.getLong(1), r.getInt(2))
      assert(a < b)
      assert(dist <= 12)
      assert(dist == lev(texts(a).take(96), texts(b).take(96)),
        s"distance mismatch for ($a,$b)")
    }
  }

  // --------------------------------------------------- emb_centroid_drift

  test("centroid drift: zero between identical cohorts; detects an injected shift") {
    import spark.implicits._
    import graft.operators.Similarity2
    // identical halves → drift exactly 0 (vec 2i and 2i+1 share a
    // vector), driven through the REAL operator core
    val twin = (0L until 40L).map(i => (i, Seq.fill(8)((i / 2 % 7).toFloat - 3f), (i / 2 % 3).toInt))
      .toDF("vec_id", "embedding", "label")
    val drifts0 = Similarity2.embCentroidDriftDf(twin).collect()
    assert(drifts0.nonEmpty)
    drifts0.foreach(r => assert(r.getDouble(3) == 0.0,
      s"identical cohorts must show zero centroid drift: $r"))
    // an injected shift in one cohort is detected
    val shifted = twin.withColumn("embedding",
      when(col("vec_id") % 2 === 1 && col("label") === 0,
           transform(col("embedding"), x => x + 2f)).otherwise(col("embedding")))
    val driftMap = Similarity2.embCentroidDriftDf(shifted).collect()
      .map(r => r.getInt(0) -> r.getDouble(3)).toMap
    assert(driftMap(0) > 1.0 && driftMap(1) == 0.0 && driftMap(2) == 0.0)
    // the real operator output: sane shape, non-negative drift
    val out = Similarity2.embCentroidDrift(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getDouble(3) >= 0)
      assert(r.getLong(1) > 0 && r.getLong(2) > 0)
    }
  }

  // -------------------------------------------------------- doc_oov_rate

  test("oov rate: matches a driver-side recount against the top-k vocabulary") {
    import graft.operators.TextOps2
    val out = TextOps2.docOovRate(spark, sf).collect()
    assert(out.nonEmpty)
    val toks = Tables.documents(spark, sf).select("source", "text").collect()
      .flatMap(r => r.getString(1).trim.toLowerCase.split(" ").map(r.getString(0) -> _))
    val vocab = toks.groupBy(_._2).view.mapValues(_.length).toSeq
      .sortBy { case (t, n) => (-n, t) }.take(1000).map(_._1).toSet
    val bySource = toks.groupBy(_._1)
    out.foreach { row =>
      val ts = bySource(row.getString(0)).map(_._2)
      val oov = ts.count(!vocab.contains(_))
      assert(row.getLong(1) == ts.length && row.getLong(2) == oov,
        s"source ${row.getString(0)}: expected ($oov/${ts.length})")
      val rate = math.floor(oov.toDouble / ts.length * 1e6 + 0.5) / 1e6
      assert(math.abs(row.getDouble(3) - rate) < 1e-9)
    }
  }

  // ------------------------------------------------------ bpe_pair_counts

  test("bpe pair counts: match a driver-side recount; descending with deterministic ties") {
    import graft.operators.TextOps2
    val out = TextOps2.bpePairCounts(spark, sf).collect()
    assert(out.length > 0 && out.length <= 20)
    val ns = out.map(_.getLong(2))
    assert(ns.zip(ns.tail).forall { case (a, b) => a >= b })
    val counts = scala.collection.mutable.Map.empty[(String, String), Long]
    Tables.documents(spark, sf).select("text").collect().foreach { r =>
      r.getString(0).trim.toLowerCase.split(" ").filter(_.length >= 2).foreach { w =>
        w.sliding(2).foreach { p =>
          counts((p.substring(0, 1), p.substring(1, 2))) =
            counts.getOrElse((p.substring(0, 1), p.substring(1, 2)), 0L) + 1
        }
      }
    }
    out.foreach { r =>
      assert(r.getLong(2) == counts((r.getString(0), r.getString(1))),
        s"pair (${r.getString(0)},${r.getString(1)}) count mismatch")
    }
  }

  // ------------------------------------------------------ clim_incremental

  test("incremental climatology: merged partials are bit-identical to the direct build") {
    import graft.operators.Mhw
    val direct = Mhw.climatologyBpRaw(spark, sf)
      .orderBy("user_id", "doy").collect().toSeq
    val inc = Mhw.climIncremental(spark, sf)
      .orderBy("user_id", "doy").collect().toSeq
    assert(inc == direct, "decimal partial merge must reproduce the single-pass climatology exactly")
    assert(inc.nonEmpty)
  }

  // ----------------------------------------------------- orders_cohort_ltv

  test("cohort ltv: triangle accounts for every order; month zero holds the whole cohort") {
    import graft.operators.Analytics3
    val out = Analytics3.ordersCohortLtv(spark, sf).collect()
    assert(out.nonEmpty)
    assert(out.forall(_.getInt(1) >= 0), "months-since-acquisition cannot be negative")
    val o = Tables.orders(spark, sf)
    assert(out.map(_.getLong(3)).sum == o.count(), "every order lands in one cell")
    // month_diff = 0 active count per cohort == customers acquired that month
    val m0 = out.filter(_.getInt(1) == 0)
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    val acquired = o.groupBy(col("o_custkey"))
      .agg(min(trunc(col("o_orderdate"), "month")).cast("string").as("m"))
      .groupBy("m").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m0 == acquired, "month-0 actives must equal the acquisition counts")
  }

  // --------------------------------------------------- mm_phash_near_dup

  test("phash near-dup: is_dup pairs are exactly the identical-payload groups") {
    import graft.multimodal.Multimodal
    val out = Multimodal.mmPhashNearDup(spark, sf).collect()
    assert(out.nonEmpty, "candidate report should not be empty")
    // verification distance separates: dup pairs have distance 0 (hash
    // features of identical payloads), others decorrelate far above τ
    val dupPairs = out.filter(_.getBoolean(4)).map(r => (r.getLong(0), r.getLong(1))).toSet
    val expectedPairs = Tables.documents(spark, sf)
      .select(col("doc_id"), md5(col("text").cast("binary")).as("h")).collect()
      .groupBy(_.getString(1)).values
      .flatMap { g =>
        val ids = g.map(_.getLong(0)).sorted
        for (i <- ids.indices; j <- i + 1 until ids.length) yield (ids(i), ids(j))
      }.toSet
    assert(dupPairs == expectedPairs,
      "is_dup must fire exactly on identical-payload pairs (no bucket-collision false positives)")
    out.filterNot(_.getBoolean(4)).foreach(r => assert(r.getDouble(3) > 0.05))
  }

  // ---------------------------------------------- events_format_roundtrip

  test("format roundtrip: ORC, JSON and CSV agree row-for-row on the rollup") {
    import graft.sources.Formats
    val out = Formats.eventsFormatRoundtrip(spark, sf).collect()
    assert(out.nonEmpty)
    val byFmt = out.groupBy(_.getString(0))
      .map { case (f, rs) => f -> rs.map(_.toSeq.drop(1)).toSet }
    assert(byFmt.keySet == Set("orc", "json", "csv"))
    assert(byFmt("orc") == byFmt("json") && byFmt("orc") == byFmt("csv"),
      "the storage format must be transparent to the answer")
  }

  test("fuzzy match: hot-block cap drops a saturated block instead of exploding it") {
    import spark.implicits._
    // 100 docs sharing prefix AND suffix (one hot block) + 2 true near-dups
    val hot = (1L to 100L).map(i => (i, "en", "common prefix here " + i + " tail common suffix"))
    val dup = Seq((200L, "en", "a genuinely unique document body with a typo"),
                  (201L, "en", "a genuinely unique document body with a typa"))
    val df = (hot ++ dup).toDF("doc_id", "lang", "text")
    val out = TextOps2.docFuzzyMatchDf(df, maxDist = 12, maxBlock = 64).collect()
    // the saturated block contributes nothing; the true pair survives
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((200L, 201L)))
  }
}
