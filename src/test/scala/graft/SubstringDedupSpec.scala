package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SubstringDedup

/** #294 dedup_substring pins: interval-union span accounting, the
  * boundary-straddling catch that #24i text_passage_dedup provably
  * misses, and the k-token floor. */
class SubstringDedupSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = GraftSession.local("4")
  import spark.implicits._

  private def words(prefix: String, n: Int): Seq[String] =
    (1 to n).map(i => s"$prefix$i")

  test("boundary-straddling repeat: found here, invisible to the fixed passage grid") {
    // Doc A: 40 unique tokens. Doc B: a verbatim copy of A's tokens
    // 11..30 — a 20-token run straddling A's chunk boundary at 20|21 —
    // padded with unique tokens so B has no aligned 20-chunk of A.
    val a = words("a", 40)
    val run = a.slice(10, 30) // A tokens 11..30
    val b = words("b", 5) ++ run ++ words("c", 5)
    val docs = Seq((1L, a.mkString(" ")), (2L, b.mkString(" ")))
      .toDF("doc_id", "text")

    // The passage grid (#24i's exact chunking rule — ceil(n/20) fixed
    // 20-word chunks from offset 1, partial tail kept) shares NO chunk
    // between the docs.
    val t = split(lower(trim(col("text"))), " ")
    val nChunks = ceil(size(t).cast("double") / 20).cast("int")
    val chunks = docs.select(col("doc_id"),
        explode(transform(sequence(lit(0), nChunks - 1),
          i => concat_ws(" ", slice(t, i * 20 + 1, lit(20))))).as("chunk"))
    val shared = chunks.groupBy("chunk")
      .agg(countDistinct("doc_id").as("nd")).filter(col("nd") > 1).count()
    assert(shared == 0L, "the straddling repeat must be invisible to the chunk grid")

    // The rolling-gram index finds it: exactly one 20-token span per doc.
    val rows = SubstringDedup.dedupSubstringDf(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(rows.keySet == Set(1L, 2L))
    rows.values.foreach { r =>
      assert(r.getLong(3) == 1L, "one merged span")
      assert(r.getLong(4) == 20L, "span covers exactly the 20 repeated tokens")
      assert(r.getLong(2) == 1L, "a 20-token run has exactly one 20-gram")
    }
  }

  test("interval union merges overlapping gram covers; distinct spans stay split") {
    // Doc A = 60 unique tokens; doc B copies A's tokens 1..25 and,
    // after a 30-token unique gap, A's tokens 41..60. In A: positions
    // 1..6 duplicated (from the 25-run) and 41 duplicated (20-run) —
    // gap 41-6=35 > 19 keeps two spans; within the first span positions
    // 1..6 OVERLAP in tokens and must merge to one 25-token interval.
    val a = words("a", 60)
    val b = a.slice(0, 25) ++ words("u", 30) ++ a.slice(40, 60)
    val docs = Seq((1L, a.mkString(" ")), (2L, b.mkString(" ")))
      .toDF("doc_id", "text")
    val rows = SubstringDedup.dedupSubstringDf(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    val ra = rows(1L)
    assert(ra.getLong(3) == 2L, "two separated spans in A")
    assert(ra.getLong(4) == 45L, "25 + 20 removable tokens, overlap-merged")
    assert(ra.getLong(2) == 7L, "6 + 1 duplicated gram positions")
    // frac = 45/60
    assert(math.abs(ra.getDouble(5) - 0.75) < 1e-9)
  }

  test("k-token floor: short docs emit nothing even when identical") {
    val docs = Seq((1L, words("x", 19).mkString(" ")),
                   (2L, words("x", 19).mkString(" ")))
      .toDF("doc_id", "text")
    assert(SubstringDedup.dedupSubstringDf(docs).count() == 0L)
  }

  test("dedup_substring_pairs: the straddling run reads as one aligned run of 20 tokens") {
    val a = words("a", 40)
    val b = words("b", 5) ++ a.slice(10, 30) ++ words("c", 5)
    val docs = Seq((1L, a.mkString(" ")), (2L, b.mkString(" ")))
      .toDF("doc_id", "text")
    val rows = SubstringDedup.dedupSubstringPairsDf(docs).collect()
    assert(rows.length == 1)
    val r = rows(0)
    assert((r.getLong(0), r.getLong(1)) == (1L, 2L))
    assert(r.getLong(3) == 1L, "one maximal shared run")
    assert(r.getLong(4) == 20L, "run spans exactly the copied 20 tokens")
    assert(r.getLong(2) == 1L, "a 20-token run has one aligned 20-gram")
  }

  test("dedup_substring_pairs reconciles with the per-doc report on real data") {
    val perDoc = SubstringDedup.dedupSubstring(spark, "/root/testdata/sf0.001")
      .collect().map(_.getLong(0)).toSet
    val pairs = SubstringDedup.dedupSubstringPairs(spark, "/root/testdata/sf0.001")
      .collect()
    assert(pairs.nonEmpty)
    val pairDocs = pairs.flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    assert(pairDocs.subsetOf(perDoc),
      "every doc in a capped pair is flagged by the uncapped per-doc report")
    pairs.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getLong(4) >= 20L, "a shared run is at least one gram wide")
    }
  }

  test("corpus_span_removal_plan: keep-first bounded by mark-all; totals reconcile") {
    val sfDir = "/root/testdata/sf0.001"
    val plan = SubstringDedup.corpusSpanRemovalPlan(spark, sfDir).collect()
    assert(plan.nonEmpty)
    plan.foreach { r =>
      val (markall, keepfirst, total) = (r.getLong(3), r.getLong(4), r.getLong(2))
      assert(keepfirst <= markall, "keep-first marks a subset of positions")
      assert(markall <= total, "union cannot exceed the tokens present")
      assert(r.getDouble(5) >= 0.0 && r.getDouble(5) <= 1.0)
    }
    // mark-all reconciles with #294's per-doc report, per source
    val perDoc = SubstringDedup.dedupSubstring(spark, sfDir)
      .join(graft.sources.Tables.documents(spark, sfDir).select("doc_id", "source"), "doc_id")
      .groupBy("source")
      .agg(org.apache.spark.sql.functions.sum("dup_tokens").as("ma"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    plan.foreach(r => assert(r.getLong(3) == perDoc(r.getString(0)),
      s"mark-all mismatch for ${r.getString(0)}"))
  }

  test("corpus_span_removal_plan: canonical doc keeps its copy on the hand-built pair") {
    val a = words("a", 40)
    val b = words("b", 5) ++ a.slice(10, 30) ++ words("c", 5)
    // doc 1 is the gram's min doc -> canonical; only doc 2 removable
    val docs = Seq((1L, "s", a.mkString(" ")), (2L, "s", b.mkString(" ")))
      .toDF("doc_id", "source", "text")
    // exercise the Df path via the public entry on a temp dir is overkill;
    // replicate through the operator's building blocks instead
    val plan = {
      val dir = tempDir("graft_srp")
      docs.withColumn("lang", org.apache.spark.sql.functions.lit("en"))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      SubstringDedup.corpusSpanRemovalPlan(spark, dir).collect()
    }
    assert(plan.length == 1)
    val r = plan(0)
    assert(r.getLong(1) == 2L, "both docs flagged under mark-all")
    assert(r.getLong(3) == 40L, "mark-all: 20 tokens in each doc")
    assert(r.getLong(4) == 20L, "keep-first: only the non-canonical copy removable")
  }

  test("corpus_dedup_ladder: first-rung attribution partitions the corpus") {
    import org.apache.spark.sql.functions._
    val rows = SubstringDedup.corpusDedupLadder(spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, ex, sub, near, sem, clean) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))
      assert(ex + sub + near + sem + clean == n, "rungs + clean partition the docs")
      assert(clean >= 0)
    }
    // m_exact reconciles with #25: total exact dups = sum over groups (n_dups - 1)
    val exTotal = rows.map(_.getLong(2)).sum
    val exOp = graft.operators.TextOps.dedupExact(spark, "/root/testdata/sf0.001")
      .agg(sum(col("n_dups") - 1)).collect()(0).getLong(0)
    assert(exTotal == exOp, s"ladder m_exact $exTotal vs #25 $exOp")
  }

  test("within-doc repeats alone do not mark (cross-doc semantics)") {
    val run = words("r", 20)
    val docs = Seq(
      (1L, (run ++ words("m", 5) ++ run).mkString(" ")),
      (2L, words("z", 30).mkString(" "))).toDF("doc_id", "text")
    assert(SubstringDedup.dedupSubstringDf(docs).count() == 0L)
  }

  test("corpus_apply_removal: canonical copy survives verbatim, dupe loses exactly the span") {
    val sf = "/root/testdata/sf0.001"
    // hand-built pair: doc 1 (min id) is canonical, doc 2 repeats the run
    val run = words("r", 24)
    val head2 = words("h", 6)
    val docs = Seq(
      (1L, run.mkString(" ")),
      (2L, (head2 ++ run).mkString(" ")),
      (3L, words("q", 30).mkString(" "))).toDF("doc_id", "text")
    val cleaned = SubstringDedup.applyRemovalDf(docs, k = 20)
      .collect().map(r => r.getLong(0) -> r).toMap
    // doc 1 is canonical (min id): survives verbatim even though #294
    // marks it; doc 2 loses exactly the 24-token run; doc 3 untouched
    assert(cleaned(1L).getString(3) == run.mkString(" "))
    assert(cleaned(1L).getLong(2) == 24L)
    assert(cleaned(2L).getString(3) == head2.mkString(" "))
    assert(cleaned(2L).getLong(2) == 6L)
    assert(cleaned(3L).getLong(2) == 30L)

    // the real materialization identity on corpus data: per doc,
    // n_tokens - tokens_out == the keep-first spans' covered tokens,
    // reconciled per source against #301's accounting
    val removal = SubstringDedup.corpusApplyRemoval(spark, sf)
    val docsSrc = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"))
    val removedBySrc = removal.join(docsSrc, "doc_id")
      .groupBy(col("source"))
      .agg(sum(col("n_tokens") - col("tokens_out")).as("removed"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val plan = SubstringDedup.corpusSpanRemovalPlan(spark, sf)
      .collect().map(r => r.getString(0) ->
        r.getAs[Long]("keepfirst_dup_tokens")).toMap
    for ((src, kf) <- plan)
      assert(removedBySrc.getOrElse(src, 0L) == kf,
        s"source $src: removal materialized ${removedBySrc.get(src)} " +
          s"vs planned $kf")
    // sources absent from the plan (nothing flagged) must remove nothing
    for ((src, rm) <- removedBySrc if !plan.contains(src))
      assert(rm == 0L, s"unflagged source $src removed $rm tokens")
    // cleaned text round-trips: tokens_out == word count of text_out
    removal.collect().foreach { r =>
      val n = if (r.getString(3).isEmpty) 0
              else r.getString(3).split(" ", -1).length
      assert(r.getLong(2) == n.toLong, s"doc ${r.getLong(0)}")
    }
  }
}
