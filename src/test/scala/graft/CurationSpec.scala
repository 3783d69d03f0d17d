package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Curation

/** Invariants for the curation-selection operators (#77-#79). */
class CurationSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.local("4")
  private val sf = "/root/testdata/sf0.001"

  /** Row timestamps collect as java.sql.Timestamp (TIMESTAMP) or
    * LocalDateTime (TIMESTAMP_NTZ) depending on the testdata's parquet
    * encoding — compare on epoch micros, not a concrete class. */
  private def tsUs(v: Any): Long = v match {
    case t: java.sql.Timestamp =>
      t.toInstant.getEpochSecond * 1000000L + t.toInstant.getNano / 1000
    case d: java.time.LocalDateTime =>
      d.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + d.getNano / 1000
    case i: java.time.Instant =>
      i.getEpochSecond * 1000000L + i.getNano / 1000
    case other => fail(s"unexpected timestamp class: ${other.getClass}")
  }

  test("token budget: selection fits, is threshold-maximal, and dominates the rejects") {
    val budget = 5000L
    val sel = Curation.corpusTokenBudget(spark, sf, budget).collect()
    val selIds = sel.map(_.getAs[Long]("doc_id")).toSet
    val total = sel.map(_.getAs[Long]("n_tok")).sum
    assert(total <= budget, s"selected $total tokens > budget $budget")
    // threshold semantics: every selected doc's quality bucket is >= every
    // unselected doc's bucket, and adding the next bucket would overflow
    val all = Curation.corpusTokenBudget(spark, sf, Long.MaxValue).collect()
    assert(all.length > sel.length, "budget did not bind at this SF")
    def qb(r: org.apache.spark.sql.Row) = math.floor(r.getAs[Double]("quality") * 100).toLong
    val rejected = all.filterNot(r => selIds.contains(r.getAs[Long]("doc_id")))
    val minSel = sel.map(qb).min
    assert(rejected.forall(qb(_) < minSel))
    val nextBucket = rejected.map(qb).max
    val nextTok = rejected.filter(qb(_) == nextBucket).map(_.getAs[Long]("n_tok")).sum
    assert(total + nextTok > budget, "a whole extra bucket would still fit")
  }

  test("weighted sample: kept counts bounded and deterministic; small domains kept whole") {
    val a = Curation.corpusWeightedSample(spark, sf).collect()
    val b = Curation.corpusWeightedSample(spark, sf).collect()
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
    a.foreach { r =>
      assert(r.getAs[Long]("n_kept") >= 0)
      assert(r.getAs[Long]("n_kept") <= r.getAs[Long]("n_docs"))
    }
    // rate caps at 1: groups whose upweighted rate saturates keep everything
    val sat = a.filter(r => r.getAs[Double]("n_expected") == r.getAs[Long]("n_docs").toDouble)
    sat.foreach(r => assert(r.getAs[Long]("n_kept") == r.getAs[Long]("n_docs")))
  }

  test("scd2: segments partition each user's events; one current; adjacent types differ") {
    val segs = Curation.eventsScd2(spark, sf).collect()
      .groupBy(_.getAs[Long]("user_id"))
    val evCounts = graft.sources.Tables.events(spark, sf)
      .groupBy("user_id").count().collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("count")).toMap
    segs.foreach { case (uid, rows) =>
      val sorted = rows.sortBy(_.getAs[Long]("ver"))
      assert(sorted.map(_.getAs[Long]("n_events")).sum == evCounts(uid))
      assert(rows.count(_.getAs[Boolean]("is_current")) == 1)
      assert(sorted.last.getAs[Boolean]("is_current"))
      sorted.sliding(2).foreach {
        case Array(p, n) =>
          assert(p.getAs[String]("event_type") != n.getAs[String]("event_type"))
          assert(tsUs(p.getAs[Any]("valid_to")) <= tsUs(n.getAs[Any]("valid_from")))
        case _ => ()
      }
    }
  }
}
