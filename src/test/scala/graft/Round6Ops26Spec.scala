package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Round6Ops26

/** Invariants + reconciliations for round-6 batch 43 (#270-#271). */
class Round6Ops26Spec extends AnyFunSuite {

  lazy val spark = GraftSession.local("4")

  private val sf = "/root/testdata/sf0.001"

  private def dec(xs: Seq[Double]): Double =
    xs.map(BigDecimal(_).setScale(10, BigDecimal.RoundingMode.HALF_UP))
      .sum.toDouble

  // ------------------------------------------------ dedup_method_agreement

  test("method agreement: counts reconcile with the source operators") {
    val row = Round6Ops26.dedupMethodAgreement(spark, sf).collect().head
    val mh = graft.operators.LshDedup.dedupMinhash(spark, sf)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val co = graft.operators.Similarity.embDedupCosine(spark, sf)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(row.getLong(0) == mh.size)
    assert(row.getLong(1) == co.size)
    assert(row.getLong(2) == (mh & co).size)
    assert(row.getLong(3) == (mh | co).size)
    assert(row.getDouble(4) ==
      Parity.r6d((mh & co).size.toDouble / (mh | co).size))
  }

  // ----------------------------------------------------------- events_icc

  test("icc: driver replay of the one-way random-effects decomposition") {
    val row = Round6Ops26.eventsIcc(spark, sf).collect().head
    val byUser = graft.sources.Tables.events(spark, sf)
      .select("user_id", "value").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).groupBy(_._1)
      .map { case (u, g) => (u, g.map(_._2).toSeq) }
    val k = byUser.size
    val nTot = byUser.values.map(_.size).sum
    val sTot = dec(byUser.values.toSeq.map(vs => dec(vs)))
    val nn = byUser.values.map(v => v.size.toLong * v.size).sum
    val ssw = Parity.r6d(dec(byUser.values.toSeq.map { vs =>
      Parity.r6d(dec(vs.map(x => x * x)) - dec(vs) * dec(vs) / vs.size)
    }))
    val s2n = dec(byUser.values.toSeq.map(vs =>
      Parity.r6d(dec(vs) * dec(vs) / vs.size)))
    val ssb = Parity.r6d(s2n - sTot * sTot / nTot)
    val n0 = Parity.r6d((nTot - nn.toDouble / nTot) / (k - 1).toDouble)
    val msb = Parity.r6d(ssb / (k - 1))
    val msw = Parity.r6d(ssw / (nTot - k))
    assert(row.getLong(0) == k && row.getLong(1) == nTot)
    assert(row.getDouble(2) == n0)
    assert(row.getDouble(3) == msb && row.getDouble(4) == msw)
    assert(row.getDouble(5) ==
      Parity.r6d((msb - msw) / (msb + (n0 - 1) * msw)))
  }

  test("icc: user-determined values score near 1, shared noise near 0") {
    import spark.implicits._
    def h(u: Int, i: Int): Double =
      (Integer.parseInt(java.security.MessageDigest.getInstance("MD5")
        .digest(s"$u:$i".getBytes).take(2).map("%02x".format(_)).mkString, 16)
        % 100) / 100.0
    // clustered: each user's values hug its own level
    val clustered = (0 until 30).flatMap(u =>
      (0 until 20).map(i => (u.toLong, u * 50.0 + h(u, i))))
    val c = Round6Ops26.eventsIccDf(
        clustered.toDF("user_id", "value")).collect().head
    assert(c.getDouble(5) > 0.95, s"clustered icc ${c.getDouble(5)}")
    // pooled: everyone draws from the same distribution
    val pooled = (0 until 30).flatMap(u =>
      (0 until 20).map(i => (u.toLong, h(u * 31 + i, i) * 100)))
    val p = Round6Ops26.eventsIccDf(
        pooled.toDF("user_id", "value")).collect().head
    assert(math.abs(p.getDouble(5)) < 0.1, s"pooled icc ${p.getDouble(5)}")
  }
}
