package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Round6Ops9

/** Invariants + reconciliations for round-6 batch 26 (#208-#211). */
class Round6Ops9Spec extends AnyFunSuite {

  lazy val spark = GraftSession.local("4")

  private val sf = "/root/testdata/sf0.001"

  private def dec(xs: Seq[Double]): Double =
    xs.map(BigDecimal(_).setScale(10, BigDecimal.RoundingMode.HALF_UP))
      .sum.toDouble

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Replica of lowerTokens: split on single literal spaces, keeping
    * empties like Spark's regex split with limit -1. */
  private def lowerToks(text: String): Array[String] =
    text.trim.toLowerCase.split(" ", -1)

  // ------------------------------------------------------ text_watermark

  test("watermark: driver replay of green counts and z on the real corpus") {
    val rows = Round6Ops9.textWatermark(spark, sf).collect()
    val docs = graft.sources.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(rows.length == docs.size)
    var flagged = 0
    rows.foreach { row =>
      val toks = lowerToks(docs(row.getLong(0)))
      val hs = toks.sliding(2).filter(_.length == 2)
        .map(p => md5hex(p(0) + " " + p(1))).toSeq
      val green = hs.count(_.last < '8')
      assert(row.getInt(1) == hs.length)
      assert(row.getInt(2) == green)
      if (hs.nonEmpty) {
        assert(row.getDouble(3) == Parity.r6d(green.toDouble / hs.length))
        assert(row.getDouble(4) ==
          Parity.r6d((2.0 * green - hs.length) / math.sqrt(hs.length.toDouble)))
      }
      if (row.getBoolean(5)) flagged += 1
    }
    // human/synthetic text sits at the null: essentially nothing flags
    assert(flagged <= rows.length / 100)
  }

  test("watermark: greedily green-sampled text is flagged; plain text is not") {
    import spark.implicits._
    val vocab = (0 until 40).map(i => s"w$i")
    // generator's sampler: only emit a token whose bigram hash is green
    val sb = collection.mutable.ArrayBuffer("seed")
    while (sb.length < 60) {
      val prev = sb.last
      val next = vocab.find(w => md5hex(prev + " " + w).last < '8')
      sb += next.getOrElse(sys.error("vocab exhausted"))
    }
    val wm = sb.mkString(" ")
    val plain = (0 until 60).map(i => s"tok${i * 7 % 13}").mkString(" ")
    val out = Round6Ops9.textWatermarkDf(
        Seq((1L, wm), (2L, plain), (3L, "solo")).toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getInt(2) == out(1L).getInt(1))   // all green
    assert(out(1L).getDouble(4) > Round6Ops9.WmZThreshold)
    assert(out(1L).getBoolean(5))
    assert(!out(2L).getBoolean(5))
    assert(out(3L).getInt(1) == 0 && out(3L).getDouble(4) == 0.0)
  }

  // ----------------------------------------------- corpus_source_overlap

  test("source overlap: below-k regime makes estimates exact; injected overlap measured") {
    import spark.implicits._
    // source A: phrases over one vocabulary; B shares A's text for half
    // its docs; C is disjoint
    def doc(seed: Int, v: String) =
      (0 until 40).map(i => s"$v${(seed * 31 + i * 7) % 17}").mkString(" ")
    val docs =
      (0 until 6).map(i => ("A", doc(i, "x"))) ++
      (0 until 3).map(i => ("B", doc(i, "x"))) ++   // copies of A's first 3
      (0 until 3).map(i => ("B", doc(i, "y"))) ++
      (0 until 4).map(i => ("C", doc(i, "z")))
    val out = Round6Ops9.corpusSourceOverlapDf(
        docs.toDF("source", "text")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    assert(out.size == 3)
    val ab = out(("A", "B"))
    // union below k=256 → the KMV sample IS the union: estimates exact
    assert(ab.getDouble(4) ==
      Parity.r6d(ab.getLong(7).toDouble / ab.getLong(8)))
    assert(ab.getDouble(5) == ab.getLong(8).toDouble)   // union_est exact
    assert(ab.getLong(7) > 0, "A and B share injected shingles")
    val ac = out(("A", "C"))
    assert(ac.getLong(7) == 0 && ac.getDouble(4) == 0.0)
    val bc = out(("B", "C"))
    assert(bc.getLong(7) == 0)
  }

  test("source overlap: exact intersections replayed from shingle sets") {
    val rows = Round6Ops9.corpusSourceOverlap(spark, sf).collect()
    val docs = graft.sources.Tables.documents(spark, sf)
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val sets = docs.groupBy(_._1).map { case (src, ds) =>
      src -> ds.flatMap { case (_, t) =>
        lowerToks(t).sliding(3).filter(_.length == 3).map(_.mkString(" "))
      }.map(s => md5hex(s).take(15)).toSet
    }
    assert(rows.length == sets.size * (sets.size - 1) / 2)
    rows.foreach { r =>
      val (a, b) = (r.getString(0), r.getString(1))
      val inter = (sets(a) & sets(b)).size
      assert(r.getLong(7) == inter, s"inter($a,$b)")
      assert(r.getLong(8) == (sets(a) | sets(b)).size)
      assert(r.getLong(2) == sets(a).size && r.getLong(3) == sets(b).size)
    }
  }

  // ------------------------------------------------- emb_effective_rank

  test("effective rank: driver replay of the full moment chain") {
    val row = Round6Ops9.embEffectiveRank(spark, sf).collect().head
    val d = Round6Ops9.ErDims
    val vecs = graft.sources.Tables.embeddings(spark, sf)
      .select("embedding").collect()
      .map(_.getSeq[Float](0).take(d).map(_.toDouble).toArray)
    val n = vecs.length
    val sx = Array.tabulate(d)(i => dec(vecs.toSeq.map(_(i))))
    def cij(i: Int, j: Int) = Parity.r6d(
      dec(vecs.toSeq.map(v => v(i) * v(j))) / n - (sx(i) / n) * (sx(j) / n))
    val trC = Parity.r6d(dec((0 until d).map(i => cij(i, i))))
    val tr2 = Parity.r6d(dec(
      (for { i <- 0 until d; j <- i until d } yield
        Parity.r6d((if (i == j) 1.0 else 2.0) * cij(i, j) * cij(i, j)))))
    assert(row.getLong(0) == n)
    assert(row.getLong(1) == d)
    assert(row.getDouble(2) == trC)
    assert(row.getDouble(3) == tr2)
    assert(row.getDouble(4) == Parity.r6d(trC * trC / tr2))
    assert(row.getDouble(5) == Parity.r6d(row.getDouble(4) / d))
    assert(row.getDouble(4) >= 1.0 - 1e-6 && row.getDouble(4) <= d + 1e-6)
  }

  test("effective rank: isotropic cloud uses every axis; rank-1 cloud uses one") {
    import spark.implicits._
    val d = Round6Ops9.ErDims
    // ±e_i for every axis: zero mean, perfectly isotropic covariance
    val iso = (0 until d).flatMap { i =>
      Seq((2L * i, Array.tabulate(d)(j => if (j == i) 1f else 0f)),
          (2L * i + 1, Array.tabulate(d)(j => if (j == i) -1f else 0f)))
    }
    val rIso = Round6Ops9.embEffectiveRankDf(iso.toDF("vec_id", "embedding"))
      .collect().head
    assert(math.abs(rIso.getDouble(4) - d) < 0.01, s"iso PR ${rIso.getDouble(4)}")
    // multiples of one direction: covariance is rank 1
    val u = Array.tabulate(d)(j => (j + 1).toFloat / d)
    val r1 = (0 until 30).map(i =>
      (i.toLong, u.map(x => x * (i - 15) / 10f)))
    val rOne = Round6Ops9.embEffectiveRankDf(r1.toDF("vec_id", "embedding"))
      .collect().head
    assert(math.abs(rOne.getDouble(4) - 1.0) < 0.01, s"rank1 PR ${rOne.getDouble(4)}")
  }

  // --------------------------------------------------------- doc_ttr

  test("ttr: driver replay; degenerate docs hit the documented floors") {
    val rows = Round6Ops9.docTtr(spark, sf).collect()
    val docs = graft.sources.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    rows.foreach { row =>
      val toks = lowerToks(docs(row.getLong(0)))
      val types = toks.distinct.length
      assert(row.getInt(1) == toks.length)
      assert(row.getInt(2) == types)
      assert(row.getDouble(3) == Parity.r6d(types.toDouble / toks.length))
      assert(row.getDouble(4) ==
        Parity.r6d(types / math.sqrt(toks.length.toDouble)))
      assert(row.getDouble(5) == Parity.r6d(
        Parity.r6d(math.log(types.toDouble)) /
        Parity.r6d(math.log(toks.length.toDouble))))
      assert(row.getDouble(3) > 0.0 && row.getDouble(3) <= 1.0)
    }
    import spark.implicits._
    val out = Round6Ops9.docTtrDf(
        Seq((1L, "same same same same"), (2L, "solo")).toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getInt(2) == 1 && out(1L).getDouble(5) == 0.0)
    assert(out(2L).getInt(1) == 1 && out(2L).getDouble(5) == 0.0)
  }
}
