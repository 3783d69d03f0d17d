package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{BpeEncode, Round10Ops, TextOps2}

/** Round-10 operators (#356-#357): CDC chunk dedup and the BPE
  * vocabulary artifact. */
class Round10OpsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.local("4")
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def words(prefix: String, n: Int): Seq[String] =
    (1 to n).map(i => s"$prefix$i")

  test("cdc chunks: widths partition every doc; insertion re-aligns shared chunks") {
    // doc 2 = a 10-token insertion + doc 1's 600-token body: every
    // chunk boundary inside the body is content-defined, so the shared
    // chunks re-align despite the offset — the property a fixed grid
    // (#24i) lacks by construction
    val body = words("r", 600)
    val docs = Seq(
      (1L, "web", body.mkString(" ")),
      (2L, "web", (words("ins", 10) ++ body).mkString(" ")),
      (3L, "api", words("q", 200).mkString(" "))
    ).toDF("doc_id", "source", "text")
    val out = Round10Ops.cdcChunksDf(docs).collect()
      .map(r => r.getString(0) -> r).toMap
    // chunks partition the corpus: per-source token sums are exact
    assert(out("web").getLong(2) == 600L + 610L)
    assert(out("api").getLong(2) == 200L)
    // the body re-aligns: a large share of the 600 shared tokens sits
    // in duplicated chunks (only the chunks touching the insertion and
    // the pre-first-cut prefix can differ)
    val dupTok = out("web").getAs[Long]("dup_tokens")
    assert(dupTok >= 600L, s"expected most of the shared body deduped, got $dupTok")
    assert(out("api").getAs[Long]("n_dup_chunks") == 0L)
    // mean width is the rollup identity
    val w = out("web")
    assert(w.getAs[Double]("mean_chunk_tokens") ==
      math.floor(w.getLong(2).toDouble / w.getLong(1) * 1e6 + 0.5) / 1e6)
  }

  test("cdc chunks: single unique doc has zero dup mass; short doc is one chunk") {
    val docs = Seq((1L, "s", words("only", 30).mkString(" ")),
                   (2L, "s", "tiny doc here")).toDF("doc_id", "source", "text")
    val out = Round10Ops.cdcChunksDf(docs).collect()
    assert(out.length == 1)
    assert(out(0).getAs[Long]("dup_tokens") == 0L)
    assert(out(0).getAs[Long]("n_tokens") == 33L)
  }

  test("cdc removal: keep-first drops non-canonical dup chunks; tokens_out " +
       "reconciles with #356's dup accounting") {
    val body = words("r", 600)
    val docs = Seq(
      (1L, "web", body.mkString(" ")),
      (2L, "web", (words("ins", 10) ++ body).mkString(" ")),
      (3L, "api", words("q", 200).mkString(" "))
    ).toDF("doc_id", "source", "text")
    val out = Round10Ops.applyCdcRemovalDf(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    // doc 1 is canonical for every shared chunk → fully intact
    assert(out(1L).getAs[Long]("tokens_out") == 600L)
    assert(out(1L).getAs[String]("text_out") == body.mkString(" "))
    // doc 3 shares nothing → intact
    assert(out(3L).getAs[Long]("tokens_out") == 200L)
    // doc 2 loses exactly the chunks duplicated against doc 1
    val removed2 = out(2L).getAs[Long]("n_tokens") - out(2L).getAs[Long]("tokens_out")
    assert(removed2 >= 500L && removed2 < 610L, s"removed=$removed2")
    // surviving text is a subsequence boundary check: it starts with the
    // insertion (never duplicated)
    assert(out(2L).getAs[String]("text_out").startsWith("ins1 "))
    // 3-way reconciliation with #356: removed mass = dup_tokens −
    // canon-kept mass, computed per source from the SHARED chunk table
    val chunks = Round10Ops.cdcChunkTable(docs).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(3), r.getString(4)))
    val canon = chunks.groupBy(_._4).filter(_._2.map(_._1).distinct.size >= 2)
      .map { case (ch, occ) => ch -> occ.map(_._1).min }
    val keptDup = chunks.filter(c => canon.get(c._4).contains(c._1))
      .groupBy(_._2).view.mapValues(_.map(_._3.toLong).sum).toMap
    val dupTok = Round10Ops.cdcChunksDf(docs).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("dup_tokens")).toMap
    val removedBySrc = docs.collect().map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._2).view.mapValues(_.map { case (id, _) =>
        out(id).getAs[Long]("n_tokens") - out(id).getAs[Long]("tokens_out")
      }.sum).toMap
    for (src <- Seq("web", "api"))
      assert(removedBySrc(src) ==
               dupTok(src) - keptDup.getOrElse(src, 0L),
             s"$src: removed ${removedBySrc(src)} vs dup ${dupTok(src)} " +
             s"− kept ${keptDup.getOrElse(src, 0L)}")
  }

  test("compression curve: token mass non-increasing in merges, chars invariant") {
    val rows = Round10Ops.bpeCompressionCurve(spark, sf).collect()
    assert(rows.map(_.getInt(0)).toSeq == Round10Ops.CurveGrid)
    val toks = rows.map(_.getLong(3))
    assert(toks.sliding(2).forall { case Array(a, b) => b <= a },
      s"more merges must never add tokens: ${toks.toSeq}")
    assert(toks.last < toks.head, "64 merges must compress at sf0.001")
    // char mass and word occurrences are merge-invariant identities
    assert(rows.map(_.getLong(1)).distinct.length == 1)
    assert(rows.map(_.getLong(2)).distinct.length == 1)
    // at 0 merges every char is a token
    assert(rows.head.getLong(3) == rows.head.getLong(2))
    // chars_per_token rises monotonically with merges
    val cpt = rows.map(_.getDouble(5))
    assert(cpt.sliding(2).forall { case Array(a, b) => b >= a - 1e-9 })
  }

  test("permutation entropy: monotone series reads 0, alternating reads ln2/ln6") {
    val d0 = java.sql.Date.valueOf("2024-01-01")
    def day(n: Int) = new java.sql.Date(d0.getTime + n * 86400000L)
    val dl = (
      (0 until 30).map(i => (1L, day(i), i.toDouble)) ++          // monotone
      (0 until 30).map(i => (2L, day(i), if (i % 2 == 0) 1.0 else 9.0)) // alternating
    ).toDF("user_id", "d", "sst")
    val out = Round10Ops.permutationEntropyDf(dl).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Double]("entropy") == 0.0)
    assert(out(1L).getAs[Double]("pe_norm") == 0.0)
    assert(out(1L).getAs[Long]("n_triples") == 28L)
    // alternating: patterns 132/213 each half the triples -> H = ln 2
    val pe2 = out(2L).getAs[Double]("pe_norm")
    assert(math.abs(pe2 - math.log(2) / math.log(6)) < 1e-3, s"pe=$pe2")
  }

  test("stream_permutation_entropy: drained stream is bit-identical to batch #360") {
    val streamed = graft.streaming.Streaming
      .streamPermutationEntropy(spark, sf).collect()
    val batch = Round10Ops.tsPermutationEntropy(spark, sf).collect()
    assert(streamed.map(_.toString).toSeq == batch.map(_.toString).toSeq)
    assert(streamed.nonEmpty)
  }

  test("event sync blocks: pair invariants and the Jaccard identity on corpus data") {
    // blockSize 4: sf0.001 has too few series for 16-wide blocks to
    // leave more than one block
    val out = graft.operators.Mhw.mhwEventSyncBlocks(spark, sf, blockSize = 4)
      .collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      val (da, db, both) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(a < b)
      assert(both >= 1 && both <= math.min(da, db))
      val j = both.toDouble / (da + db - both)
      assert(r.getDouble(5) == math.floor(j * 1e6 + 0.5) / 1e6)
    }
    // coarse-graining can only shrink the pair table vs series level
    val fine = graft.operators.Mhw.mhwEventSync(spark, sf).count()
    assert(out.length <= fine)
  }

  test("bpe_vocab: merged tokens come from the merge table; compression monotone") {
    val vocab = Round10Ops.bpeVocab(spark, sf).collect()
    assert(vocab.nonEmpty)
    val merges = BpeEncode.trainedMerges(spark, sf, TextOps2.BpeSteps)
    val mergedSyms = merges.map { case (a, b) => a + b }.toSet
    vocab.foreach { r =>
      assert(r.getLong(1) > 0, s"dead vocab row ${r.getString(0)}")
      if (r.getBoolean(2))
        assert(mergedSyms.contains(r.getString(0)),
          s"merged token ${r.getString(0)} not produced by any merge")
      else assert(r.getString(0).length == 1)
    }
    // total symbol mass shrinks as merges apply (each fuse removes one)
    val t0 = Round10Ops.bpeVocab(spark, sf, steps = 0)
      .agg(org.apache.spark.sql.functions.sum("n_occurrences"))
      .collect()(0).getLong(0)
    val t64 = vocab.map(_.getLong(1)).sum
    assert(t64 < t0, s"64 merges must fuse something: $t64 vs $t0")
  }
}
