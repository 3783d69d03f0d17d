package graft

import org.apache.spark.sql.streaming.GroupStateTimeout
import org.apache.spark.sql.streaming.TestGroupState
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{KmvIn, KmvSketchRow, KnnIn, KnnPair, KnnTopRow, Streaming, StreamingKnn}
import graft.streaming.{StreamingDrift, StreamingHolt, StreamingKs, StreamingPeriodogram}

/** Pure-fold properties for the O(k) streaming state transitions: the
  * final state must be a function of the SET of rows seen, invariant to
  * how the stream chunked them into micro-batches and to arrival order
  * within a batch — the law that makes the drained stream sketches
  * bit-identical to their batch builds. No SparkSession needed: the
  * folds run against TestGroupState exactly as the state store drives
  * them. */
class FoldPropertySpec extends AnyFunSuite {

  private def gs[S](state: Option[S]): TestGroupState[S] =
    TestGroupState.create[S](
      org.apache.spark.api.java.Optional.fromNullable(state.getOrElse(null.asInstanceOf[S])),
      GroupStateTimeout.NoTimeout, 0L,
      org.apache.spark.api.java.Optional.empty[Long](), false)

  test("foldKmv: final sketch = k smallest distinct hashes, for any chunking and order") {
    val rng = new scala.util.Random(11)
    val k = 8
    (0 until 50).foreach { trial =>
      val hashes = Seq.fill(20 + rng.nextInt(100))(rng.nextInt(40).toLong)
      val expected = hashes.distinct.sorted.take(k)
      val nChunks = 1 + rng.nextInt(5)
      val shuffled = rng.shuffle(hashes)
      val bounds = (0 +: Seq.fill(nChunks - 1)(rng.nextInt(shuffled.size + 1)).sorted) :+ shuffled.size
      var state: Option[KmvSketchRow] = None
      bounds.zip(bounds.tail).foreach { case (a, b) =>
        val g = gs(state)
        Streaming.foldKmv(k)("t", shuffled.slice(a, b).iterator.map(KmvIn("t", _)), g)
        state = if (g.exists) Some(g.get) else None
      }
      assert(state.get.ks == expected, s"trial $trial")
    }
  }

  test("foldKs: final histogram = bin counts of the whole stream, any chunking/order") {
    val rng = new scala.util.Random(17)
    (0 until 50).foreach { trial =>
      val bins = Seq.fill(20 + rng.nextInt(150))(rng.nextInt(64))
      val expected = Array.tabulate(64)(b => bins.count(_ == b).toLong)
      val shuffled = rng.shuffle(bins)
      val nChunks = 1 + rng.nextInt(5)
      val bounds = (0 +: Seq.fill(nChunks - 1)(rng.nextInt(shuffled.size + 1)).sorted) :+ shuffled.size
      var state: Option[StreamingKs.KsStateRow] = None
      bounds.zip(bounds.tail).foreach { case (a, b) =>
        val g = gs(state)
        StreamingKs.foldKs("t", shuffled.slice(a, b).iterator.map(StreamingKs.KsIn("t", _)), g)
        state = if (g.exists) Some(g.get) else None
      }
      assert(state.get.counts.toSeq == expected.toSeq, s"trial $trial")
    }
  }

  test("foldHolt: final (n, level, trend) = batch fold of the day partials, any chunking/order") {
    val rng = new scala.util.Random(19)
    (0 until 30).foreach { trial =>
      val obs = Seq.fill(10 + rng.nextInt(60))(
        (18000 + rng.nextInt(20), math.floor(rng.nextDouble() * 1e6) / 1e6))
      // direct partial accumulation -> the shared batch arithmetic
      val partials = obs.groupBy(_._1).map { case (d, vs) =>
        d -> StreamingHolt.daySum(None, vs.map(v => Some(v._2)))
      }
      val expected = StreamingHolt.foldDays(partials)
      val shuffled = rng.shuffle(obs)
      val nChunks = 1 + rng.nextInt(5)
      val bounds = (0 +: Seq.fill(nChunks - 1)(rng.nextInt(shuffled.size + 1)).sorted) :+ shuffled.size
      var state: Option[StreamingHolt.HoltState] = None
      var last: Option[StreamingHolt.HoltEmit] = None
      bounds.zip(bounds.tail).foreach { case (a, b) =>
        val g = gs(state)
        val out = StreamingHolt.foldHolt(1L,
          shuffled.slice(a, b).iterator.map(o => StreamingHolt.HoltIn(1L, o._1, Some(o._2))), g)
        out.foreach(e => last = Some(e))
        state = if (g.exists) Some(g.get) else None
      }
      val e = last.get
      assert((e.n_obs, graft.operators.Round6Ops.HoltRow(e.level, e.trend, e.forecast)) == expected,
        s"trial $trial")
    }
  }

  test("foldDrift: final cohort sums/counts = direct decimal sums, any chunking/order") {
    val rng = new scala.util.Random(23)
    (0 until 30).foreach { trial =>
      val dims = 4
      val rows = Seq.fill(8 + rng.nextInt(40))(
        (rng.nextInt(2).toLong, Seq.fill(dims)(math.floor(rng.nextDouble() * 1e4) / 1e4)))
      def sum(par: Long, i: Int) = {
        val acc = new graft.Parity.Sums(1)
        rows.filter(_._1 == par).foreach(r => acc.addDouble(0, r._2(i)))
        acc.state(0)
      }
      val shuffled = rng.shuffle(rows)
      val nChunks = 1 + rng.nextInt(4)
      val bounds = (0 +: Seq.fill(nChunks - 1)(rng.nextInt(shuffled.size + 1)).sorted) :+ shuffled.size
      var state: Option[StreamingDrift.DriftStateRow] = None
      bounds.zip(bounds.tail).foreach { case (a, b) =>
        val g = gs(state)
        StreamingDrift.foldDrift(0,
          shuffled.slice(a, b).iterator.map(r => StreamingDrift.DriftIn(0, r._1, r._2.map(Some(_)))), g)
        state = if (g.exists) Some(g.get) else None
      }
      val st = state.get
      for (i <- 0 until dims; par <- Seq(0L, 1L)) {
        val j = 2 * i + par.toInt
        assert(st.sums(j) == sum(par, i), s"trial $trial")
        assert(st.n(j) == rows.count(_._1 == par) && st.m(j) == st.n(j), s"trial $trial")
      }
    }
  }

  test("foldKnn: final shortlist = k best (hamming, vec_id) pairs, for any chunking and order") {
    val rng = new scala.util.Random(13)
    val k = 5
    (0 until 50).foreach { trial =>
      val cands = Seq.fill(10 + rng.nextInt(80))(
        KnnIn(0L, rng.nextInt(1000).toLong, rng.nextInt(65)))
      val expected = cands.map(c => KnnPair(c.hamming, c.vec_id))
        .distinct.sortBy(p => (p.hamming, p.vec_id)).take(k)
      val shuffled = rng.shuffle(cands)
      val nChunks = 1 + rng.nextInt(5)
      val bounds = (0 +: Seq.fill(nChunks - 1)(rng.nextInt(shuffled.size + 1)).sorted) :+ shuffled.size
      var state: Option[KnnTopRow] = None
      bounds.zip(bounds.tail).foreach { case (a, b) =>
        val g = gs(state)
        StreamingKnn.foldKnn(k)(0L, shuffled.slice(a, b).iterator, g)
        state = if (g.exists) Some(g.get) else None
      }
      assert(state.get.top == expected, s"trial $trial")
    }
  }

  test("foldCusum: final chart is chunking/order invariant (day partials commute)") {
    import graft.streaming.{StreamingCusum, StreamingHolt}
    val rng = new scala.util.Random(23)
    (0 until 30).foreach { trial =>
      val rows = Seq.tabulate(20 + rng.nextInt(150))(i =>
        StreamingHolt.HoltIn(0L, 19000 + rng.nextInt(60), Some(rng.nextDouble() * 50)))
      def drain(input: Seq[StreamingHolt.HoltIn], chunks: Int) = {
        val bounds = (0 +: Seq.fill(chunks - 1)(rng.nextInt(input.size + 1)).sorted) :+ input.size
        var state: Option[StreamingHolt.HoltState] = None
        var last: Seq[StreamingCusum.CusumEmit] = Nil
        bounds.zip(bounds.tail).foreach { case (a, b) =>
          val g = gs(state)
          val out = StreamingCusum.foldCusum(0L, input.slice(a, b).iterator, g).toList
          if (out.nonEmpty) last = out
          state = if (g.exists) Some(g.get) else None
        }
        last.map(e => (e.n_obs, e.mu, e.sigma, e.cusum_max, e.n_alarms))
      }
      val e1 = drain(rows, 1)
      val e2 = drain(rng.shuffle(rows), 1 + rng.nextInt(5))
      assert(e1 == e2, s"trial $trial diverged")
    }
  }

  test("foldHw: final forecasts are chunking/order invariant (day partials commute)") {
    val rng = new scala.util.Random(29)
    (0 until 30).foreach { trial =>
      // a few null observations: they count toward no day's mean
      val rows = Seq.tabulate(20 + rng.nextInt(150))(i =>
        StreamingHolt.HoltIn(0L, 19000 + rng.nextInt(40),
          if (rng.nextDouble() < 0.05) None else Some(math.floor(rng.nextDouble() * 5e7) / 1e6)))
      def drain(input: Seq[StreamingHolt.HoltIn], chunks: Int) = {
        val bounds = (0 +: Seq.fill(chunks - 1)(rng.nextInt(input.size + 1)).sorted) :+ input.size
        var state: Option[StreamingHolt.HoltState] = None
        var last: Seq[StreamingHolt.HwEmit] = Nil
        bounds.zip(bounds.tail).foreach { case (a, b) =>
          val g = gs(state)
          val out = StreamingHolt.foldHw(0L, input.slice(a, b).iterator, g).toList
          if (out.nonEmpty) last = out
          state = if (g.exists) Some(g.get) else None
        }
        last.map(e => (e.n_obs, e.level, e.trend, e.forecasts))
      }
      val e1 = drain(rows, 1)
      assert(e1.nonEmpty, s"trial $trial: no emission")
      assert(drain(rng.shuffle(rows), 1 + rng.nextInt(5)) == e1, s"trial $trial diverged")
    }
  }

  test("foldPg: final periodogram sums are chunking/order invariant (decimal sums commute)") {
    val rng = new scala.util.Random(19)
    (0 until 30).foreach { trial =>
      val rows = Seq.tabulate(20 + rng.nextInt(200))(i =>
        StreamingPeriodogram.PgIn(0L, 18000 + i, Some(rng.nextDouble() * 100)))
      def drain(input: Seq[StreamingPeriodogram.PgIn], chunks: Int) = {
        val bounds = (0 +: Seq.fill(chunks - 1)(rng.nextInt(input.size + 1)).sorted) :+ input.size
        var state: Option[StreamingPeriodogram.PgState] = None
        var last: Seq[StreamingPeriodogram.PgEmit] = Nil
        bounds.zip(bounds.tail).foreach { case (a, b) =>
          val g = gs(state)
          val out = StreamingPeriodogram.foldPg(0L, input.slice(a, b).iterator, g).toList
          if (out.nonEmpty) last = out
          state = if (g.exists) Some(g.get) else None
        }
        (state.get, last)
      }
      val (s1, e1) = drain(rows, 1)
      val (s2, e2) = drain(rng.shuffle(rows), 1 + rng.nextInt(5))
      assert(s1.n == s2.n && s1.sums == s2.sums, s"trial $trial state diverged")
      assert(e1.map(e => (e.period, e.n_obs, e.power)) ==
             e2.map(e => (e.period, e.n_obs, e.power)), s"trial $trial emissions diverged")
    }
  }
}
