package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Parity._
import graft.sources.Tables

/** Round-9 batch-9 operators (SURVEY §2 #322-#324): the full CKA block
  * matrix, plus register twins for retention half-life and the Hurst
  * exponent (the stream wrappers live in
  * [[graft.streaming.Streaming]]).
  */
object Round9Ops9 {

  // ---------------------------------------------- #322 emb_cka_matrix

  /** #322 emb_cka_matrix: #318 generalized to the BLOCK PANEL — the
    * embedding's leading 32 dims cut into eight 4-dim blocks, linear
    * CKA for every unordered block pair (36 rows incl. the trivially-1
    * diagonal). Where #318 answers "is the second half redundant",
    * the matrix shows the whole redundancy STRUCTURE — which prefix
    * length the #31h matryoshka cut can stop at (4-dim granularity),
    * and whether information is spread (banded matrix) or concentrated
    * (one hot block). ONE corpus scan builds the 32×32 centered
    * covariance of the leading dims with exact decimal moments (1024
    * cells — corpus-size-independent; every n²-term variant measured:
    * the decimal partial-aggregation cost is linear in cells×rows, so
    * the block granularity IS the cost knob), block Frobenius norms by
    * one bounded rollup, CKA by two broadcast diagonal joins.
    */
  def embCkaMatrix(s: SparkSession, dir: String, d: Int = 4,
                   blocks: Int = 8): DataFrame =
    embCkaMatrixDf(Tables.embeddings(s, dir), d, blocks)

  /** DataFrame-generic core: expects (vec_id, embedding) with
    * ≥ d·blocks dims. */
  def embCkaMatrixDf(input0: DataFrame, d: Int = 4, blocks: Int = 8): DataFrame = {
    val n = d * blocks
    // the n²-per-vector product fan inherits the SCAN's partitioning —
    // spread it before exploding (the single-split fan recorded at
    // Round9Ops21.bootstrapRegisters; the pre-fan shuffle moves 1/n² of
    // the fanned rows)
    val parts = input0.sparkSession.conf
      .get("spark.sql.shuffle.partitions").toInt
    val input = input0.select(col("vec_id"), col("embedding"))
      .repartition(parts)
    val ex = input.select(col("vec_id"),
        posexplode(slice(col("embedding"), 1, n)).as(Seq("i0", "xr")))
      .select(col("vec_id"), (col("i0") + 1).as("ci"),
              col("xr").cast("double").as("x"))
      .transform(graft.Lineage.pinLazy)
    // marginal moments are per-DIM (n rows), not per-pair: deriving
    // Σx/Σy from this table instead of re-summing them in every
    // (ci, cj) group cuts the pair rollup to ONE decimal column
    val marg = ex.groupBy(col("ci"))
      .agg(dsum(col("x")).as("sx"), count(lit(1)).cast("double").as("nv"))
      .transform(graft.Lineage.pin)
    // the n² product rows are generated MAP-ONLY per vector (one
    // flattened row-major product array, one generator) — no shuffle
    // before the n²-cell partial aggregation; a vec_id self-join
    // shuffles the whole n²-row table first and measured 2× slower,
    // the carried-array nested-posexplode 2.5×
    val ed = transform(slice(col("embedding"), 1, n), x => x.cast("double"))
    val prods = input
      .select(posexplode(flatten(transform(ed, x =>
        transform(ed, y => x * y)))).as(Seq("k", "p")))
      .select((floor(col("k") / n) + 1).cast("int").as("ci"),
              (pmod(col("k"), lit(n)) + 1).cast("int").as("cj"), col("p"))
    val cov = prods.groupBy(col("ci"), col("cj"))
      .agg(dsum(col("p")).as("sxy"))
      .join(broadcast(marg), "ci")
      .join(broadcast(marg.select(col("ci").as("cj"), col("sx").as("sy"))), "cj")
      .select(col("ci"), col("cj"),
              r((col("sxy") - col("sx") * col("sy") / col("nv")) / col("nv"), 8)
                .as("c"))
    val fro = cov
      .groupBy((floor((col("ci") - 1) / d) + 1).cast("int").as("bi"),
               (floor((col("cj") - 1) / d) + 1).cast("int").as("bj"))
      .agg(r(sqrt(dsum(col("c") * col("c"))), 8).as("fro"))
      .transform(graft.Lineage.pinLazy)
    val diag = fro.filter(col("bi") === col("bj"))
      .select(col("bi").as("b"), col("fro").as("fd"))
    fro.filter(col("bi") <= col("bj"))
      .join(broadcast(diag.select(col("b").as("bi"), col("fd").as("fa"))), "bi")
      .join(broadcast(diag.select(col("b").as("bj"), col("fd").as("fb"))), "bj")
      .select(col("bi").as("block_a"), col("bj").as("block_b"), col("fro"),
              r(col("fro") * col("fro") / (col("fa") * col("fb")), 6).as("cka"))
      .orderBy(col("block_a"), col("block_b"))
  }

  def embCkaMatrixSql(d: Int = 4, blocks: Int = 8): String = {
    val n = d * blocks
    s"""WITH cov AS (
       |  SELECT ci, cj,
       |    ${sqlR(s"(${sqlSum("x * y")} - ${sqlSum("x")} * ${sqlSum("y")} / count(*)) / count(*)", 8)} AS c
       |  FROM (
       |    SELECT ii.i AS ci, jj.j AS cj,
       |           CAST(embedding[ii.i] AS DOUBLE) AS x,
       |           CAST(embedding[jj.j] AS DOUBLE) AS y
       |    FROM embeddings, range(1, ${n + 1}) ii(i), range(1, ${n + 1}) jj(j))
       |  GROUP BY 1, 2),
       |fro AS (
       |  SELECT CAST(floor((ci - 1) / $d) + 1 AS INT) AS bi,
       |         CAST(floor((cj - 1) / $d) + 1 AS INT) AS bj,
       |         ${sqlR(s"sqrt(${sqlSum("c * c")})", 8)} AS fro
       |  FROM cov GROUP BY 1, 2),
       |diag AS (SELECT bi AS b, fro AS fd FROM fro WHERE bi = bj)
       |SELECT f.bi AS block_a, f.bj AS block_b, f.fro,
       |       ${sqlR("f.fro * f.fro / (a.fd * b.fd)", 6)} AS cka
       |FROM fro f JOIN diag a ON a.b = f.bi JOIN diag b ON b.b = f.bj
       |WHERE f.bi <= f.bj
       |ORDER BY 1, 2""".stripMargin
  }

  // ----------------------------- #323/#324 register twins (documents)

  /** #323's registers: distinct (user, active-day) maintained as count
    * registers — the activity ledger IS the streaming state (counts
    * merge; the readout only needs key existence), O(users × days)
    * like the #126 day-partial family. */
  private[graft] def activeDayRegisters(ev: DataFrame): DataFrame =
    ev.select(col("user_id"), to_date(col("ts")).as("d"))
      .groupBy(col("user_id"), col("d"))
      .agg(count(lit(1)).as("n"))

  /** #323's finalize: the #320 chain over the drained activity ledger
    * (cohorts, censored eligibility, pooled rates, the exponential
    * fit) — everything the readout needs is derivable from the
    * register keys, so no exported scalar is required. */
  private[graft] def retentionHalflifeFinalize(regs: DataFrame): DataFrame =
    Round9Ops8.halflifeFromDays(regs.select(col("user_id"), col("d")))

  /** #324's registers: per-(user, day) decimal value moments — the
    * daily table IS the streaming state (count + decimal sum merge by
    * addition), the same state class as the #126/#143 day-partial
    * streams. */
  private[graft] def dailyMomentRegisters(ev: DataFrame): DataFrame =
    ev.groupBy(col("user_id"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("cnt"), dsum(col("value")).as("sv"))

  /** #324's finalize: rebuild the daily means with the shared 6dp
    * rounding, then the whole #319 chain — block means, aggregated
    * variances, the log-log fit. Bit-identical to batch because
    * Mhw.daily's sst is the same r6(decimal sum / count). */
  private[graft] def hurstFinalize(regs: DataFrame): DataFrame =
    // pinned: the daily table feeds both the per-user origin and the
    // block fan-out, and a memory-sink view cannot self-join
    Round9Ops7.tsHurstDf(graft.Lineage.pinLazy(
      regs.select(col("user_id"), col("d"),
                  r(col("sv") / col("cnt"), 6).as("sst"))))
}
