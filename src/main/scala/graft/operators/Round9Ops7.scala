package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Parity._
import graft.sources.Tables

/** Round-9 batch-7 operators (SURVEY §2 #318-#319): representation
  * redundancy across embedding dimension blocks (linear CKA) and
  * long-range dependence (Hurst exponent).
  */
object Round9Ops7 {

  // ------------------------------------------- #318 emb_cka_halves

  /** #318 emb_cka_halves: LINEAR CKA between two embedding dimension
    * blocks (dims 1-8 vs 9-16, the #31c leading-slice discipline) —
    * ‖C_AB‖²_F / (‖C_AA‖_F · ‖C_BB‖_F) over centered cross-/self-
    * covariance blocks (Kornblith 2019). The representation-redundancy
    * readout behind truncation decisions: CKA ≈ 1 means the second
    * block re-encodes the first (truncate freely — the quantitative
    * backing for #31h matryoshka cuts), CKA ≈ 0 means the blocks carry
    * independent axes.
    *
    * Scale shape: ONE corpus scan building three d²-cell covariance
    * blocks with exact decimal moment sums (the #31c cov discipline —
    * cells are corpus-size-independent); Frobenius norms and the CKA
    * ratio are 1-row arithmetic over the bounded cell tables. Cells
    * 8dp-round before the squared sums. */
  def embCkaHalves(s: SparkSession, dir: String, d: Int = 8): DataFrame =
    embCkaHalvesDf(Tables.embeddings(s, dir), d)

  /** DataFrame-generic core: expects an `embedding` array column with
    * at least 2d dims. */
  def embCkaHalvesDf(input: DataFrame, d: Int = 8): DataFrame = {
    // pre-fan repartition: the three covariance fans below each explode
    // d² product rows per vector and would otherwise inherit the scan's
    // (possibly single-split) partitioning — see Round9Ops21.bootstrapRegisters
    val parts = input.sparkSession.conf
      .get("spark.sql.shuffle.partitions").toInt
    val slices = input.select(
      slice(col("embedding"), 1, d).as("ea"),
      slice(col("embedding"), d + 1, d).as("eb"))
      .repartition(parts)
      .transform(graft.Lineage.pinLazy)
    def cov(l: String, rgt: String): DataFrame = slices
      .select(col(l).as("u"), col(rgt).as("v"))
      .select(posexplode(col("u")).as(Seq("i0", "xr")), col("v"))
      .select((col("i0") + 1).as("ci"), col("xr").cast("double").as("x"),
              posexplode(col("v")).as(Seq("j0", "yr")))
      .select(col("ci"), (col("j0") + 1).as("cj"),
              col("x"), col("yr").cast("double").as("y"))
      .groupBy(col("ci"), col("cj"))
      .agg(r((dsum(col("x") * col("y")) -
              dsum(col("x")) * dsum(col("y")) / count(lit(1))) / count(lit(1)), 8)
             .as("c"))
    def fro(cv: DataFrame, name: String): DataFrame =
      cv.agg(r(sqrt(dsum(col("c") * col("c"))), 8).as(name))
    val n = slices.agg(count(lit(1)).as("n_vecs"))
    n.crossJoin(broadcast(fro(cov("ea", "eb"), "fro_ab")))
      .crossJoin(broadcast(fro(cov("ea", "ea"), "fro_aa")))
      .crossJoin(broadcast(fro(cov("eb", "eb"), "fro_bb")))
      .select(col("n_vecs"), lit(d).as("d_block"),
              col("fro_ab"), col("fro_aa"), col("fro_bb"),
              r(col("fro_ab") * col("fro_ab") /
                (col("fro_aa") * col("fro_bb")), 6).as("cka"))
  }

  /** Oracle: three covariance-block CTEs (the #31c range-lateral cov
    * pattern with per-block column offsets), Frobenius scalars, the
    * 1-row CKA ratio. */
  def embCkaHalvesSql(d: Int = 8): String = {
    def cov(aOff: Int, bOff: Int, out: String): String =
      s"""$out AS (
         |  SELECT ci, cj,
         |    ${sqlR(s"(${sqlSum("x * y")} - ${sqlSum("x")} * ${sqlSum("y")} / count(*)) / count(*)", 8)} AS c
         |  FROM (
         |    SELECT ii.i AS ci, jj.j AS cj,
         |           CAST(embedding[ii.i + $aOff] AS DOUBLE) AS x,
         |           CAST(embedding[jj.j + $bOff] AS DOUBLE) AS y
         |    FROM embeddings, range(1, ${d + 1}) ii(i), range(1, ${d + 1}) jj(j))
         |  GROUP BY 1, 2)"""
    def fro(src: String, name: String): String =
      s"""$name AS (SELECT ${sqlR(s"sqrt(${sqlSum("c * c")})", 8)} AS $name FROM $src)"""
    s"""WITH ${cov(0, d, "covab")},
       |${cov(0, 0, "covaa")},
       |${cov(d, d, "covbb")},
       |${fro("covab", "fro_ab")},
       |${fro("covaa", "fro_aa")},
       |${fro("covbb", "fro_bb")},
       |nv AS (SELECT count(*) AS n_vecs FROM embeddings)
       |SELECT nv.n_vecs, $d AS d_block, fro_ab, fro_aa, fro_bb,
       |       ${sqlR("fro_ab * fro_ab / (fro_aa * fro_bb)", 6)} AS cka
       |FROM nv CROSS JOIN fro_ab CROSS JOIN fro_aa CROSS JOIN fro_bb""".stripMargin
  }

  // ------------------------------------------------- #319 ts_hurst

  /** The aggregation-scale grid and its ln values — computed ONCE
    * driver-side and inlined as literals in BOTH engines (Scala's
    * shortest-repr Double printing round-trips exactly, the #31c v0
    * discipline), so the log-log regression x-axis is bit-identical. */
  private[graft] val HurstKs: Seq[Int] = Seq(1, 2, 4, 8)
  private val lnK: Map[Int, Double] =
    HurstKs.map(k => k -> (math.floor(math.log(k.toDouble) * 1e6 + 0.5) / 1e6)).toMap

  /** #319 ts_hurst: HURST EXPONENT per series by the aggregated-
    * variance method (Taqqu 1995): variance of non-overlapping k-day
    * block means scales as k^(2H−2), so H = 1 + slope/2 of the
    * ln var(k) vs ln k regression over k ∈ {1,2,4,8}. The long-range-
    * dependence panel the ts battery lacked: #76 autocorrelation sees
    * one lag, #134 one period grid — H says whether shocks persist at
    * ALL scales (H→1 trending, 0.5 iid noise, <0.5 mean-reverting),
    * which decides if the #147/#176 forecast residuals can be trusted
    * to average out. Series missing any grid point (short series,
    * zero block variance) drop — the honest no-estimate answer.
    *
    * Scale shape: one ×4 literal-grid fan-out of the daily table
    * (bounded explode, the #132 discipline), two key-proportional
    * rollups (block means, per-k moments), and a 4-row-per-key
    * regression folded in one conditional aggregate — no window, no
    * sort, nothing collected. Block means and variances 6dp-round at
    * stage edges; ln 6dp-rounds before the regression sums. */
  def tsHurst(s: SparkSession, dir: String): DataFrame =
    tsHurstDf(Mhw.daily(s, dir))

  /** DataFrame-generic core: expects (user_id, d, sst). */
  def tsHurstDf(dl: DataFrame): DataFrame = {
    val o = dl.groupBy(col("user_id")).agg(min(col("d")).as("d0"))
    val idx = dl.select(col("user_id"), col("d"), col("sst"))
      .join(o, "user_id")
      .withColumn("idx", datediff(col("d"), col("d0")))
    val bl = idx
      .withColumn("k", explode(array(HurstKs.map(lit(_)): _*)))
      .withColumn("blk", floor(col("idx") / col("k")).cast("long"))
      .groupBy(col("user_id"), col("k"), col("blk"))
      .agg(count(lit(1)).as("nb"), davg(col("sst"), 6).as("bm"))
      .filter(col("nb") === col("k")) // complete blocks only
    val vk = bl.groupBy(col("user_id"), col("k"))
      .agg(count(lit(1)).cast("double").as("m"),
           dsum(col("bm")).as("sb"), dsum(col("bm") * col("bm")).as("sbb"))
      .filter(col("m") >= 2)
      .select(col("user_id"), col("k"),
              r((col("sbb") - col("sb") * col("sb") / col("m")) / col("m"), 6)
                .as("v"))
      .filter(col("v") > 0)
    val x = HurstKs.tail.foldLeft(when(col("k") === HurstKs.head,
        lit(lnK(HurstKs.head)))) { (acc, k) =>
      acc.when(col("k") === k, lit(lnK(k)))
    }
    val pts = vk.select(col("user_id"), x.as("x"), r(log(col("v")), 6).as("y"))
    val m = lit(HurstKs.size.toDouble)
    val slope = (dsum(col("x") * col("y")) - dsum(col("x")) * dsum(col("y")) / m) /
                (dsum(col("x") * col("x")) - dsum(col("x")) * dsum(col("x")) / m)
    pts.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_scales"),
           r(slope, 6).as("slope"),
           r(lit(1.0) + slope / 2, 6).as("hurst"))
      .filter(col("n_scales") === HurstKs.size)
      .withColumn("regime",
        when(col("hurst") > 0.55, "persistent")
          .when(col("hurst") < 0.45, "antipersistent")
          .otherwise("noise"))
      .orderBy(col("user_id"))
  }

  def tsHurstSql: String = {
    val kVals = HurstKs.map(k => s"($k)").mkString(", ")
    val xCase = "CASE " +
      HurstKs.map(k => s"WHEN k = $k THEN ${lnK(k)}").mkString(" ") + " END"
    val m = s"${HurstKs.size.toDouble}"
    val slope =
      s"(${sqlSum("x * y")} - ${sqlSum("x")} * ${sqlSum("y")} / $m) / " +
      s"(${sqlSum("x * x")} - ${sqlSum("x")} * ${sqlSum("x")} / $m)"
    s"""WITH daily AS (
       |  SELECT user_id, CAST(ts AS DATE) AS d, ${sqlAvg("value", 6)} AS sst
       |  FROM events GROUP BY 1, 2),
       |o AS (SELECT user_id, min(d) AS d0 FROM daily GROUP BY 1),
       |idx AS (
       |  SELECT daily.user_id, datediff('day', o.d0, daily.d) AS idx, daily.sst
       |  FROM daily JOIN o USING (user_id)),
       |bl AS (
       |  SELECT user_id, k, CAST(floor(idx / k) AS BIGINT) AS blk,
       |         count(*) AS nb, ${sqlAvg("sst", 6)} AS bm
       |  FROM idx CROSS JOIN (SELECT k FROM (VALUES $kVals) ks(k)) ks
       |  GROUP BY 1, 2, 3
       |  HAVING count(*) = k),
       |vk AS (
       |  SELECT user_id, k,
       |         ${sqlR(s"(${sqlSum("bm * bm")} - ${sqlSum("bm")} * ${sqlSum("bm")} / CAST(count(*) AS DOUBLE)) / CAST(count(*) AS DOUBLE)", 6)} AS v
       |  FROM bl GROUP BY 1, 2 HAVING count(*) >= 2),
       |pts AS (
       |  SELECT user_id, $xCase AS x, ${sqlR("ln(v)", 6)} AS y
       |  FROM vk WHERE v > 0),
       |reg AS (
       |  SELECT user_id, count(*) AS n_scales,
       |         ${sqlR(slope, 6)} AS slope,
       |         ${sqlR(s"1.0 + ($slope) / 2", 6)} AS hurst
       |  FROM pts GROUP BY 1 HAVING count(*) = ${HurstKs.size})
       |SELECT user_id, n_scales, slope, hurst,
       |       CASE WHEN hurst > 0.55 THEN 'persistent'
       |            WHEN hurst < 0.45 THEN 'antipersistent'
       |            ELSE 'noise' END AS regime
       |FROM reg ORDER BY user_id""".stripMargin
  }
}
