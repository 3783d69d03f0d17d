package perfbench

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.SparkEntry
import graft.api.{Graft, SeriesConfig}

/** One op of a pass: `build` is the public entry point a user calls,
  * `action` materializes its result and returns a digest of it. */
final case class OpSpec(name: String, build: () => AnyRef, action: AnyRef => String)

trait Workload {
  /** Passes every run makes, however short its `--seconds`. */
  def minPasses: Int
  /** Untimed: input staging and anything else a user pays once. */
  def setup(): Unit
  /** The ops of pass `p`, in the order they run. */
  def pass(p: Int): Seq[OpSpec]
  /** Housekeeping between passes, outside the timed window. */
  def afterPass(p: Int): Unit = ()
  /** Empty when the op's output is correct, else why it is not. */
  def verify(op: Op): String
  /** Workload-specific figures for the result file: name -> (value, unit). */
  def extra(ops: Seq[Op]): Seq[(String, Double, String)] = Nil
}

object Digest {
  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  /** Order-insensitive digest of every column of every row: the row
    * count plus the sums of the two 32-bit halves of each row's xxhash64.
    * Map-typed columns are hashed through their JSON form. */
  def frame(df: DataFrame): String = {
    val renamed = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols: Seq[Column] = renamed.schema.fields.toSeq.map { f =>
      if (hasMap(f.dataType)) to_json(col(f.name))
      else if (f.dataType == NullType) col(f.name).cast("string")
      else col(f.name)
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = renamed.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").bitwiseAND(lit(0xffffffffL))),
           sum(shiftrightunsigned(col("h"), 32)))
      .head()
    s"${r.getLong(0)}:${Option(r.get(1)).getOrElse(0L)}:${Option(r.get(2)).getOrElse(0L)}"
  }

  /** Digest of collected rows, independent of their order. */
  def rows(rs: Seq[Row]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    rs.map(_.mkString("|")).sorted.foreach(s => md.update((s + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}

/** The registry queries run by name: one op is the registry builder
  * call plus one digest action that reads every output column. */
final class RegistryMix(spark: SparkSession, dataDir: String, panel: Seq[String],
                        recorded: Map[String, String], seed: Long) extends Workload {
  val minPasses = 3
  def setup(): Unit = ()

  def pass(p: Int): Seq[OpSpec] =
    new scala.util.Random(seed * 1000003L + p).shuffle(panel).map { name =>
      val fn = SparkEntry.queries(name)
      OpSpec(name, () => fn(spark, dataDir), r => Digest.frame(r.asInstanceOf[DataFrame]))
    }

  def verify(op: Op): String = recorded.get(op.name) match {
    case None => "no recorded digest"
    case Some(want) if want != op.digest => s"digest ${op.digest} != recorded $want"
    case _ => ""
  }
}

object RegistryMix {
  /** Registry families: the query name up to its first underscore, with
    * trailing digits dropped so the TPC-H shapes (q1, q3, ...) form one. */
  def family(name: String): String = name.takeWhile(_ != '_').replaceAll("\\d+$", "")

  /** A fixed, family-stratified panel of `size` queries: each family gets
    * seats in proportion to its size (largest remainder), and within a
    * family the seats go to the names with the smallest MD5, so the panel
    * does not depend on how fast any query is. */
  def panel(names: Seq[String], size: Int): Seq[String] = {
    def md5(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
    val fams = names.groupBy(family).toSeq.sortBy(_._1)
    val quota = fams.map { case (f, ns) => f -> ns.size.toDouble * size / names.size }
    val floor = quota.map { case (f, q) => f -> q.toInt }.toMap
    val extra = quota.sortBy { case (f, q) => (-(q - q.toInt), f) }
      .take(size - floor.values.sum).map(_._1).toSet
    fams.flatMap { case (f, ns) =>
      ns.sortBy(md5).take(floor(f) + (if (extra(f)) 1 else 0))
    }.sorted
  }
}

/** The reference notebook's chain on the reference's grid: 17×17 cells
  * (lat, lon) × 1982-01-01..2014-12-31 daily, through the public API.
  * The seed sets the noise and where the warm anomalies fall. */
final class MhwGrid(spark: SparkSession, seed: Long, recordedDigest: Option[String]) extends Workload {
  val minPasses = 1
  val cfg = SeriesConfig(Seq("lat", "lon"), "time", "sst")
  val nCells = 17 * 17
  val nDays: Int = java.time.temporal.ChronoUnit.DAYS.between(
    java.time.LocalDate.of(1982, 1, 1), java.time.LocalDate.of(2015, 1, 1)).toInt
  val lvl = StorageLevel.MEMORY_AND_DISK
  var daily: DataFrame = _
  var points = 0L
  private var clim, thresh, sev: DataFrame = _
  private var firstDigest: Option[String] = None

  /** Long-format SST: per-cell base + seasonal cycle + hashed noise +
    * multi-week warm anomalies whose phase and period depend on the seed. */
  def grid(): DataFrame = {
    val phase = java.lang.Math.floorMod(seed * 7919L, 1500L)
    val period = 1400 + java.lang.Math.floorMod(seed * 104729L, 200L)
    spark.range(nCells).select(col("id").as("cell"))
      .crossJoin(spark.range(nDays).select(col("id").cast("int").as("t")))
      .select(
        (lit(-35.0) + floor(col("cell") / 17) * 0.25).as("lat"),
        (lit(150.0) + col("cell") % 17 * 0.25).as("lon"),
        date_add(lit(java.sql.Date.valueOf("1982-01-01")), col("t")).as("time"),
        (lit(15.0) + col("cell") % 17 * 0.3 +
          lit(5.0) * cos(col("t") * lit(2 * math.Pi / 365.25)) +
          (pmod(xxhash64(lit(seed), col("cell"), col("t")), lit(1000)) / 1000.0 - 0.5) +
          when(pmod(col("t") + col("cell") * 37 + phase, lit(period)) < 45, 3.5)
            .otherwise(0.0)).as("sst"))
  }

  def setup(): Unit = {
    daily = Graft.dailySeries(grid(), cfg).persist(lvl)
    points = daily.count()
  }

  private def persistCount(df: DataFrame): String = {
    df.persist(lvl)
    df.count().toString
  }

  def pass(p: Int): Seq[OpSpec] = Seq(
    OpSpec("clim_thresh", () => {
      val base = daily.filter(col("yr").between(1982, 2011))
      clim = Graft.computeClimatologyLegacy(base)
      thresh = Graft.computeThresholdLegacy(base)
      (clim, thresh)
    }, _ => persistCount(clim) + "/" + persistCount(thresh)),
    OpSpec("severity", () => {
      sev = Graft.calculateSeverity(daily, clim, thresh)
      sev
    }, _ => persistCount(sev)),
    OpSpec("events", () => Graft.restoreKeys(Graft.calculateMhwMetrics(sev), cfg),
      r => eventsDigest(r.asInstanceOf[DataFrame].collect().toSeq)))

  private var events: Seq[Row] = Nil
  private def eventsDigest(rs: Seq[Row]): String = { events = rs; Digest.rows(rs) }

  override def afterPass(p: Int): Unit =
    Seq(clim, thresh, sev).filter(_ != null).foreach(_.unpersist(true))

  def verify(op: Op): String =
    if (op.name != "events") "" else {
      val problems = Seq.newBuilder[String]
      if (events.isEmpty) problems += "no events"
      val f = events.headOption.map(_.schema.fieldNames.zipWithIndex.toMap).getOrElse(Map.empty)
      def i(r: Row, c: String) = r.getAs[Number](f(c)).longValue
      def d(r: Row, c: String) = r.getAs[Number](f(c)).doubleValue
      if (events.exists(r => i(r, "duration") < 5)) problems += "duration < 5"
      if (events.exists(r => i(r, "index_peak") < i(r, "index_start") || i(r, "index_peak") > i(r, "index_end")))
        problems += "peak outside event"
      if (events.exists(r => d(r, "intensity_max") < d(r, "intensity_mean")))
        problems += "intensity_max < intensity_mean"
      val byCell = events.groupBy(r => (r.getAs[Any](f("lat")), r.getAs[Any](f("lon"))))
      if (byCell.values.exists { es =>
        val s = es.sortBy(r => i(r, "index_start"))
        s.zip(s.drop(1)).exists { case (a, b) => i(b, "index_start") - i(a, "index_end") <= 2 }
      }) problems += "events within 2 days of each other"
      firstDigest match {
        case None => firstDigest = Some(op.digest)
        case Some(d0) if d0 != op.digest => problems += s"digest ${op.digest} != first chain's $d0"
        case _ =>
      }
      recordedDigest.foreach(want => if (want != op.digest) problems += s"digest ${op.digest} != recorded $want")
      problems.result().mkString("; ")
    }

  override def extra(ops: Seq[Op]): Seq[(String, Double, String)] = {
    val timed = Main.latencyOps(ops).filterNot(_.failed)
    def med(n: String) = Stats.median(timed.filter(_.name == n).map(_.latencyMs / 1000))
    val chains = timed.groupBy(_.pass).values.filter(_.size == 3).map(_.map(_.latencyMs / 1000).sum).toSeq
    val ct = med("clim_thresh")
    Seq(("grid_points", points.toDouble, "count"),
      ("grid_events", events.size.toDouble, "count"),
      ("grid_first_chain_s", ops.filter(_.pass == 0).map(_.latencyMs / 1000).sum, "s"),
      ("grid_clim_thresh_s", ct, "s"),
      ("grid_clim_thresh_vs_dask", ct / 5.9, "ratio"),
      ("grid_severity_s", med("severity"), "s"),
      ("grid_events_s", med("events"), "s"),
      ("grid_points_per_s", points / Stats.median(chains), "1/s"))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}
