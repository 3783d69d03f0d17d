package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{GraftCatalog, IO, Tables}

class IOSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = GraftSession.local("4")

  private val sf = "/root/testdata/sf0.001"
  private def tmp(name: String) =
    tempDir(s"graft_io_$name")

  test("round-trip through csv and json preserves values") {
    val src = Tables.orders(spark, sf)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    val expected = src.collect().map(_.toSeq).toSet
    for (fmt <- Seq("csv", "json")) {
      val dir = tmp(fmt)
      IO.write(src, dir, fmt)
      val back = IO.read(spark, dir, fmt, Some(src.schema))
      assert(back.schema == src.schema)
      assert(back.collect().map(_.toSeq).toSet == expected, fmt)
    }
  }

  test("partitioned parquet write enables partition pruning") {
    val dir = tmp("part")
    IO.write(Tables.events(spark, sf), dir, partitionBy = Seq("event_type"))
    // hive-style layout on disk
    val dirs = new java.io.File(dir).listFiles().map(_.getName).filter(_.startsWith("event_type="))
    assert(dirs.length == 5)
    // a filtered read plans only the matching partition
    val filtered = IO.read(spark, dir).filter(col("event_type") === "click")
    val plan = filtered.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("PartitionFilters: [isnotnull(event_type"))
    assert(filtered.count() ==
      Tables.events(spark, sf).filter(col("event_type") === "click").count())
  }

  test("convert lands csv as partitioned parquet") {
    val src = Tables.nation(spark, sf)
    val csvDir = tmp("csv_src"); val pqDir = tmp("pq_out")
    IO.write(src, csvDir, "csv")
    IO.convert(spark, csvDir, "csv", src.schema, pqDir, partitionBy = Seq("n_regionkey"))
    val back = IO.read(spark, pqDir)
    assert(back.count() == src.count())
  }

  test("catalog registers every table for spark.sql") {
    GraftCatalog.registerAll(spark, sf)
    val n = spark.sql(
      "SELECT count(*) FROM lineitem JOIN orders ON l_orderkey = o_orderkey")
      .collect()(0).getLong(0)
    assert(n > 0)
  }

  test("bucketed tables join with zero exchanges (write-once shuffle)") {
    val buckets = 4
    IO.writeBucketed(
      Tables.orders(spark, sf).select("o_orderkey", "o_custkey", "o_totalprice"),
      "orders_b", Seq("o_orderkey"), buckets, Seq("o_orderkey"))
    IO.writeBucketed(
      Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity"),
      "lineitem_b", Seq("l_orderkey"), buckets, Seq("l_orderkey"))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("lineitem_b")
        .join(spark.table("orders_b"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey")).agg(sum(col("l_quantity")).as("q"))
      val p = joined.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      // the join itself needs no shuffle: both sides pre-bucketed on the key
      assert(p.contains("SortMergeJoin"))
      val joinSection = p.substring(0, p.indexOf("HashAggregate"))
      assert(!joinSection.contains("Exchange"),
        s"bucketed join should not exchange:\n$p")
      // and the result matches the unbucketed plan
      val direct = Tables.lineitem(spark, sf)
        .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey")).agg(sum(col("l_quantity")).as("q"))
      assert(joined.collect().map(r => (r.getLong(0), r.getDouble(1))).toMap ==
             direct.collect().map(r => (r.getLong(0), r.getDouble(1))).toMap)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS lineitem_b")
    }
  }

  test("orc round-trip preserves values and supports pushdown") {
    val dir = tmp("orc")
    val src = Tables.nation(spark, sf)
    IO.write(src, dir, format = "orc")
    val back = IO.read(spark, dir, format = "orc")
    assert(back.orderBy("n_nationkey").collect().toSeq ==
           src.orderBy("n_nationkey").collect().toSeq)
    val p = IO.read(spark, dir, format = "orc")
      .filter(col("n_regionkey") === 2)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("PushedFilters: [IsNotNull(n_regionkey), EqualTo(n_regionkey,2)]"),
      s"orc pushdown expected:\n$p")
  }

  test("hive-partitioned write: reads of one key prune to one directory") {
    val dir = tmp("part")
    IO.write(Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority")),
      dir, partitionBy = Seq("o_orderpriority"))
    val pruned = IO.read(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
    val p = pruned.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("PartitionFilters: [isnotnull(o_orderpriority"),
      s"partition filter should prune:\n$p")
    val expected = Tables.orders(spark, sf)
      .filter(col("o_orderpriority") === "1-URGENT").count()
    assert(pruned.count() == expected)
  }

  test("z-ordered layout prunes 2-D box filters better than a linear sort") {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.format.converter.ParquetMetadataConverter
    import org.apache.parquet.hadoop.ParquetFileReader
    // sf0.01: 100 suppliers / 2000 parts — enough key space to tile
    val li = Tables.lineitem(spark, "/root/testdata/sf0.01")
      .select(col("l_partkey"), col("l_suppkey"))
    val zDir = tmp("zorder"); val linDir = tmp("linear")
    IO.writeZOrdered(li, zDir, "l_partkey", "l_suppkey", files = 16)
    li.repartitionByRange(16, col("l_partkey"))
      .sortWithinPartitions("l_partkey")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(linDir)

    // a box wide in partkey, narrow in suppkey: [all parts] × [40..47]
    // (a bit-aligned suppkey octile, so z-tiles bound it tightly)
    def mustReadBlocks(dir: String): Int = {
      val conf = spark.sparkContext.hadoopConfiguration
      val files = new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet"))
      files.map { f =>
        val meta = ParquetFileReader.readFooter(
          conf, new Path(f.getAbsolutePath), ParquetMetadataConverter.NO_FILTER)
        meta.getBlocks.toArray.count { case b: org.apache.parquet.hadoop.metadata.BlockMetaData =>
          val s = b.getColumns.toArray
            .map(_.asInstanceOf[org.apache.parquet.hadoop.metadata.ColumnChunkMetaData])
            .find(_.getPath.toDotString == "l_suppkey").get.getStatistics
          val (lo, hi) = (s.genericGetMin.asInstanceOf[Long], s.genericGetMax.asInstanceOf[Long])
          hi >= 40L && lo <= 47L // min/max intersects the suppkey band
        }
      }.sum
    }
    val zBlocks = mustReadBlocks(zDir)
    val linBlocks = mustReadBlocks(linDir)
    // the linear layout sorts by partkey only: every file spans all
    // suppkeys, so nothing is prunable; z-order confines the band
    assert(zBlocks < linBlocks,
      s"z-order should prune: z=$zBlocks linear=$linBlocks")
    // correctness: same rows back out
    assert(IO.read(spark, zDir).filter(col("l_suppkey").between(40, 47)).count() ==
           li.filter(col("l_suppkey").between(40, 47)).count())
  }

  test("normalizeTs canonicalizes every ts encoding the driver has shipped") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    // one instant, three encodings: 2024-03-01T12:34:56.789012 UTC
    val us = 1709296496789012L

    // (a) int64 nanos read as Long (the legacy nanosAsLong path)
    val nsDf = Seq(us * 1000).toDF("ts")
    val a = Tables.normalizeTs(nsDf)
    assert(a.schema("ts").dataType == TimestampType)
    assert(a.select(unix_micros(col("ts"))).head.getLong(0) == us)

    // (b) TIMESTAMP_NTZ µs — through a real parquet round-trip so the
    // footer annotation (isAdjustedToUTC=false) is exercised, not just
    // the in-memory type
    val ntzDir = tmp("ntz")
    Seq(us).toDF("us")
      .select(timestamp_micros(col("us")).cast(TimestampNTZType).as("ts"))
      .write.mode("overwrite").parquet(ntzDir)
    val ntzBack = spark.read.parquet(ntzDir)
    assert(ntzBack.schema("ts").dataType == TimestampNTZType, "round-trip kept NTZ")
    val b = Tables.normalizeTs(ntzBack)
    assert(b.schema("ts").dataType == TimestampType)
    assert(b.select(unix_micros(col("ts"))).head.getLong(0) == us,
      "UTC session: NTZ relabel must not shift the instant")

    // (c) TIMESTAMP µs — already canonical, passthrough
    val tsDf = Seq(us).toDF("us").select(timestamp_micros(col("us")).as("ts"))
    val c = Tables.normalizeTs(tsDf)
    assert(c.schema("ts").dataType == TimestampType)
    assert(c.select(unix_micros(col("ts"))).head.getLong(0) == us)
  }

  test("GraftCatalog: the corpus is queryable through spark.sql") {
    GraftCatalog.registerAll(spark, sf)
    val viaSql = spark.sql(
      """SELECT c_mktsegment, count(*) AS n
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |GROUP BY 1""".stripMargin)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val viaDf = Tables.customer(spark, sf)
      .join(Tables.orders(spark, sf), col("c_custkey") === col("o_custkey"))
      .groupBy(col("c_mktsegment")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(viaSql == viaDf)
  }
}
