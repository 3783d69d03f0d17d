package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Graph

/** Invariants for the graph/merge operators (#80-#81). */
class GraphSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = GraftSession.local("4")
  private val sf = "/root/testdata/sf0.001"

  test("pagerank: probability mass conserved, floor respected, deterministic") {
    val a = Graph.graphPagerank(spark, sf).collect()
    assert(a.nonEmpty)
    val n = a.length
    val sum = a.map(_.getAs[Double]("pr")).sum
    // symmetric edges → no dangling mass; per-round 8dp rounding can
    // drift the total by ≤ n·iters·5e-9
    assert(math.abs(sum - 1.0) < 1e-5, s"mass $sum")
    a.foreach(r => assert(r.getAs[Double]("pr") >= (1 - 0.85) / n - 1e-9))
    val b = Graph.graphPagerank(spark, sf).collect()
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
  }

  test("pagerank under a reliable checkpoint dir: identical output through the DFS-checkpoint path") {
    // Lineage.cut switches to fault-tolerant checkpointing when the
    // session configures a checkpoint dir (the 1000-executor posture);
    // results must be bit-identical to the localCheckpoint path
    val viaLocal = Graph.graphPagerank(spark, sf).collect().map(_.toSeq).toSeq
    val dir = tempDir("graft_ckpt")
    spark.sparkContext.setCheckpointDir(dir)
    try {
      val viaDfs = Graph.graphPagerank(spark, sf).collect().map(_.toSeq).toSeq
      assert(viaDfs == viaLocal)
      // the reliable path actually wrote checkpoint data
      assert(new java.io.File(dir).listFiles().nonEmpty)
    } finally {
      spark.sparkContext.setCheckpointDir(null)
    }
  }

  test("merge upsert: actions partition keys and agree with the raw order stream") {
    import java.time.LocalDateTime
    def tsOf(r: org.apache.spark.sql.Row, field: String): LocalDateTime =
      r.getAs[Any](field) match {
        case t: java.sql.Timestamp => t.toLocalDateTime
        case t: LocalDateTime      => t
      }
    val out = Graph.ordersMergeUpsert(spark, sf).collect()
      .map(r => r.getAs[Long]("o_custkey") ->
        (r.getAs[String]("action"), tsOf(r, "last_date"))).toMap
    val cut = LocalDateTime.of(1998, 1, 1, 0, 0)
    val orders = graft.sources.Tables.orders(spark, sf)
      .select(col("o_custkey"), col("o_orderdate")).collect()
      .map(r => (r.getAs[Long]("o_custkey"), tsOf(r, "o_orderdate")))
    val pre = orders.filter(_._2.isBefore(cut)).map(_._1).toSet
    val post = orders.filterNot(_._2.isBefore(cut)).map(_._1).toSet
    assert(out.keySet == pre ++ post)
    out.foreach { case (k, (action, lastDate)) =>
      val expected =
        if (!pre.contains(k)) "insert"
        else if (!post.contains(k)) "unchanged"
        else "update"
      assert(action == expected, s"custkey $k: $action != $expected")
      // post-merge snapshot carries the key's true latest order date
      val latest = orders.filter(_._1 == k).map(_._2).max(
        Ordering.fromLessThan[LocalDateTime](_ isBefore _))
      assert(lastDate == latest)
    }
  }

  test("triangles: counts match a brute-force check; identities hold") {
    val out = Graph.graphTriangles(spark, sf).collect()
    assert(out.nonEmpty)
    // rebuild the undirected edge set the operator derives
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val part = spark.read.parquet(s"$sf/part.parquet")
    val ob = li.join(part, col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey").as("ok"), col("p_brand").as("brand")).distinct()
    val edges = ob.as("a").join(ob.as("b"),
        col("a.ok") === col("b.ok") && col("a.brand") < col("b.brand"))
      .select(col("a.brand").as("u"), col("b.brand").as("v")).distinct()
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
    def adj(u: String) = edges.collect {
      case (a, b) if a == u => b
      case (a, b) if b == u => a
    }
    // brute-force per-node triangle count over the tiny brand graph
    val brute = nodes.map { u =>
      val nb = adj(u).toSeq
      u -> (for {
        i <- nb.indices; j <- (i + 1) until nb.length
        if edges(if (nb(i) < nb(j)) (nb(i), nb(j)) else (nb(j), nb(i)))
      } yield 1).size.toLong
    }.toMap
    out.foreach { r =>
      val (brand, deg, tri) = (r.getString(0), r.getAs[Long]("deg"), r.getAs[Long]("triangles"))
      assert(tri == brute(brand), s"$brand: $tri vs brute ${brute(brand)}")
      assert(deg == adj(brand).size.toLong)
      val cc = r.getAs[Double]("clustering_coeff")
      assert(cc >= 0.0 && cc <= 1.0 + 1e-9)
    }
    // each triangle is counted once per corner: total is divisible by 3
    assert(out.map(_.getAs[Long]("triangles")).sum % 3 == 0)
  }
}
