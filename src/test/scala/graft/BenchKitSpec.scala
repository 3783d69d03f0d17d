package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The harness plumbing: task totals counted without a sleep, the load
  * gate setting, and error text that survives the JSON artifact. */
class BenchKitSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local("4")

  test("task metrics: delta counts a finished shuffle action without a sleep") {
    // a listener ahead in the shared bus queue lags every task event, as
    // a busy Spark driver's would; the snapshot must still see them all
    val slow = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Thread.sleep(20)
    }
    spark.sparkContext.addSparkListener(slow)
    val tasks = new BenchKit.TaskMetricsListener(spark.sparkContext)
    try (1 to 5).foreach { i =>
      val m0 = tasks.snapshot()
      spark.range(0, 4000000, 1, 4).repartition(4).count()
      val d = tasks.delta(m0)
      assert(d("shuffle_write") > 0, s"round $i: $d")
      // the final stage's tasks end just before count() returns: their
      // reads must be in already
      assert(d("shuffle_read") == d("shuffle_write"), s"round $i: $d")
      assert(d("run_ms") > 0, s"round $i: $d")
    }
    finally Seq(slow, tasks).foreach(spark.sparkContext.removeSparkListener)
  }

  test("load gate: default 2.0, off/0/negative disable, bad value names the variable") {
    assert(BenchKit.loadGate(None) == Some(2.0))
    Seq("off", "0", "-1").foreach(v => assert(BenchKit.loadGate(Some(v)).isEmpty, v))
    assert(BenchKit.loadGate(Some("3.5")) == Some(3.5))
    val e = intercept[IllegalArgumentException](BenchKit.loadGate(Some("abc")))
    assert(e.getMessage.contains(BenchKit.LoadGateVar), e.getMessage)
  }

  test("errors: a recorded message with quote, backslash, newline and tab parses back") {
    val msg = "bad \"col\" at C:\\tmp\nline\tcol"
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    assert(BenchKit.timeOrRecord(errors, "cold:q")(throw new RuntimeException(msg)) == -1.0)
    val json = new ObjectMapper().readTree(BenchKit.jsonObject(errors))
    assert(json.get("cold:q").asText == msg)
  }
}
