package graft

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.Files
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Partitioned

/** The scratch layout of `graft.sources.Staging`: staged copies are keyed
  * on the full data-dir path, and each JVM stages into a dir of its own
  * that is gone once the JVM has exited. */
class StagingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.local("4")

  private val sf = "/root/testdata/sf0.001"

  /** `body` over a new temp dir, deleted afterwards. */
  private def withTempDir(prefix: String)(body: File => Unit): Unit = {
    val dir = Files.createTempDirectory(prefix).toFile
    try body(dir) finally FileUtils.deleteDirectory(dir)
  }

  test("data dirs that differ only in case and '.' vs '_' get distinct staged copies") {
    withTempDir("graft_keys") { parent =>
      val dirs = Seq("SF0.001", "sf0_001").map { name =>
        val d = new File(parent, name)
        FileUtils.copyToDirectory(new File(s"$sf/events.parquet"), d)
        d.getPath
      }
      val staged = dirs.map(Partitioned.eventsPartitioned(spark, _))
      assert(staged.distinct.size == 2, s"one staged copy for both dirs: $staged")
      staged.foreach(p => assert(new File(p).isDirectory, s"$p was not staged"))
    }
  }

  test("a child JVM stages under its own scratch dir, which is gone after it exits") {
    withTempDir("graft_lifecycle")(childLifecycle)
  }

  private def childLifecycle(root: File): Unit = {
    val jvmArgs = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq
    // the --add-opens flags, in either the "--add-opens=x" or "--add-opens x" form
    val addOpens = jvmArgs.zipWithIndex.flatMap {
      case (a, i) if a == "--add-opens" => Seq(a, jvmArgs(i + 1))
      case (a, _) if a.startsWith("--add-opens=") => Seq(a)
      case _ => Nil
    }
    val cmd = Seq(s"${System.getProperty("java.home")}/bin/java", "-Xmx1g") ++
      addOpens ++ Seq("-cp", System.getProperty("java.class.path"),
                      "graft.StagingSpecChild", sf)
    val pb = new ProcessBuilder(cmd.asJava).redirectErrorStream(true)
    pb.environment().put("SPARK_GRAFT_SCRATCH", root.getPath)
    val child = pb.start()
    val out = scala.io.Source.fromInputStream(child.getInputStream).getLines().toList
    assert(child.waitFor(300, TimeUnit.SECONDS), "child JVM did not exit")
    def tail = out.takeRight(40).mkString("\n")
    assert(child.exitValue() == 0, s"child JVM failed:\n$tail")
    def value(key: String): String =
      out.collectFirst { case l if l.startsWith(s"$key=") => l.stripPrefix(s"$key=") }
        .getOrElse(fail(s"child printed no $key:\n$tail"))
    val childTmp = value("tmpdir")
    assert(childTmp != System.getProperty("java.io.tmpdir"))
    assert(childTmp.startsWith(root.getPath + "/"), s"$childTmp is not under $root")
    assert(value("staged").startsWith(childTmp + "/"))
    assert(value("rows").toInt > 0)
    assert(Option(root.list()).toSeq.flatten.isEmpty,
      s"the scratch root still holds ${root.list().mkString(", ")}")
  }
}

/** The child JVM of [[StagingSpec]]: opens the session, builds
  * `events_partitioned_prune` over the data dir `args(0)`, prints its
  * scratch dir and staged copy, and exits without stopping the session. */
object StagingSpecChild {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local("2")
    println(s"tmpdir=${System.getProperty("java.io.tmpdir")}")
    val rows = SparkEntry.queries("events_partitioned_prune")(spark, args(0)).collect()
    println(s"staged=${Partitioned.eventsPartitioned(spark, args(0))}")
    println(s"rows=${rows.length}")
    sys.exit(0)
  }
}
