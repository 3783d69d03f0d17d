package graft

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

/** Temp dirs for a spec. Each is made under this JVM's scratch dir (the
  * `java.io.tmpdir` that `GraftSession.local` sets, so the session is
  * started first) and deleted when the spec ends. Spelled out rather than
  * `Files.createTempDirectory(prefix)`, which reads `java.io.tmpdir` once
  * per JVM and so lands in the JVM default temp dir when it first runs
  * before any session. */
trait TempDirs extends BeforeAndAfterAll { this: Suite =>

  def spark: SparkSession

  private val made = new ConcurrentLinkedQueue[File]

  /** A new empty dir named `<prefix><random>`, deleted after the spec. */
  protected def tempDir(prefix: String): String = {
    spark
    val dir = Files.createTempDirectory(
      Paths.get(System.getProperty("java.io.tmpdir")), prefix).toFile
    made.add(dir)
    dir.getPath
  }

  override protected def afterAll(): Unit =
    try made.asScala.foreach(FileUtils.deleteQuietly)
    finally super.afterAll()
}
