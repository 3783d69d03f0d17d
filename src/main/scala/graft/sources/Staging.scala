package graft.sources

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import org.apache.commons.io.FileUtils

/** The one owner of the scratch layout. `GraftSession.local` points
  * `java.io.tmpdir` at a dir of this JVM's own, which Spark deletes when
  * the JVM exits; every staged copy of an input (partitioned, bucketed,
  * format and evolution fixtures, the ANN/PQ/MinHash index artifacts,
  * the scaled bench corpus) lives under it and is written through
  * [[staged]], and every per-drain streaming dir comes from
  * [[scratchPath]].
  *
  * A staged copy is fresh when its write completed and it carries a
  * stamp of the SOURCE file identity (length + mtime) that still matches
  * the source. The stamp is a fault check: this repo has already been
  * bitten once by testdata regenerating under a cached assumption (the
  * r3 ts-encoding desync), so a regenerated source re-stages even within
  * one JVM. */
object Staging {

  private def root: String = System.getProperty("java.io.tmpdir")

  private def stampOf(source: File): String =
    s"${source.length}:${source.lastModified}"

  private def stampFile(path: String): File = new File(s"$path/_GRAFT_SRC_STAMP")

  /** True when `path` holds a copy staged from the CURRENT `source`. The
    * stamp is written only after the write returned (and [[staged]]
    * clears the dir before every write), so a stamp that is present
    * also means the write completed. */
  private def isFresh(path: String, source: String): Boolean = {
    val stamp = stampFile(path)
    stamp.exists() &&
      new String(Files.readAllBytes(stamp.toPath), UTF_8) == stampOf(new File(source))
  }

  private def markStaged(path: String, source: String): Unit = {
    Files.createDirectories(Paths.get(path))
    Files.write(stampFile(path).toPath, stampOf(new File(source)).getBytes(UTF_8))
  }

  /** `dir` as a name tag: a readable part (non-alphanumerics → `_`, lower
    * case) plus an md5 prefix of the FULL path, because the readable part
    * alone is lossy — `…/SF0.001` and `…/sf0_001` read alike and must
    * not share a staged copy or a catalog table. */
  private[graft] def tag(dir: String): String = {
    val hash = MessageDigest.getInstance("MD5").digest(dir.getBytes(UTF_8))
      .take(4).map("%02x".format(_)).mkString
    dir.replaceAll("[^A-Za-z0-9]", "_").toLowerCase + "_" + hash
  }

  /** Where artifact `name` (e.g. `part`, `annix_c16_i3`) staged from data
    * dir `dir` lives: `graft_<name><tag>` under this JVM's scratch dir. */
  private[graft] def pathOf(name: String, dir: String): String =
    s"$root/graft_$name${tag(dir)}"

  /** The staged copy of artifact `name` for data dir `dir`: runs
    * `write(path)` only when the copy at [[pathOf]] is not fresh against
    * `source` (or `reuse` is false), on a cleared dir, then stamps it.
    * Returns the path. Staging is serialized within the JVM, so two
    * threads never write one copy at once. */
  private[graft] def staged(name: String, dir: String, source: String,
                            reuse: Boolean = true)(write: String => Unit): String =
    synchronized {
      val path = pathOf(name, dir)
      if (!reuse || !isFresh(path, source)) {
        FileUtils.deleteDirectory(new File(path))
        write(path)
        markStaged(path, source)
      }
      path
    }

  /** A fresh, uniquely named path under this JVM's scratch dir for one
    * streaming drain's staged input or output; the drain deletes it. */
  private[graft] def scratchPath(tag: String): String =
    s"$root/graft_${tag}_${System.nanoTime()}"
}
