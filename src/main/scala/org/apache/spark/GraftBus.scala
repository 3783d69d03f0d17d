package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private.
  * A harness drains the bus before it reads listener totals, so every
  * event of a finished action is counted without a guessed sleep. */
object GraftBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Spark's package-private temp-dir maker: a new, uniquely named dir
    * `graft-<uuid>` under `root`, which Spark's shutdown hook deletes
    * after the SparkContext has stopped. */
  def tempDir(root: String): java.io.File =
    util.Utils.createTempDir(root, "graft")
}
