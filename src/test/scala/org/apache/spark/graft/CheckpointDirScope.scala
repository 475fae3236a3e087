package org.apache.spark.graft

import org.apache.spark.SparkContext

/** The one way a spec sets a checkpoint dir. The dir alone puts
  * `Barrier.iterCheckpoint` in reliable mode, and SparkContext has no public
  * way to unset it, so a dir left behind would silently run every later
  * suite in the forked test JVM in reliable mode. This sets `dir` (None
  * clears it) for `body` only and restores the previous setting in
  * `finally` through the `private[spark]` field. */
object CheckpointDirScope {
  def apply[T](sc: SparkContext, dir: Option[String])(body: => T): T = {
    val had = sc.checkpointDir
    dir match {
      case Some(d) => sc.setCheckpointDir(d)
      case None    => sc.checkpointDir = None
    }
    try body finally sc.checkpointDir = had
  }
}
