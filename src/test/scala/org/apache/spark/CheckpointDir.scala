package org.apache.spark

import java.io.File
import java.nio.file.Files

import org.apache.spark.util.Utils

/** Test access to the reliable-checkpoint dir: runs `body` with `sc`'s
  * checkpoint dir set to a fresh temp dir, then resets it to None (the
  * public API can set a dir but never unset one) and deletes the dir.
  */
object CheckpointDir {
  def apply[T](sc: SparkContext)(body: File => T): T = {
    val dir = Files.createTempDirectory("graft-checkpoints").toFile
    sc.setCheckpointDir(dir.getPath)
    try body(dir)
    finally {
      sc.checkpointDir = None
      Utils.deleteRecursively(dir)
    }
  }
}
