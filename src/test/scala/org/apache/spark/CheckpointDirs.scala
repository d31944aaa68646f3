package org.apache.spark

/** Scoped checkpoint dir for specs, and the checkpoint file behind a
  * frame. The checkpoint dir is SparkContext-global and Spark offers no
  * public way to clear it, so a spec that needs a reliable-checkpoint
  * session sets a fresh temporary dir for one block and restores the
  * previous setting afterwards — the shared test session's checkpoint
  * mode then never depends on suite order. */
object CheckpointDirs {
  def withTempDir[T](sc: SparkContext)(body: => T): T = {
    val prev = sc.checkpointDir
    val dir = java.nio.file.Files.createTempDirectory("graft-ck-scoped")
    sc.setCheckpointDir(dir.toString)
    try body
    finally {
      sc.checkpointDir = prev
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir)
        .sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  /** The checkpoint file behind a frame rooted at a checkpoint — None for
    * a `localCheckpoint` (or no checkpoint at all). */
  def checkpointFile(df: org.apache.spark.sql.DataFrame): Option[String] =
    df.queryExecution.analyzed
      .collectFirst { case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd }
      .flatMap(_.getCheckpointFile)
}
