package org.apache.spark.scheduler

import scala.util.control.NonFatal

import org.apache.spark.SparkContext

/** The width a stage sets: its own task count, or, for a map stage, the
  * number of partitions its shuffle writes (the task count of the stage
  * that will read it) if that is larger. Only the scheduler records the
  * shuffle, so this reads it from inside Spark's package. */
object ShuffleWidth {
  def apply(sc: SparkContext, s: StageInfo): Int = {
    val readers = try s.shuffleDepId.flatMap(id =>
      sc.dagScheduler.shuffleIdToMapStage.get(id).map(_.shuffleDep.partitioner.numPartitions))
    catch { case NonFatal(_) => None }
    s.numTasks.max(readers.getOrElse(0))
  }
}
