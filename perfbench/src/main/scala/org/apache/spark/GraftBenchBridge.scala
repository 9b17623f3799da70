package org.apache.spark

import org.apache.spark.scheduler.StageInfo

/** Reads the shuffle a stage writes, which Spark keeps package-private;
  * the benchmark's trace uses it to map stages onto plan fragments. */
object GraftBenchBridge {
  def shuffleDepId(si: StageInfo): Option[Int] = si.shuffleDepId
}
