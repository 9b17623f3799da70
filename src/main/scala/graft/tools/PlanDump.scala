package graft.tools

/** Batch plan capture for the optimization-round evidence trail: writes
  * `.explain("formatted")` of each named query to `<outDir>/<name>_<suffix>.txt`
  * so before/after plan diffs are committable artifacts.
  *
  * Usage: runMain graft.tools.PlanDump <outDir> <suffix> <q1,q2,...|ALL> [sfDir]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: PlanDump <outDir> <suffix> <namesCsv|ALL> [sfDir]")
    val outDir = args(0)
    val suffix = args(1)
    val names =
      if (args(2) == "ALL") graft.SparkEntry.queries.keys.toSeq.sorted
      else args(2).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val sfDir = if (args.length > 3) args(3) else "/root/testdata/sf0.001"
    val spark = graft.Graft.harness()
    // SPARK_GRAFT_PLANCONF="k=v,k=v": session confs to apply before the
    // plan builds — lets a dump capture a size-gated regime (e.g. the
    // washPairs mask path) that the tiny default sfDir would not trip
    sys.env.get("SPARK_GRAFT_PLANCONF").foreach(_.split(",")
      .map(_.trim).filter(_.contains("=")).foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        spark.conf.set(k, v)
      })
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      try {
        val df = graft.SparkEntry.queries(name)(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"),
          plan.getBytes("UTF-8"))
        println(s"[plandump] wrote $name")
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
