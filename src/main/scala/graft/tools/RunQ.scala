package graft.tools

/** Runs named registered queries and prints row counts + a sample —
  * the fast "does this new query return sane rows" probe before the
  * full Verify gate. Usage: `runMain graft.tools.RunQ q_a q_b [--show]`
  */
object RunQ {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: RunQ <query-name>... [--show]")
    val show = args.contains("--show")
    val names = args.filterNot(_.startsWith("--"))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.01")
    val spark = graft.Graft.harness()
    names.foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      println(s"[runq] $name rows=${df.count()}")
      if (show) df.show(10, truncate = false)
    }
    spark.stop()
  }
}
