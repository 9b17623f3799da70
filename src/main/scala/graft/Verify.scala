package graft
import java.nio.file.{Files, Paths}
import graft.tools.DumpOracles
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Graft.harness()
    new java.io.File(outDir).mkdirs()
    // run queries on a small pool: per-query wall time is dominated by
    // job-scheduling overhead on these small inputs, and Spark happily
    // interleaves jobs from multiple submitter threads. At the big
    // scale sidecars (sf100) four concurrent heavy plans can exceed
    // the heap together even when each fits alone — SPARK_GRAFT_POOL=1
    // serializes them (scale-harness knob, like SPARK_GRAFT_ONLY)
    val poolSize = sys.env.getOrElse("SPARK_GRAFT_POOL", "4").toInt
    val pool = java.util.concurrent.Executors.newFixedThreadPool(poolSize)
    // local subset runs (builder-side scale checks); the driver leaves
    // this unset and gets the full suite
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    // single-file dumps are the driver's default contract, but one
    // coalesced task hits JVM 2 GB array limits on corpus-sized
    // outputs (witnessed at sf100: 20M–100M-row decode/session
    // results) — SPARK_GRAFT_COALESCE=0 writes normally-partitioned
    // parquet instead; check_oracle.py globs the directory either way
    // (pair with GRAFT_HASH_MODE=1 for the order-independent
    // engine-side compare at scale)
    val coalesce1 = sys.env.getOrElse("SPARK_GRAFT_COALESCE", "1") != "0"
    val tasks = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
      pool.submit(new Runnable {
        override def run(): Unit =
          try {
            val df = fn(spark, sfDir)
            (if (coalesce1) df.coalesce(1) else df)
              .write.mode("overwrite").parquet(s"$outDir/$name")
            // outDir reuse is the documented workflow (parquet mode is
            // overwrite) — a stale failure manifest from a previous run
            // would otherwise shadow this now-green dump forever, since
            // check_oracle.py checks the manifest first and skips the
            // parquet entirely
            Files.deleteIfExists(Paths.get(s"$outDir/${name}_FAILED.json"))
          }
          catch { case e: Throwable =>
            // a throwing query must be distinguishable from "never
            // registered": stderr scrolls away, so drop a failure
            // manifest the oracle checker turns into an `err` row with
            // the exception text instead of a silent absentee
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
            val msg = s"${e.getClass.getName}: ${String.valueOf(e.getMessage)}"
            scala.util.Try(Files.writeString(
              Paths.get(s"$outDir/${name}_FAILED.json"),
              DumpOracles.jsonObject(Seq("query" -> name, "error" -> msg))))
          }
      })
    }
    tasks.foreach(_.get())
    pool.shutdown()
    DumpOracles.write(s"$outDir/oracle_sql.json", only)
    spark.stop()
  }
}
