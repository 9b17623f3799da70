package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft session is built. A user of the reference
  * library gets the whole engine — SQL functions, optimizer rules, the
  * custom as-of strategy, and the conventions every operator assumes
  * (UTC, nanos-as-long parquet reads, AQE) — from [[session]]. Existing
  * sessions can be upgraded in place with [[attach]]. The repository's
  * own mains and test specs take [[harness]]: the same conventions,
  * without the extensions' optimizer rules.
  */
object Graft {

  /** Local cores for [[harness]] sessions: `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** The conventions every graft operator assumes. `shufflePartitions`
    * should track cluster parallelism (cores locally, 2-3x executor
    * cores at scale).
    */
  private def conventions(master: String, shufflePartitions: Int)
      : SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")

  /** Build a session wired for graft. */
  def session(master: String = "local[*]",
      shufflePartitions: Int = Runtime.getRuntime.availableProcessors)
      : SparkSession = {
    val s = conventions(master, shufflePartitions)
      .appName("graft")
      .config("spark.sql.extensions", classOf[plans.GraftExtensions].getName)
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .getOrCreate()
    attach(s)
    s
  }

  /** Session for Verify, Bench, the `graft.tools` mains and the specs:
    * `local[cores]` with the conventions, UI off and WARN logging.
    * `spark.sql.extensions` is deliberately NOT loaded — its optimizer
    * rules would change the plans Bench times and Verify dumps; the
    * graft_* SQL names come from [[attach]] where a caller needs them.
    */
  def harness(cores: Int = cpus): SparkSession = {
    val s = conventions(s"local[$cores]", cores)
      // memory-sink Complete-mode results collect to the driver; the
      // sf10 session table overflows the 1g default and the sf100 one
      // brushes 8g (oracle surface only — production streams write to
      // real sinks, never memory)
      .config("spark.driver.maxResultSize", "16g")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Upgrade an existing session in place (idempotent): registers the
    * graft_* SQL functions and installs the planner strategy. Optimizer
    * rules injected via extensions need [[session]]; the rewrite-based
    * operators fall back to their explicit formulations without them.
    */
  def attach(spark: SparkSession): Unit =
    plans.GraftExtensions.register(spark)
}
