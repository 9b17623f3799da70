package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.exprs.le_long
import graft.sources.{EventSink, ProtocolRegistry, RealLayouts}
import graft.streaming.{EventStreamPipelines, EventSubscription, SubscriptionConfig}

/** The pipeline under test, composed only of the library's public calls:
  * wire read → envelope + registry dispatch → include-list filter →
  * signature dedup → 1-minute metrics → sink. Each stage is a function of
  * the previous one, so the same composition serves the batch replay, the
  * streaming subscription and the prefix cuts of the traced run.
  */
object Pipeline {
  val Watermark = "10 minutes"

  /** Field that names the pool or mint each layout is about. */
  private val KeyField = Map(
    "pf_trade" -> "mint", "pf_migrate" -> "mint", "ps_buy" -> "pool",
    "ps_sell" -> "pool", "ps_create_pool" -> "pool", "ps_deposit" -> "pool",
    "ps_withdraw" -> "pool", "bonk_trade" -> "pool_state",
    "bonk_pool_create" -> "pool_state", "damm_swap" -> "pool")

  /** Program id of a frame, from its capture file name `<protocol>-<n>.bin`:
    * a file is one subscription connection, and the connection knows its
    * program. */
  private def programOf(file: Column): Column = {
    val proto = substring_index(substring_index(file, "/", -1), "-", 1)
    RealLayouts.logRegistry.foldRight(lit(null).cast("string")) { (p, rest) =>
      when(proto === p.protocol, lit(p.program)).otherwise(rest)
    }
  }

  /** Registry layer: split the 16-byte envelope (block time, signature id)
    * off each frame, dispatch the body over the real log registry, and
    * project one flat event row per frame. Unknown frames keep
    * `protocol = "unknown"`. */
  def decoded(frames: DataFrame): DataFrame = {
    val payload = col("payload")
    val whole = octet_length(payload) >= 16
    val env = frames.select(
      programOf(col("file")).as("program_id"),
      when(whole, le_long(payload, 0)).as("ts_us"),
      when(whole, le_long(payload, 8)).as("event_id"),
      expr("substring(payload, 17)").as("body"))
    val d = ProtocolRegistry.dispatch(env, RealLayouts.logRegistry,
      payload = "body", programCol = Some("program_id"))
    d.select(
      col("event_id"),
      timestamp_micros(col("ts_us")).as("ts"),
      col("protocol"),
      col("event_kind").as("event_type"),
      coalesce(Gen.Layouts.map(l =>
        col(s"${l.kind}.${l.amountField}").cast("bigint")): _*).as("amount"),
      coalesce(Gen.Layouts.map(l => col(s"${l.kind}.${KeyField(l.kind)}")): _*)
        .as("key"))
  }

  /** Filter layer: the subscriber's class filter, then its protocol
    * include-list, which names the four generated protocols and so drops
    * exactly the frames the registry could not decode. */
  def filtered(events: DataFrame): DataFrame =
    EventSubscription.filtered(
      ProtocolRegistry.filterClasses(events, Seq("transaction")),
      SubscriptionConfig(includeProtocols = Gen.Protocols))

  /** Dedup layer: watermarked dropDuplicates on the signature id (the
    * watermark is a no-op on a batch plan). */
  def deduped(events: DataFrame): DataFrame =
    EventStreamPipelines.dedupStream(events, Watermark)

  /** Metrics layer: tumbling 1-minute count and amount per
    * (protocol, event type). */
  def windowed(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 minute"), col("protocol"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("amount")).as("amount_sum"))
      .select(unix_seconds(col("window.start")).as("ws"), col("protocol"),
        col("event_type"), col("n"), col("amount_sum"))

  def upToDedup(frames: DataFrame): DataFrame =
    deduped(filtered(decoded(frames)))

  def readCapture(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("graft-wire").load(dir)

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Where one replay pass writes. `events` is None when the workload
    * writes only its metrics table. */
  final case class Outputs(events: Option[String], metrics: String)

  /** One full batch pass. With an events sink the deduped events land in
    * the date-partitioned layout first and the metrics are computed from
    * that stored layout, so no stage runs twice; without one the metrics
    * are computed straight from the deduped stream. */
  def fullPass(spark: SparkSession, capture: String, out: Outputs): Unit = {
    val events = upToDedup(readCapture(spark, capture))
    out.events match {
      case Some(dir) =>
        EventSink.writePartitionedByDay(events, dir)
        windowed(EventSink.readPartitioned(spark, dir))
          .write.mode("overwrite").parquet(out.metrics)
      case None =>
        windowed(events).write.mode("overwrite").parquet(out.metrics)
    }
  }

  /** The pipeline cut at each layer boundary, in pipeline order. Every
    * cut runs the whole prefix up to and including its layer; the last
    * one is the full pass. `observe` wraps a cut's output so its row
    * count is recorded in the same execution. */
  def cuts(spark: SparkSession, capture: String, out: Outputs, observe: (String, DataFrame) => DataFrame)
      : Seq[(String, () => Unit)] = {
    def raw = readCapture(spark, capture)
    def cut(name: String, df: => DataFrame): (String, () => Unit) =
      name -> (() => noop(observe(name, df)))
    val common = Seq(
      cut("wire", raw),
      cut("registry", decoded(raw)),
      cut("filter", filtered(decoded(raw))),
      cut("dedup", upToDedup(raw)))
    out.events match {
      case Some(dir) => common ++ Seq(
        "sink" -> (() => EventSink.writePartitionedByDay(
          upToDedup(raw), dir)),
        "metrics" -> (() => fullPass(spark, capture, out)))
      case None => common ++ Seq(
        cut("metrics", windowed(upToDedup(raw))),
        "sink" -> (() => fullPass(spark, capture, out)))
    }
  }
}
