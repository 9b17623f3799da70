package graftbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import java.util.concurrent.locks.LockSupport

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.streaming.StreamingQueryListener._

import graft.sources.wire.GraftWireOffset

/** The live-tail subscription, driven open loop: capture files are
  * renamed into the watched directory on a fixed schedule whether or not
  * the query keeps up, and each file's latency runs from the moment it
  * was due to the commit of the micro-batch that ingested it. */
object Live {
  val TriggerMs = 100L

  final case class Progress(observedNs: Long, movedFiles: Int,
      p: StreamingQueryProgress)

  final case class Result(latencyMs: Seq[Double], framesPerS: Double,
      genLagMsMax: Double, progress: Seq[Progress], windows: Check.Windows,
      drained: Boolean, failure: Option[Throwable]) {
    def dataBatches: Seq[StreamingQueryProgress] =
      progress.map(_.p).filter(_.numInputRows > 0)
    def droppedLate: Long = progress.flatMap(_.p.stateOperators)
      .map(_.numRowsDroppedByWatermark).sum
    /** Files in the watched directory not yet committed, at each trigger. */
    def backlogMax: Int = {
      var seen = 0
      progress.map { ev =>
        seen = math.max(seen, ingested(ev.p).size); ev.movedFiles - seen
      }.foldLeft(0)(math.max)
    }
  }

  private def name(p: Path): String = p.getFileName.toString

  private def ingested(p: StreamingQueryProgress): Set[String] =
    p.sources.headOption.flatMap(s => Option(s.endOffset)).map(json =>
      GraftWireOffset.fromJson(json).files.map(f => f.substring(f.lastIndexOf('/') + 1))
        .toSet).getOrElse(Set.empty)

  /** Start the subscription over `liveDir`: registry dispatch → protocol
    * filter → watermarked dedup → 1-minute counts in update mode → a
    * `foreachBatch` sink that keeps the latest value of every window. */
  def start(spark: SparkSession, liveDir: String, ckpt: String,
      sink: ConcurrentHashMap[(Long, String, String), (Long, Long)])
      : StreamingQuery =
    Pipeline.windowed(Pipeline.upToDedup(
        spark.readStream.format("graft-wire").load(liveDir)))
      .writeStream
      .outputMode("update")
      .trigger(Trigger.ProcessingTime(TriggerMs))
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: DataFrame, _: Long) =>
        Check.windowsOf(b).foreach { case (k, v) => sink.put(k, v) }
      }
      .start()

  private def waitFor(deadlineNs: Long)(cond: => Boolean): Boolean = {
    while (!cond && System.nanoTime() < deadlineNs) Thread.sleep(10)
    cond
  }

  private def move(f: Path, dir: Path): Unit =
    Files.move(f, dir.resolve(f.getFileName), StandardCopyOption.ATOMIC_MOVE)

  /** Warm-up: run the subscription over copies of `files` until they are
    * committed, then stop it. Compiles the plan's code and loads the
    * state-store classes before anything is timed. */
  def warmUp(spark: SparkSession, files: Seq[Path], dir: Path): Unit = {
    val live = Files.createDirectories(dir.resolve("live"))
    files.foreach(f => Files.copy(f, live.resolve(f.getFileName)))
    val log = new Trace.ProgressLog
    spark.streams.addListener(log)
    val q = start(spark, live.toString, dir.resolve("ckpt").toString,
      new ConcurrentHashMap())
    try {
      val want = files.map(name).toSet
      if (!waitFor(System.nanoTime() + 60000000000L)(
          log.all.exists(e => want.subsetOf(ingested(e._2)))))
        throw new IllegalStateException("live warm-up did not drain")
    } finally { q.stop(); spark.streams.removeListener(log) }
  }

  /** Run the open loop: `warm` files are placed before the query starts
    * and committed untimed; the rest are due every `periodMs` from then
    * on. Every file holds `framesPerFile` frames. */
  def run(spark: SparkSession, files: IndexedSeq[Path], framesPerFile: Int,
      warm: Int, periodMs: Long, dir: Path): Result = {
    val live = Files.createDirectories(dir.resolve("live"))
    val moved = new AtomicInteger(0)
    val log = new java.util.concurrent.ConcurrentLinkedQueue[Progress]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        log.add(Progress(System.nanoTime(), moved.get, e.progress))
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    val sink = new ConcurrentHashMap[(Long, String, String), (Long, Long)]()
    files.take(warm).foreach { f => move(f, live); moved.incrementAndGet() }
    spark.streams.addListener(listener)
    val q = start(spark, live.toString, dir.resolve("ckpt").toString, sink)
    def allIngested(want: Set[String]): Boolean =
      log.asScala.exists(ev => want.subsetOf(ingested(ev.p)))
    val sched = files.drop(warm)
    val dueNs = new Array[Long](sched.size)
    var lagMax = 0.0
    var t0 = 0L
    var failure: Option[Throwable] = None
    var drained = false
    try {
      if (!waitFor(System.nanoTime() + 60000000000L)(
          allIngested(files.take(warm).map(name).toSet) || !q.isActive))
        throw new IllegalStateException("live warm files were not committed")
      t0 = System.nanoTime()
      var i = 0
      while (i < sched.size && q.isActive) {
        dueNs(i) = t0 + i * periodMs * 1000000L
        var now = System.nanoTime()
        while (now < dueNs(i)) {
          LockSupport.parkNanos(dueNs(i) - now); now = System.nanoTime()
        }
        move(sched(i), live)
        moved.incrementAndGet()
        lagMax = math.max(lagMax, (System.nanoTime() - dueNs(i)) / 1e6)
        i += 1
      }
      drained = waitFor(System.nanoTime() + 60000000000L)(
        allIngested(files.map(name).toSet) || !q.isActive) && q.isActive
    } catch { case e: Throwable => failure = Some(e) }
    finally {
      failure = failure.orElse(q.exception)
      q.stop()
      spark.streams.removeListener(listener)
    }
    // first progress that shows each file as ingested
    val progress = log.asScala.toSeq.sortBy(_.p.batchId)
    val commitNs = scala.collection.mutable.Map.empty[String, Long]
    progress.foreach { ev =>
      ingested(ev.p).foreach(f => if (!commitNs.contains(f)) commitNs(f) = ev.observedNs)
    }
    val lat = sched.indices.flatMap { i =>
      commitNs.get(name(sched(i))).map(c => (c - dueNs(i)) / 1e6)
    }
    // Commit throughput while load is offered: over the batches that
    // started before the last file was due, the frames committed after the
    // first of them, divided by the time between their first and last
    // commit. Batches that start after the schedule ends see a thinning
    // tail and would bias the rate low.
    val lastDue = if (sched.isEmpty) t0 else dueNs(sched.size - 1)
    val loaded = progress.filter { ev =>
      val te = Option(ev.p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      ev.p.numInputRows > 0 && ev.observedNs - te * 1000000L <= lastDue &&
        ev.observedNs > t0
    }.map(_.observedNs).sorted
    val rate = if (loaded.size < 2) 0.0 else {
      val frames = sched.filter(f => commitNs.get(name(f)).exists(c =>
        c > loaded.head && c <= loaded.last)).size * framesPerFile
      frames / ((loaded.last - loaded.head) / 1e9)
    }
    Result(lat, rate, lagMax, progress, sink.asScala.toMap,
      drained && lat.size == sched.size, failure)
  }
}
