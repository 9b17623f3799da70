package graftbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types.{BinaryType, StructField, StructType}

import com.sun.management.GarbageCollectionNotificationInfo

import graft.sources.EventSink
import graft.sources.wire.{GraftWireTable, GraftWireWriter}

/** Benchmark entry point: one workload, one seed, one run.
  *
  * {{{
  * Main --workload replay_mixed|live_tail --seed N
  *      --seconds S --trace 0|1 --work DIR --out DIR [--perturb-oracle 1]
  * }}}
  *
  * Prints a few human-readable lines, then, as the last line, one JSON
  * object: `correct`, `attempted`, `failed` and `metrics`. With
  * `--trace 0` the metrics are the end-to-end ones; with `--trace 1` they
  * are the per-layer ones. Working files go under `--work`; a traced run
  * writes its spans under `--out`.
  */
object Main {
  // ---------------------------------------------------------- workloads

  /** Replay capture size: frames per run and capture files. */
  val ReplayFrames = 800000
  val ReplayFiles = 24
  /** Live tail: frames per file, files per second offered, warm files. */
  val LiveFramesPerFile = 400
  val LivePeriodMs = 80L
  val LiveWarmFiles = 8
  /** Capture generations per run; `setup_s` reports their median. */
  val SetupReps = 3
  val MinPasses = 3
  /** Untimed full passes before a replay's timed passes. */
  val WarmPasses = 2
  /** Traced run: full passes with and without the listeners. */
  val OverheadPasses = 2
  /** Shuffle partitions, one per core of a 4-core session: a live trigger
    * then runs and commits 8 state-store tasks rather than 16, so its fixed
    * cost, and the latency, swing less with the host's I/O; and a replay's
    * reduce side runs in one wave, so its heap peak does not depend on how
    * two waves overlap. */
  val Partitions = 4
  /** Traced run: repetitions of every prefix cut over the replay capture
    * (seconds per cut) and over the live tail's batch form (about a
    * second per cut, so more of them). */
  val ReplayCutPasses = 1
  val LiveCutPasses = 3

  final case class Opts(workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: Path, out: Path, perturb: Boolean)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing $k"))
    val w = need("--workload")
    require(Set("replay_mixed", "live_tail")(w),
      s"unknown workload $w")
    Opts(w, need("--seed").toLong, need("--seconds").toInt,
      need("--trace") == "1", Paths.get(need("--work")), Paths.get(need("--out")),
      m.get("--perturb-oracle").contains("1"))
  }

  // ------------------------------------------------------------ helpers

  final class Metrics {
    val values = mutable.LinkedHashMap.empty[String, (Double, String)]
    def update(name: String, vu: (Double, String)): Unit = {
      require(!vu._1.isNaN && !vu._1.isInfinite, s"$name is ${vu._1}")
      values(name) = vu
    }
    def json: String = values.map { case (k, (v, u)) =>
      s""""$k": {"value": ${java.lang.Double.toString(v)}, "unit": "$u"}"""
    }.mkString("{", ", ", "}")
  }

  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else {
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  private val StartNs = System.nanoTime()
  /** Progress note on stderr, with seconds since the JVM started the run. */
  def note(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - StartNs) / 1e9}%7.1f s] $msg")

  private def secs[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).sorted(java.util.Comparator.reverseOrder())
      .iterator().asScala.foreach(f => Files.delete(f))

  /** Bytes and data files under a directory (parquet parts, frame files). */
  private def dirStats(p: Path): (Long, Long) = {
    if (!Files.exists(p)) return (0L, 0L)
    val fs = Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .filter { f => val n = f.getFileName.toString
        !n.startsWith(".") && !n.startsWith("_") }.toSeq
    (fs.size.toLong, fs.map(Files.size).sum)
  }

  /** Heap in use while the timed work runs, and collector totals.
    *
    * Every collection the work triggers reports the heap left in use
    * right after it, through the collectors' notifications: that is what
    * the work holds live at that moment (plans, shuffle buffers,
    * aggregation maps, state stores). An interval's peak is the largest
    * such figure among the collections that started inside that
    * [[watch]]ed interval; `peakBytes` is the median of the intervals'
    * peaks. Explicit `System.gc()` calls, which run only between timed
    * intervals, are left out.
    */
  final class HeapWatch {
    private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    private val uptime = ManagementFactory.getRuntimeMXBean
    /** (collection start, ms since JVM start; heap bytes after it) */
    private val collections = new ConcurrentLinkedQueue[(Long, Long)]()
    private val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
    private val listener = new NotificationListener {
      def handleNotification(n: Notification, handback: AnyRef): Unit =
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[CompositeData])
          if (info.getGcCause != "System.gc()") {
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
              case (pool, u) if heapPools(pool) => u.getUsed }.sum
            collections.add((info.getGcInfo.getStartTime, used))
          }
        }
    }
    beans.foreach(_.asInstanceOf[NotificationEmitter]
      .addNotificationListener(listener, null, null))

    /** Run `f` as watched work. The caller collects first, outside its
      * timing, so every interval starts from the same retained heap. */
    def watch[T](f: => T): T = {
      val t0 = uptime.getUptime
      try f finally intervals += ((t0, uptime.getUptime))
    }
    /** Peak bytes and collection count of every watched interval. */
    def peaks: Seq[(Long, Int)] = {
      Thread.sleep(200) // notifications are delivered asynchronously
      intervals.toSeq.map { case (a, b) =>
        val inside = collections.asScala.toSeq.collect {
          case (t, used) if t >= a && t <= b => used }
        require(inside.nonEmpty, "no collection ran during a timed interval")
        (inside.max, inside.size)
      }
    }
    def peakBytes: Double = median(peaks.map(_._1.toDouble))
    def gcCount: Long = beans.map(_.getCollectionCount).sum
    def gcMs: Long = beans.map(_.getCollectionTime).sum
  }

  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // fixed, so the one-core baseline runs the same plan
      .config("spark.sql.shuffle.partitions", Partitions.toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Write a capture through the library's frame writer (one partition
    * per file), then name each file `<protocol>-<index>.bin`. */
  def writeCapture(spark: SparkSession, files: IndexedSeq[Gen.CaptureFile],
      dir: Path): IndexedSeq[Path] = {
    val stage = Paths.get(dir.toString + ".stage")
    deleteTree(dir)
    Files.createDirectories(dir)
    val rdd = spark.sparkContext
      .parallelize(files.map(_.frames), files.size)
      .flatMap(_.iterator).map(b => Row(b))
    val df = spark.createDataFrame(rdd,
      StructType(Seq(StructField("payload", BinaryType, nullable = false))))
    GraftWireWriter.writeFrames(df, stage.toString)
    val out = files.indices.map { i =>
      val dst = dir.resolve(f"${files(i).protocol}-$i%06d.bin")
      Files.move(stage.resolve(s"part-$i.bin"), dst)
      dst
    }
    deleteTree(stage)
    out
  }

  // --------------------------------------------------------- replay runs

  /** A written capture and its checks; the generated frames themselves
    * are not kept, only the oracle. */
  final case class ReplayCtx(spark: SparkSession, o: Opts, oracle: Gen.Oracle,
      dir: Path, out: Pipeline.Outputs, expected: Check.Windows)

  /** Check one replay pass's outputs; returns the mismatches. */
  def checkReplay(c: ReplayCtx): Seq[String] = {
    val got = Check.windowsOf(c.spark.read.parquet(c.out.metrics))
    val sinkRows = c.out.events.toSeq.flatMap(d =>
      Check.count("sink rows", c.spark.read.parquet(d).count(),
        c.oracle.distinctEvents))
    Check.windows(got, c.expected) ++ sinkRows
  }

  /** Passes or live runs attempted and failed, and the outcome of the
    * oracle self-tests (a run that never self-tests is not correct). */
  final case class Tally(var attempted: Int = 0, var failed: Int = 0) {
    private var selfTests = Option.empty[Boolean]
    def selfTested(ok: Boolean): Unit = selfTests = Some(selfTests.forall(identity) && ok)
    def selfTestOk: Boolean = selfTests.contains(true)
    def record(errors: Seq[String], threw: Option[Throwable]): Unit = {
      attempted += 1
      threw.foreach(e => System.err.println(s"pass failed: $e"))
      errors.take(5).foreach(e => System.err.println(s"mismatch: $e"))
      if (threw.nonEmpty || errors.nonEmpty) failed += 1
    }
  }

  /** One timed full pass plus its (untimed) check; `span` records the
    * pass as a span of a traced run, and `heap` watches it after an
    * untimed full collection. */
  def replayPass(c: ReplayCtx, tally: Tally,
      span: Option[(Trace.Spans, Int)] = None,
      heap: Option[HeapWatch] = None): Double = {
    def run(): Unit = Pipeline.fullPass(c.spark, c.dir.toString, c.out)
    def spanned(): Unit = span match {
      case Some((spans, i)) => spans.time(c.spark.sparkContext, "full", i, "")(run())
      case None => run()
    }
    if (heap.nonEmpty) System.gc()
    val (r, s) = secs(Try(heap match {
      case Some(h) => h.watch(spanned())
      case None => spanned()
    }))
    val errors = if (r.isSuccess) checkReplay(c) else Nil
    tally.record(errors, r.failed.toOption)
    s
  }

  def replay(o: Opts, sessionS: Double, spark0: SparkSession,
      heap: HeapWatch): (Tally, Metrics) = {
    val out = Pipeline.Outputs(Some(o.work.resolve("sink").toString),
      o.work.resolve("metrics").toString)
    val dir = o.work.resolve("capture")
    val tally = Tally()
    val m = new Metrics
    var oracle: Gen.Oracle = null
    val writeS = mutable.ArrayBuffer.empty[Double]
    // set-up: generate and write the capture several times (one seed, one
    // capture), then untimed warm-up passes
    val genS = (1 to SetupReps).map { _ =>
      secs {
        val capture = Gen.replay(o.seed, ReplayFrames, ReplayFiles)
        writeS += secs(writeCapture(spark0, capture.files, dir))._2
        oracle = capture.oracle
      }._2
    }
    val expected = if (o.perturb) Check.perturbed(oracle.windows) else oracle.windows
    val ctx = ReplayCtx(spark0, o, oracle, dir, out, expected)
    val codegenMs = if (o.trace) registryCodegenMs(spark0, dir) else 0.0
    // warm-up: the first passes run visibly slower while the JIT compiles
    // the planner and the generated per-row code
    val warm = (1 to WarmPasses).map(_ => replayPass(ctx, Tally())) // checked, not counted
    m("setup_s") = (sessionS + median(genS) + warm.sum, "s")
    note("set-up done")
    if (!o.trace) {
      val passes = mutable.ArrayBuffer.empty[Double]
      val deadline = System.nanoTime() + o.seconds * 1000000000L
      while (passes.size < MinPasses || System.nanoTime() < deadline) {
        passes += replayPass(ctx, tally, heap = Some(heap))
        if (passes.size == 1) tally.selfTested(selfTest(ctx))
      }
      val frames = oracle.frames.toDouble
      println(f"${o.workload}: ${passes.size} passes of $frames%.0f frames, " +
        f"median ${median(passes.toSeq)}%.3f s (${passes.map(p => f"$p%.2f").mkString(" ")}), " +
        f"capture set-ups ${genS.map(s => f"$s%.2f").mkString(" ")} s " +
        f"(writes ${writeS.map(s => f"$s%.2f").mkString(" ")} s), " +
        f"warm-up passes ${warm.map(s => f"$s%.2f").mkString(" ")} s, " +
        "heap peaks " + heap.peaks.map { case (b, n) => f"${b / 1048576.0}%.0f MB/$n GCs" }
          .mkString(" ") + ", " +
        f"${(System.nanoTime() - StartNs) / 1e9}%.1f s in all")
      m("frames_per_s") = (frames / median(passes.toSeq), "1/s")
      m("latency_p50_ms") = (median(passes.toSeq) * 1000, "ms")
      m("latency_p95_ms") = (quantile(passes.toSeq, 0.95) * 1000, "ms")
      m("peak_heap_mb") = (heap.peakBytes / 1048576.0, "MB")
      (tally, m)
    } else {
      val t = tracedReplay(ctx, tally, writeS.toSeq, codegenMs, heap)
      (tally, t)
    }
  }

  def selfTest(c: ReplayCtx): Boolean =
    Check.selfTest(Check.windowsOf(c.spark.read.parquet(c.out.metrics)), c.expected)

  /** Compile time of the registry cut's generated code, the first time it
    * is planned. Preparing the executed plan compiles it on the driver
    * without running a job. */
  def registryCodegenMs(spark: SparkSession, dir: Path): Double = {
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    val before = WholeStageCodegenExec.codeGenTime
    Pipeline.decoded(Pipeline.readCapture(spark, dir.toString))
      .queryExecution.executedPlan.execute()
    (WholeStageCodegenExec.codeGenTime - before) / 1e6
  }

  // ---------------------------------------------------------- trace runs

  /** Shared traced-run measurements over a batch capture: tracing
    * overhead, prefix cuts with row counts, and the SQL-metric fold. */
  final case class Cuts(order: Seq[String], seconds: Map[String, Double],
      rows: Map[String, Long], unknown: Long, fold: Trace.PlanFold,
      untracedS: Double, tracedS: Double, gcMs: Long, gcCount: Long,
      skew: Double)

  def traceBatch(c: ReplayCtx, tally: Tally, spans: Trace.Spans,
      heap: HeapWatch, cutPasses: Int): Cuts = {
    val spark = c.spark
    val sc = spark.sparkContext
    val oracle = c.oracle
    val tl = new Trace.TaskListener
    val pl = new Trace.PlanLog
    val mgr = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].listenerManager
    // tracing overhead: full passes with and without the listeners
    val untraced, traced = mutable.ArrayBuffer.empty[Double]
    val gc0 = (heap.gcCount, heap.gcMs)
    note("trace: overhead passes")
    def tracedPass(i: Int): Double = {
      sc.addSparkListener(tl); mgr.register(pl)
      pl.plans.clear()
      try replayPass(c, tally, Some((spans, i)))
      finally { sc.removeSparkListener(tl); mgr.unregister(pl) }
    }
    // traced and untraced passes in ABBA order, so a warm-up trend weighs
    // on both sides alike
    for (i <- 1 to OverheadPasses) {
      if (i % 2 == 1) traced += tracedPass(i)
      untraced += replayPass(c, tally)
      if (i % 2 == 0) traced += tracedPass(i)
    }
    val gc1 = (heap.gcCount, heap.gcMs)
    tl.settle()
    val fold = Trace.fold(pl.plans.asScala.toSeq, tl, s"full/$OverheadPasses") // last pass
    // prefix cuts, with row counts observed in the same executions
    sc.addSparkListener(tl)
    val obs = mutable.Map.empty[String, Observation]
    def observe(name: String, df: DataFrame): DataFrame = {
      val ob = Observation(name + "-" + System.nanoTime())
      obs(name) = ob
      if (df.columns.contains("protocol"))
        df.observe(ob, count(lit(1)).as("rows"),
          count(when(col("protocol") === "unknown", 1)).as("unknown"))
      else df.observe(ob, count(lit(1)).as("rows"))
    }
    note("trace: prefix cuts")
    val cuts = Pipeline.cuts(spark, c.dir.toString, c.out, observe)
    val times = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    for (pass <- 1 to cutPasses) {
      var parent = ""
      cuts.foreach { case (name, run) =>
        times.getOrElseUpdate(name, mutable.ArrayBuffer.empty) +=
          spans.time(sc, name, pass, parent)(run()).seconds
        parent = name
      }
    }
    tl.settle()
    sc.removeSparkListener(tl)
    val rows = obs.map { case (k, ob) =>
      k -> ob.get.get("rows").map(_.asInstanceOf[Long]).getOrElse(0L) }.toMap
    val unknown = obs.get("registry").flatMap(_.get.get("unknown"))
      .map(_.asInstanceOf[Long]).getOrElse(0L)
    // the last cut is the full pipeline; the observed counts must match
    // the oracle's frames, junk and redeliveries (a batch plan keeps the
    // late events)
    tally.record(checkReplay(c) ++
      Check.count("wire frames", rows.getOrElse("wire", -1L), oracle.frames) ++
      Check.count("unknown frames", unknown, oracle.junk) ++
      Check.count("deduped rows", rows.getOrElse("dedup", -1L),
        oracle.frames - oracle.junk - oracle.duplicates), None)
    tally.selfTested(selfTest(c))
    val wireTasks = tl.tasksOf("wire").map(_.durationMs.toDouble)
    val skew = if (wireTasks.isEmpty) 0.0
      else wireTasks.max / math.max(1.0, median(wireTasks))
    Cuts(cuts.map(_._1), times.map { case (k, v) => k -> median(v.toSeq) }.toMap,
      rows, unknown, fold, median(untraced.toSeq), median(traced.toSeq),
      gc1._2 - gc0._2, gc1._1 - gc0._1, skew)
  }

  /** Layer metrics shared by every workload's traced run. */
  def layerMetrics(m: Metrics, c: ReplayCtx, cuts: Cuts, writeS: Seq[Double],
      codegenMs: Double, listDir: Path): Unit = {
    val spark = c.spark
    val self = cuts.order.zip("" +: cuts.order).map { case (k, prev) =>
      k -> (cuts.seconds(k) - cuts.seconds.getOrElse(prev, 0.0)) }.toMap
    val frames = c.oracle.frames.toDouble
    val (_, captureBytes) = dirStats(c.dir)
    m("wire.read_s") = (self("wire"), "s")
    m("wire.frames") = (cuts.rows.getOrElse("wire", 0L).toDouble, "count")
    m("wire.bytes") = (captureBytes.toDouble, "bytes")
    m("wire.scan_task_skew") = (cuts.skew, "ratio")
    m("wire.list_ms_p50") = (median((1 to 20).map(_ =>
      secs(GraftWireTable.listFrameFiles(listDir.toString))._2 * 1000)), "ms")
    m("wire.capture_write_s") = (median(writeS), "s")
    m("registry.dispatch_s") = (self("registry"), "s")
    m("registry.plan_ms") = (median((1 to 5).map(_ => secs(Pipeline.decoded(
      Pipeline.readCapture(spark, c.dir.toString)).queryExecution.executedPlan)._2 * 1000)), "ms")
    m("registry.codegen_ms") = (codegenMs, "ms")
    m("registry.frames_unknown") = (cuts.unknown.toDouble, "count")
    m("registry.decode_yield") = ((frames - cuts.unknown) / frames, "ratio")
    m("filter.s") = (self("filter"), "s")
    m("filter.rows_in") = (cuts.rows.getOrElse("registry", 0L).toDouble, "count")
    m("filter.rows_out") = (cuts.rows.getOrElse("filter", 0L).toDouble, "count")
    m("dedup.s") = (self("dedup"), "s")
    m("dedup.rows_in") = (cuts.rows.getOrElse("filter", 0L).toDouble, "count")
    m("dedup.rows_out") = (cuts.rows.getOrElse("dedup", 0L).toDouble, "count")
    m("dedup.shuffle_bytes") = (cuts.fold.shuffleBytes.getOrElse("dedup", 0L).toDouble, "bytes")
    m("dedup.spill_bytes") = (cuts.fold.dedupSpillBytes.toDouble, "bytes")
    m("metrics.s") = (self("metrics"), "s")
    m("metrics.groups") = (spark.read.parquet(c.out.metrics).count().toDouble, "count")
    m("metrics.shuffle_bytes") = (cuts.fold.shuffleBytes.getOrElse("metrics", 0L).toDouble, "bytes")
    val (sinkFiles, sinkBytes) = dirStats(Paths.get(c.out.events.getOrElse(c.out.metrics)))
    m("sink.write_s") = (self("sink"), "s")
    m("sink.files") = (sinkFiles.toDouble, "count")
    m("sink.bytes") = (sinkBytes.toDouble, "bytes")
    m("sink.bytes_per_frame") = (sinkBytes / frames, "bytes")
    // both attributions over the same four layer groups, as shares
    val groups = Seq("ingest", "dedup", "metrics", "sink")
    val full = cuts.seconds(cuts.order.last)
    val cutShare = Map(
      "ingest" -> cuts.seconds("filter") / full,
      "dedup" -> self("dedup") / full,
      "metrics" -> self("metrics") / full,
      "sink" -> self("sink") / full)
    val sqlTotal = math.max(1L, cuts.fold.runMs.values.sum).toDouble
    val sqlShare = groups.map(g => g -> cuts.fold.runMs.getOrElse(g, 0L) / sqlTotal).toMap
    groups.foreach { g =>
      m(s"attrib.cut_share.$g") = (cutShare(g), "ratio")
      m(s"attrib.sql_share.$g") = (sqlShare(g), "ratio")
    }
    m("attrib.share_gap_max") = (groups.map(g =>
      math.abs(cutShare(g) - sqlShare(g))).max, "ratio")
    m("jvm.gc_ms") = (cuts.gcMs.toDouble, "ms")
    m("jvm.gc_count") = (cuts.gcCount.toDouble, "count")
    m("trace.overhead_share") = ((cuts.tracedS - cuts.untracedS) / cuts.untracedS, "ratio")
  }

  /** Trigger-level metrics from a streaming run's progress updates. */
  def triggerMetrics(m: Metrics, progress: Seq[StreamingQueryProgress],
      backlogMax: Int, lagMs: Double): Unit = {
    val data = progress.filter(_.numInputRows > 0)
    def phase(k: String) = median(data.map(p =>
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)))
    val ops = progress.lastOption.map(_.stateOperators.toSeq).getOrElse(Nil)
    def stateRows(op: String) = ops.filter(_.operatorName.toLowerCase.contains(op))
      .map(_.numRowsTotal).sum.toDouble
    m("trigger.count") = (progress.size.toDouble, "count")
    m("trigger.planning_ms_p50") = (phase("queryPlanning"), "ms")
    m("trigger.latest_offset_ms_p50") = (phase("latestOffset"), "ms")
    m("trigger.add_batch_ms_p50") = (phase("addBatch"), "ms")
    m("trigger.wal_commit_ms_p50") = (phase("walCommit"), "ms")
    m("trigger.frames_p50") = (median(data.map(_.numInputRows.toDouble)), "count")
    m("trigger.backlog_files_max") = (backlogMax.toDouble, "count")
    // share of the time from the first trigger's start to the last one's
    // end that the engine spent inside a trigger
    def te(p: StreamingQueryProgress) =
      Option(p.durationMs.get("triggerExecution")).map(_.doubleValue).getOrElse(0.0)
    def startMs(p: StreamingQueryProgress) = java.time.Instant.parse(p.timestamp).toEpochMilli
    val spanMs = progress.lastOption.map(l => startMs(l) + te(l) -
      startMs(progress.head)).getOrElse(0.0)
    m("trigger.busy_share") = (progress.map(te).sum / math.max(spanMs, 1.0), "ratio")
    m("gen.lag_ms_max") = (lagMs, "ms")
    m("dedup.state_rows") = (stateRows("dedup"), "count")
    m("metrics.state_rows") = (stateRows("statestoresave"), "count")
    m("metrics.late_rows_dropped") = (progress.flatMap(_.stateOperators)
      .map(_.numRowsDroppedByWatermark).sum.toDouble, "count")
  }

  /** The replay's own plan run once as an AvailableNow stream, checked
    * against the same oracle; it yields the trigger and state metrics. */
  def availableNow(c: ReplayCtx, tally: Tally): Seq[StreamingQueryProgress] = {
    val spark = c.spark
    val log = new Trace.ProgressLog
    spark.streams.addListener(log)
    val ckpt = c.o.work.resolve("ckpt-available-now").toString
    val metricsDir = c.o.work.resolve("metrics-stream")
    val sinkDir = c.out.events.map(_ => c.o.work.resolve("sink-stream").toString)
    val stream = Pipeline.upToDedup(
      spark.readStream.format("graft-wire").load(c.dir.toString))
    val r = Try {
      val writer = sinkDir match {
        case Some(d) => stream.writeStream.foreachBatch { (b: DataFrame, _: Long) =>
            EventSink.writePartitionedByDay(b, d) }
        case None => Pipeline.windowed(stream).writeStream.outputMode("update")
            .foreachBatch { (b: DataFrame, _: Long) =>
              b.write.mode("append").parquet(metricsDir.toString) }
      }
      val q = writer.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt).start()
      q.awaitTermination()
      sinkDir.foreach(d => Pipeline.windowed(EventSink.readPartitioned(spark, d))
        .write.mode("overwrite").parquet(metricsDir.toString))
    }
    val checked = c.copy(out = Pipeline.Outputs(sinkDir, metricsDir.toString))
    tally.record(if (r.isSuccess) checkReplay(checked) else Nil, r.failed.toOption)
    Thread.sleep(200) // the last progress event is delivered asynchronously
    spark.streams.removeListener(log)
    log.all.map(_._2).sortBy(_.batchId)
  }

  /** Full-pass time on one core, relative to the run's own cores. The
    * JVM and the generated-code cache are already warm, so one pass. */
  def speedup1c(c: ReplayCtx, nCoreS: Double): Double = {
    c.spark.stop()
    val one = session(1, c.o.work)
    replayPass(c.copy(spark = one), Tally()) / nCoreS
  }

  def writeSpans(o: Opts, spans: Trace.Spans): Unit = {
    val dir = o.out
    Files.createDirectories(dir)
    val f = dir.resolve(s"trace_${o.workload}_seed${o.seed}.json")
    Files.write(f, spans.json.getBytes("UTF-8"))
    println(s"spans written to $f")
  }

  def tracedReplay(c: ReplayCtx, tally: Tally, writeS: Seq[Double],
      codegenMs: Double, heap: HeapWatch): Metrics = {
    val m = new Metrics
    val spans = new Trace.Spans
    val cuts = traceBatch(c, tally, spans, heap, ReplayCutPasses)
    layerMetrics(m, c, cuts, writeS, codegenMs, c.dir)
    note("trace: AvailableNow stream")
    val progress = availableNow(c, tally)
    note("trace: one-core baseline")
    triggerMetrics(m, progress, 0, 0.0)
    m("engine.speedup_1c") = (speedup1c(c, cuts.untracedS), "ratio")
    writeSpans(c.o, spans)
    m
  }

  // ----------------------------------------------------------- live tail

  def liveTail(o: Opts, sessionS: Double, spark: SparkSession,
      heap: HeapWatch): (Tally, Metrics) = {
    val nSched = (o.seconds * 1000L / LivePeriodMs).toInt
    val nFiles = LiveWarmFiles + nSched
    val stage = o.work.resolve("stage")
    val tally = Tally()
    val m = new Metrics
    var oracle: Gen.Oracle = null
    var staged: IndexedSeq[Path] = null
    // a traced run replays the same frames in batch form, rewritten as one
    // file per protocol; an untimed run keeps no frames
    var compact = IndexedSeq.empty[Gen.CaptureFile]
    val writeS = mutable.ArrayBuffer.empty[Double]
    val genS = (1 to SetupReps).map { _ =>
      secs {
        val capture = Gen.live(o.seed, nFiles, LiveFramesPerFile,
          lateFrom = LiveWarmFiles + 20)
        val (files, w) = secs(writeCapture(spark, capture.files, stage))
        staged = files; writeS += w; oracle = capture.oracle
        if (o.trace) compact = Gen.Protocols.map(p => Gen.CaptureFile(p,
          capture.files.filter(_.protocol == p).flatMap(_.frames).toArray)).toIndexedSeq
      }._2
    }
    val codegenMs = if (o.trace) registryCodegenMs(spark, stage) else 0.0
    val (_, warmS) = secs(Live.warmUp(spark, staged.take(LiveWarmFiles),
      o.work.resolve("warm")))
    m("setup_s") = (sessionS + median(genS) + warmS, "s")
    note("set-up done")
    val expected = if (o.perturb) Check.perturbed(oracle.windows) else oracle.windows
    // one live run is one attempt, checked as a whole
    def runLive(): Live.Result = {
      System.gc()
      val r = heap.watch(Live.run(spark, staged, LiveFramesPerFile,
        LiveWarmFiles, LivePeriodMs, o.work.resolve("live-run")))
      tally.record(Check.windows(r.windows, expected) ++
        Check.count("late rows dropped", r.droppedLate, oracle.late) ++
        (if (r.drained) Nil else Seq("not every file was committed")), r.failure)
      tally.selfTested(Check.selfTest(r.windows, expected))
      r
    }
    val offered = LiveFramesPerFile * 1000.0 / LivePeriodMs
    if (!o.trace) {
      val r = runLive()
      println(f"live_tail: ${nSched} files due every $LivePeriodMs ms " +
        f"(offered $offered%.0f frames/s), ${r.dataBatches.size} data batches, " +
        f"backlog max ${r.backlogMax} files, generator lag max ${r.genLagMsMax}%.1f ms; " +
        f"capture set-ups ${genS.map(s => f"$s%.2f").mkString(" ")} s, warm-up $warmS%.2f s; " +
        "p50 trigger phases (ms): " + Seq("latestOffset", "queryPlanning", "addBatch",
          "walCommit", "commitOffsets", "triggerExecution").map(k => k + " " +
          median(r.dataBatches.map(p => Option(p.durationMs.get(k))
            .map(_.doubleValue).getOrElse(0.0)))).mkString(", ") +
        "; per batch (ms): " + r.dataBatches.map(_.durationMs.get("triggerExecution")).mkString(" "))
      m("frames_per_s") = (r.framesPerS, "1/s")
      m("latency_p50_ms") = (median(r.latencyMs), "ms")
      m("latency_p95_ms") = (quantile(r.latencyMs, 0.95), "ms")
      m("peak_heap_mb") = (heap.peakBytes / 1048576.0, "MB")
      (tally, m)
    } else {
      // Batch form of the same plan over the same frames, one file per
      // protocol: the batch reader plans every file before a task runs,
      // and over hundreds of small files the cuts would not fit the run's
      // time limit. The live run's own per-file costs show in wire.list_ms
      // and the trigger phases.
      val compactDir = o.work.resolve("compact")
      writeCapture(spark, compact, compactDir)
      compact = IndexedSeq.empty
      val out = Pipeline.Outputs(None, o.work.resolve("metrics").toString)
      val ctx = ReplayCtx(spark, o, oracle, compactDir, out, oracle.batchWindows)
      (1 to WarmPasses).foreach(_ => replayPass(ctx, Tally())) // checked, not counted
      val spans = new Trace.Spans
      val cuts = traceBatch(ctx, tally, spans, heap, LiveCutPasses)
      layerMetrics(m, ctx, cuts, writeS.toSeq, codegenMs, stage)
      note("trace: live run")
      val r = runLive()
      note("trace: one-core baseline")
      triggerMetrics(m, r.progress.map(_.p), r.backlogMax, r.genLagMsMax)
      m("engine.speedup_1c") = (speedup1c(ctx, cuts.untracedS), "ratio")
      writeSpans(o, spans)
      (tally, m)
    }
  }

  // ---------------------------------------------------------------- main

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    Files.createDirectories(o.work)
    val cores = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors))
    val heap = new HeapWatch
    val (spark, sessionS) = secs(session(cores, o.work))
    note("session started")
    val (tally, m) = o.workload match {
      case "live_tail" => liveTail(o, sessionS, spark, heap)
      case _ => replay(o, sessionS, spark, heap)
    }
    if (o.trace) m.values.remove("setup_s")
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .foreach(_.stop())
    val correct = tally.failed == 0 && tally.selfTestOk
    println(s"error_rate ${tally.failed.toDouble / tally.attempted} " +
      s"(${tally.failed} failed of ${tally.attempted} attempted); " +
      s"oracle self-test ${if (tally.selfTestOk) "rejected the perturbed expectation" else "FAILED"}")
    m.values.foreach { case (k, (v, u)) => println(f"  $k%-28s $v%.6g $u") }
    println(s"""{"correct": $correct, "attempted": ${tally.attempted}, """ +
      s""""failed": ${tally.failed}, "metrics": ${m.json}}""")
  }
}
