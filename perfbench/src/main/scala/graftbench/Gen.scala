package graftbench

import java.util.SplittableRandom

import scala.collection.mutable

import graft.sources.ProtocolRegistry.{FieldSpec, LayoutSpec}
import graft.sources.RealLayouts

/** Seeded capture generator and its independent expected-output oracle.
  *
  * A frame is an 8-byte little-endian block time (µs), an 8-byte
  * little-endian event id (the transaction-signature digest used for
  * dedup), then a real log-event body: the anchor discriminator and the
  * borsh fields of one of the ten [[RealLayouts.logRegistry]] layouts.
  * Each capture file holds frames of one program (one subscription
  * connection); its name starts with the protocol name.
  *
  * The oracle is plain Scala over the values the generator chose. It
  * never decodes bytes, so a decode, dedup or aggregate fault in the
  * library shows up as a mismatch.
  */
object Gen {
  /** One generated log layout: which field carries the metric amount. */
  final case class Layout(protocol: String, program: String,
      spec: LayoutSpec, amountField: String, weight: Int) {
    def kind: String = spec.kind
  }

  val Layouts: Seq[Layout] = {
    val amount = Map(
      "pf_trade" -> ("sol_amount", 26), "pf_migrate" -> ("sol_amount", 2),
      "ps_buy" -> ("quote_amount_in", 16), "ps_sell" -> ("quote_amount_out", 15),
      "ps_create_pool" -> ("quote_amount_in", 2),
      "ps_deposit" -> ("lp_token_amount_out", 4),
      "ps_withdraw" -> ("lp_token_amount_in", 3),
      "bonk_trade" -> ("amount_in", 20),
      "bonk_pool_create" -> ("base_decimals", 4),
      "damm_swap" -> ("output_amount", 8))
    for {
      p <- RealLayouts.logRegistry
      l <- p.layouts
    } yield {
      val (field, w) = amount(l.kind)
      Layout(p.protocol, p.program, l, field, w)
    }
  }
  val Protocols: Seq[String] = Layouts.map(_.protocol).distinct

  /** Block time of the first replay frame: one hour before a UTC midnight,
    * so a two-hour capture spans two `event_date` sink partitions. */
  val T0Us: Long = 1772406000L * 1000000L // 2026-03-01T23:00:00Z

  /** An original (non-junk) event and the values the oracle needs. */
  final case class Event(id: Long, tsUs: Long, layout: Layout, amount: Long,
      bytes: Array[Byte])

  final case class CaptureFile(protocol: String, frames: Array[Array[Byte]])

  /** Expected outputs. `windows` maps (window start s, protocol, kind) to
    * (count, amount sum) over the distinct, on-time events; `batchWindows`
    * also counts the late events, which a batch plan keeps (it has no
    * watermark). `distinctEvents` is the on-time sink row count. */
  final case class Oracle(frames: Long, junk: Long, duplicates: Long,
      late: Long, distinctEvents: Long, windows: Check.Windows,
      batchWindows: Check.Windows)

  final case class Capture(files: IndexedSeq[CaptureFile], oracle: Oracle)

  private def mix(z0: Long): Long = { // splitmix64 finalizer: a bijection
    var z = z0
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private def putLong(b: Array[Byte], off: Int, v: Long, width: Int): Unit = {
    var i = 0
    while (i < width) { b(off + i) = (v >>> (8 * i)).toByte; i += 1 }
  }

  /** Encode one event body: discriminator, then every field at its offset. */
  private def encodeBody(l: Layout, tsUs: Long, amount: Long,
      rnd: SplittableRandom): Array[Byte] = {
    val spec = l.spec
    val strField = spec.fields.find(_.kind == "str")
    val name = strField.map(_ => s"tok${rnd.nextInt(100000)}".getBytes("UTF-8"))
    val b = new Array[Byte](spec.minLen + name.map(_.length).getOrElse(0))
    System.arraycopy(spec.discriminator, 0, b, 0, spec.discriminator.length)
    spec.fields.foreach { case FieldSpec(fname, off, kind) =>
      val value =
        if (fname == l.amountField) amount
        else if (fname == "timestamp" || fname == "current_timestamp")
          tsUs / 1000000L
        else rnd.nextLong(1L << 40)
      kind match {
        case "u64" | "i64" => putLong(b, off, value, 8)
        case "u128" => putLong(b, off, rnd.nextLong(), 8)
          putLong(b, off + 8, rnd.nextLong(1L << 20), 8)
        case "u32" | "i32" => putLong(b, off, value & 0x7fffffffL, 4)
        case "u16" => putLong(b, off, value & 0xffffL, 2)
        case "u8" => putLong(b, off, if (fname == l.amountField) amount
          else value & 0xffL, 1)
        case "bool" => putLong(b, off, value & 1L, 1)
        case "b32" =>
          // keys come from a small per-protocol set, as pools and mints do
          val key = mix(l.protocol.hashCode.toLong * 1000 + rnd.nextInt(64))
          var i = 0
          while (i < 4) { putLong(b, off + 8 * i, mix(key + i), 8); i += 1 }
        case "str" => putLong(b, off, name.get.length.toLong, 4)
          System.arraycopy(name.get, 0, b, off + 4, name.get.length)
        case _ => () // pad / optional kinds stay zero
      }
    }
    b
  }

  private def frame(tsUs: Long, id: Long, body: Array[Byte]): Array[Byte] = {
    val b = new Array[Byte](16 + body.length)
    putLong(b, 0, tsUs, 8)
    putLong(b, 8, id, 8)
    System.arraycopy(body, 0, b, 16, body.length)
    b
  }

  private def amountFor(l: Layout, rnd: SplittableRandom): Long =
    if (l.amountField == "base_decimals") rnd.nextInt(10).toLong
    else 1000L + rnd.nextLong(1L << 36)

  /** Shares of frames that are byte-identical redeliveries and junk. */
  val DupRate = 0.10
  val JunkRate = 0.02
  /** Late events in every tenth live-tail file from `lateFrom` on. */
  val LateEvery = 5

  /** Junk: a short noise frame, a random body, or a real layout cut below
    * its minimum length. All of them must decode to `unknown`. */
  private def junkFrame(protocol: String, rnd: SplittableRandom,
      tsUs: Long): Array[Byte] = {
    val r = rnd.nextInt(10)
    if (r == 0) {
      val b = new Array[Byte](1 + rnd.nextInt(15)); rnd.nextBytes(b); b
    } else if (r < 5) {
      val body = new Array[Byte](24 + rnd.nextInt(300)); rnd.nextBytes(body)
      frame(tsUs, rnd.nextLong(), body)
    } else {
      val ls = Layouts.filter(_.protocol == protocol)
      val l = ls(rnd.nextInt(ls.size))
      val full = encodeBody(l, tsUs, 1L, rnd)
      val cut = l.spec.discriminator.length +
        rnd.nextInt(l.spec.minLen - l.spec.discriminator.length)
      frame(tsUs, rnd.nextLong(), java.util.Arrays.copyOf(full, cut))
    }
  }

  private def pickLayout(candidates: Seq[Layout], rnd: SplittableRandom): Layout = {
    val total = candidates.map(_.weight).sum
    var x = rnd.nextInt(total)
    candidates.find { l => x -= l.weight; x < 0 }.get
  }

  private final class OracleTally {
    var frames, junk, dups, late = 0L
    val windows, batchWindows =
      mutable.Map.empty[(Long, String, String), (Long, Long)]
    var distinct = 0L
    private def add(w: mutable.Map[(Long, String, String), (Long, Long)],
        e: Event): Unit = {
      val k = (Math.floorDiv(e.tsUs, 60000000L) * 60L, e.layout.protocol,
        e.layout.kind)
      val (n, s) = w.getOrElse(k, (0L, 0L))
      w(k) = (n + 1, s + e.amount)
    }
    def original(e: Event, isLate: Boolean): Unit = {
      frames += 1
      add(batchWindows, e)
      if (isLate) late += 1
      else { distinct += 1; add(windows, e) }
    }
    def duplicate(): Unit = { frames += 1; dups += 1 }
    def junkOne(): Unit = { frames += 1; junk += 1 }
    def result: Oracle = Oracle(frames, junk, dups, late, distinct,
      windows.toMap, batchWindows.toMap)
  }

  private def newEvent(seq: Long, salt: Long, tsUs: Long, l: Layout,
      rnd: SplittableRandom): Event = {
    val amount = amountFor(l, rnd)
    val id = mix(seq ^ salt)
    Event(id, tsUs, l, amount, frame(tsUs, id, encodeBody(l, tsUs, amount, rnd)))
  }

  /** Batch backfill capture: `nFrames` frames over two hours of block time,
    * all four log protocols, in `nFiles` files. Redeliveries
    * repeat a recent frame of the same protocol byte for byte. */
  def replay(seed: Long, nFrames: Int, nFiles: Int): Capture = {
    val rnd = new SplittableRandom(seed)
    val salt = mix(seed * 0x9e3779b97f4a7c15L + 1)
    val spanUs = 2L * 3600 * 1000000
    val ob = new OracleTally
    val perProto = Protocols.map(_ -> mutable.ArrayBuffer.empty[Array[Byte]]).toMap
    val recent = Protocols.map(_ -> mutable.ArrayBuffer.empty[Event]).toMap
    var seq = 0L
    var i = 0
    while (i < nFrames) {
      val tsUs = T0Us + i.toLong * spanUs / nFrames + rnd.nextLong(1000000L)
      val u = rnd.nextDouble()
      if (u < JunkRate) {
        val p = Protocols(rnd.nextInt(Protocols.size))
        perProto(p) += junkFrame(p, rnd, tsUs); ob.junkOne()
      } else if (u < JunkRate + DupRate && seq > 0) {
        val p = pickLayout(Layouts, rnd).protocol
        val pool = recent(p)
        if (pool.isEmpty) {
          perProto(p) += junkFrame(p, rnd, tsUs); ob.junkOne()
        } else {
          val e = pool(rnd.nextInt(pool.size))
          perProto(p) += e.bytes; ob.duplicate()
        }
      } else {
        val l = pickLayout(Layouts, rnd)
        val e = newEvent(seq, salt, tsUs, l, rnd); seq += 1
        perProto(l.protocol) += e.bytes; ob.original(e, isLate = false)
        val pool = recent(l.protocol)
        if (pool.size < 512) pool += e else pool(rnd.nextInt(512)) = e
      }
      i += 1
    }
    // Each protocol's frames split evenly over a file count fixed by the
    // layout weights, not by the seed: the scan runs one task per file, so
    // a seed-dependent file count would change the task waves per pass.
    val share = Protocols.map(p => p -> Layouts.filter(_.protocol == p)
      .map(_.weight).sum.toDouble / Layouts.map(_.weight).sum * nFiles).toMap
    val floors = share.map { case (p, x) => p -> math.max(1, x.toInt) }
    val extra = Protocols.sortBy(p => -(share(p) - floors(p)))
      .take(nFiles - floors.values.sum).toSet
    val files = Protocols.flatMap { p =>
      val k = floors(p) + (if (extra(p)) 1 else 0)
      val fs = perProto(p)
      (0 until k).map(i => CaptureFile(p, fs.slice(i * fs.size / k,
        (i + 1) * fs.size / k).toArray))
    }.toIndexedSeq
    Capture(files, ob.result)
  }

  /** Live-tail capture: `nFiles` files of exactly `framesPerFile` frames,
    * protocols in round robin, one second of block time per file.
    * Redeliveries repeat a frame from one of the previous two files of the
    * same protocol. From file `lateFrom` on, every tenth file carries
    * [[LateEvery]] fresh events stamped an hour behind the stream: they
    * arrive behind the watermark and must be dropped. */
  def live(seed: Long, nFiles: Int, framesPerFile: Int,
      lateFrom: Int): Capture = {
    val rnd = new SplittableRandom(seed)
    val salt = mix(seed * 0x9e3779b97f4a7c15L + 2)
    val ob = new OracleTally
    val byFile = mutable.ArrayBuffer.empty[(String, Array[Event])]
    var seq = 0L
    val files = (0 until nFiles).map { fi =>
      val p = Protocols(fi % Protocols.size)
      val layouts = Layouts.filter(_.protocol == p)
      val prev = byFile.slice(math.max(0, fi - 2 * Protocols.size), fi)
        .filter(_._1 == p).flatMap(_._2)
      val mine = mutable.ArrayBuffer.empty[Event]
      val nLate = if (fi >= lateFrom && (fi - lateFrom) % 10 == 0) LateEvery else 0
      val frames = Array.tabulate(framesPerFile) { k =>
        val tsUs = T0Us + fi * 1000000L + k * (1000000L / framesPerFile)
        val u = rnd.nextDouble()
        if (k < nLate) {
          val e = newEvent(seq, salt, T0Us - 3600L * 1000000 - rnd.nextLong(1000000000L),
            pickLayout(layouts, rnd), rnd)
          seq += 1; ob.original(e, isLate = true); e.bytes
        } else if (u < JunkRate) {
          ob.junkOne(); junkFrame(p, rnd, tsUs)
        } else if (u < JunkRate + DupRate && prev.nonEmpty) {
          val e = prev(rnd.nextInt(prev.size)); ob.duplicate(); e.bytes
        } else {
          val e = newEvent(seq, salt, tsUs, pickLayout(layouts, rnd), rnd)
          seq += 1; ob.original(e, isLate = false); mine += e; e.bytes
        }
      }
      byFile += ((p, mine.toArray))
      CaptureFile(p, frames)
    }
    Capture(files, ob.result)
  }
}
