package graft.perfbench

import graft.flow.{FlowKey, PacketRow}

/** The benchmark's pure parts: input generation, the open-loop load
  * schedule, the percentile rule and the verdict-latency arithmetic.
  * Nothing here touches Spark; `SelfTest` checks each law.
  */
object Pure {

  // ---- inputs ----

  /** Replica `rep` of a packet stream: both endpoints move to a
    * replica-private address space (a `rep.` prefix on the address
    * string), so replicas never share a flow key and each replica keeps
    * its own endpoint order. Event ids move to a disjoint range.
    */
  def replica(p: PacketRow, rep: Int): PacketRow =
    p.copy(event_id = p.event_id + rep * 100000000L,
      src_ip = s"$rep.${p.src_ip}", dst_ip = s"$rep.${p.dst_ip}")

  /** Canonical flow key as a string, the featurizer's bidirectional key. */
  def keyOf(p: PacketRow): String = keyString(FlowKey.of(p))

  def keyString(k: FlowKey): String =
    s"${k.nSrcIp}|${k.nSrcPort}|${k.nDstIp}|${k.nDstPort}|${k.protocol}"

  /** Canonical key of a verdict's `flow_id`
    * (`srcIp:srcPort-dstIp:dstPort-proto[_TIMEOUT]`).
    */
  def keyOfFlowId(flowId: String): String = {
    val Array(src, dst, proto) = flowId.stripSuffix("_TIMEOUT").split('-')
    def ep(s: String): (String, Long) = {
      val i = s.lastIndexOf(':')
      (s.substring(0, i), s.substring(i + 1).toLong)
    }
    val (sIp, sPort) = ep(src)
    val (dIp, dPort) = ep(dst)
    keyString(FlowKey.of(PacketRow(0L, 0L, proto.toLong, 0L, sIp, dIp, sPort, dPort,
      0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L)))
  }

  /** Orders a packet stream so that every flow occupies one contiguous
    * run (flows ordered by first packet, packets by time). Cut into
    * micro-batches, a flow then spans consecutive batches only.
    */
  def flowContiguous(ps: Seq[PacketRow]): Vector[PacketRow] =
    ps.groupBy(keyOf).values.toVector
      .map(_.sortBy(p => (p.ts_us, p.event_id)))
      .sortBy(g => (g.head.ts_us, g.head.event_id))
      .flatten

  private val FloodBaseUs = 1704067200000000L // 2024-01-01T00:00:00Z
  val Victim = "10.200.0.1"

  private def tcp(id: Long, tsUs: Long, src: String, sport: Long, dst: String,
      dport: Long, len: Long, syn: Long, ack: Long): PacketRow =
    PacketRow(id, tsUs, 6L, len, src, dst, sport, dport,
      if (len > 60) len - 60 else 0L, 0L, 0L, syn, 0L, 0L, ack, 0L, 0L, 0L)

  /** Spoofed-source SYN flood: `n` packets to the victim's port 80, each
    * from a fresh random source address and port, so each packet is its
    * own flow. Seeded; event ids start at `idBase`.
    */
  def synFlood(seed: Long, n: Int, idBase: Long): Vector[PacketRow] = {
    val r = new java.util.SplittableRandom(seed)
    Vector.tabulate(n) { i =>
      val src = s"${1 + r.nextInt(223)}.${r.nextInt(256)}.${r.nextInt(256)}.${1 + r.nextInt(254)}"
      tcp(idBase + i, FloodBaseUs + i * 7L, src, 1024L + r.nextInt(64511), Victim, 80L,
        60L, 1L, 0L)
    }
  }

  /** `flows` heavy-hitter attacker flows of `perFlow` packets each: fixed
    * source endpoints, full-size ACK packets to the victim (key skew).
    */
  def heavyHitters(seed: Long, flows: Int, perFlow: Int, idBase: Long): Vector[PacketRow] = {
    val r = new java.util.SplittableRandom(seed ^ 0x5eedL)
    (0 until flows).toVector.flatMap { f =>
      val src = s"172.16.${r.nextInt(256)}.${1 + r.nextInt(254)}"
      val sport = 1024L + r.nextInt(64511)
      Vector.tabulate(perFlow) { i =>
        tcp(idBase + f.toLong * perFlow + i, FloodBaseUs + i * 13L + f, src, sport, Victim,
          80L, 1200L + r.nextInt(300), 0L, 1L)
      }
    }
  }

  /** Interleaves `spread` evenly through `base` (heavy hitters keep
    * sending while everything else passes by).
    */
  def interleave[A](base: Vector[A], spread: Vector[A]): Vector[A] =
    if (spread.isEmpty) base
    else {
      val out = Vector.newBuilder[A]
      val step = (base.size + spread.size).toDouble / spread.size
      var b = 0; var s = 0; var i = 0
      while (b < base.size || s < spread.size) {
        if (s < spread.size && (b >= base.size || i >= ((s + 0.5) * step).toInt)) {
          out += spread(s); s += 1
        } else { out += base(b); b += 1 }
        i += 1
      }
      out.result()
    }

  /** Frames that fail the packet JSON contract: truncated JSON, a
    * non-object, and objects without the address fields.
    */
  def malformed(seed: Long, n: Int): Vector[String] = {
    val r = new java.util.SplittableRandom(seed ^ 0xbadL)
    Vector.tabulate(n) { i =>
      (i % 4) match {
        case 0 => s"""{"timestamp": "2024-01-01 00:00:0${r.nextInt(10)}.000000", "src_ip": """
        case 1 => s"garbage-frame-${r.nextInt(1 << 20)}"
        case 2 => s"""{"length": ${r.nextInt(1500)}, "protocol": 6}"""
        case _ => s"""[${r.nextInt(1000)}, "not-a-packet"]"""
      }
    }
  }

  /** Places `bad` items at seeded positions among `good` ones. */
  def sprinkle[A](seed: Long, good: Vector[A], bad: Vector[A]): Vector[A] = {
    val r = new java.util.SplittableRandom(seed ^ 0x51ceL)
    val at = bad.map(b => (r.nextInt(good.size + 1), b)).sortBy(_._1)
    val out = Vector.newBuilder[A]
    var j = 0
    for (i <- 0 to good.size) {
      while (j < at.size && at(j)._1 == i) { out += at(j)._2; j += 1 }
      if (i < good.size) out += good(i)
    }
    out.result()
  }

  // ---- open-loop load ----

  /** Open-loop schedule: slice `i` is due at `startNs + i * sliceNs`,
    * whatever the consumer does. A slow `emit` makes later slices late —
    * they are then sent at once, not shifted — and the lateness of each
    * slice (send time minus due time) is recorded.
    */
  final class OpenLoop(startNs: Long, sliceNs: Long, clock: () => Long,
      sleepUntil: Long => Unit) {
    def due(i: Int): Long = startNs + i * sliceNs

    /** Sends slices 0 until n; returns each slice's lateness in ns. */
    def run(n: Int)(emit: (Int, Long) => Unit): Array[Long] = {
      val late = new Array[Long](n)
      for (i <- 0 until n) {
        if (clock() < due(i)) sleepUntil(due(i))
        val now = clock()
        late(i) = math.max(0L, now - due(i))
        emit(i, now)
      }
      late
    }
  }

  def sleepUntilNs(t: Long): Unit = {
    var left = t - System.nanoTime()
    while (left > 0) {
      java.util.concurrent.locks.LockSupport.parkNanos(left)
      left = t - System.nanoTime()
    }
  }

  // ---- percentiles and latency ----

  /** Percentile ladder the rule picks from, highest first. */
  val Ladder: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  /** The percentile actually reported for a request of `wanted` over `n`
    * samples: the highest ladder percentile at or below `wanted` that
    * leaves at least `beyond` samples above it; None when even the
    * median does not.
    */
  def supportedPercentile(n: Int, wanted: Double, beyond: Int = 10): Option[Double] =
    Ladder.filter(_ <= wanted).find(p => n * (100.0 - p) / 100.0 >= beyond - 1e-9)

  /** Nearest-rank percentile of `xs` (unsorted). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty)
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.size).toInt
    s(math.min(math.max(rank, 1), s.size) - 1)
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty)
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0))
    math.exp(xs.map(math.log).sum / xs.size)
  }

  /** Verdict latency: the commit time of the batch that wrote the
    * verdict, minus the creation stamp of the flow's last packet, minus
    * the session timeout that must pass before any verdict can exist.
    */
  def verdictLatencyMs(commitEndMs: Double, lastPacketMs: Double, timeoutMs: Long): Double =
    commitEndMs - lastPacketMs - timeoutMs

  /** The flow's last packet before its verdict: the latest creation
    * stamp at or before the start of the batch that wrote the verdict
    * (`stamps` ascending). A verdict can only follow packets already
    * sent when its batch began.
    */
  def lastStampAtOrBefore(stamps: Array[Double], batchStartMs: Double): Option[Double] = {
    var lo = 0; var hi = stamps.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (stamps(mid) <= batchStartMs) lo = mid + 1 else hi = mid
    }
    if (lo == 0) None else Some(stamps(lo - 1))
  }
}

