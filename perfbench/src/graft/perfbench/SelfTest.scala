package graft.perfbench

/** Laws of the benchmark's pure parts (`Pure`). Runs without Spark:
  *
  *   python3 perfbench/run.py --selftest
  */
object SelfTest {
  private var failed = 0

  private def law(name: String)(ok: => Boolean): Unit = {
    val pass = try ok catch { case e: Throwable => println(s"  threw $e"); false }
    println(s"[${if (pass) "PASS" else "FAIL"}] $name")
    if (!pass) failed += 1
  }

  def main(args: Array[String]): Unit = {
    law("same seed gives the same flood frames") {
      Pure.synFlood(7, 500, 0) == Pure.synFlood(7, 500, 0) &&
        Pure.heavyHitters(7, 3, 50, 0) == Pure.heavyHitters(7, 3, 50, 0) &&
        Pure.malformed(7, 40) == Pure.malformed(7, 40)
    }
    law("a different seed gives different flood frames") {
      Pure.synFlood(7, 500, 0) != Pure.synFlood(8, 500, 0) &&
        Pure.malformed(7, 40) != Pure.malformed(8, 40)
    }
    law("every spoofed packet is its own flow") {
      val f = Pure.synFlood(3, 2000, 0)
      f.map(Pure.keyOf).distinct.size == f.size
    }
    law("sprinkle keeps every item and the order of the good ones") {
      val good = (0 until 100).toVector
      val out = Pure.sprinkle(5, good, Vector(-1, -2, -3))
      out.size == 103 && out.filter(_ >= 0) == good && out.count(_ < 0) == 3 &&
        out == Pure.sprinkle(5, good, Vector(-1, -2, -3))
    }
    law("interleave spreads the second stream over the whole first") {
      val out = Pure.interleave(Vector.fill(90)(0), Vector.fill(10)(1))
      out.size == 100 && out.count(_ == 1) == 10 &&
        out.grouped(10).forall(_.contains(1))
    }
    law("flowContiguous: each flow is one contiguous run, packets in time order") {
      val ps = Pure.synFlood(1, 5, 0) ++ Pure.heavyHitters(1, 2, 30, 100)
      val runs = Pure.flowContiguous(scala.util.Random.shuffle(ps))
      val keys = runs.map(Pure.keyOf)
      val changes = keys.sliding(2).count(w => w(0) != w(1))
      changes == keys.distinct.size - 1 &&
        runs.groupBy(Pure.keyOf).values.forall(g => g.map(_.ts_us) == g.map(_.ts_us).sorted)
    }
    law("replicas never share a flow key") {
      val f = Pure.heavyHitters(2, 3, 5, 0)
      (f.map(Pure.replica(_, 1)).map(Pure.keyOf).toSet & f.map(Pure.replica(_, 2)).map(Pure.keyOf).toSet).isEmpty
    }
    law("a verdict's flow_id maps back to its canonical key in either orientation") {
      val p = Pure.heavyHitters(4, 1, 1, 0).head
      val fwd = s"${p.src_ip}:${p.src_port}-${p.dst_ip}:${p.dst_port}-${p.protocol}_TIMEOUT"
      val rev = s"${p.dst_ip}:${p.dst_port}-${p.src_ip}:${p.src_port}-${p.protocol}_TIMEOUT"
      Pure.keyOfFlowId(fwd) == Pure.keyOf(p) && Pure.keyOfFlowId(rev) == Pure.keyOf(p)
    }

    // a fake clock: sleeping jumps to the due time, emitting costs `cost(i)`
    def fakeLoop(cost: Int => Long): (Array[Long], Seq[(Int, Long)]) = {
      var now = 0L
      val sent = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
      val loop = new Pure.OpenLoop(0L, 100L, () => now, t => now = math.max(now, t))
      val late = loop.run(8) { (i, at) => sent += ((i, at)); now += cost(i) }
      (late, sent.toSeq)
    }
    law("open loop: an idle consumer sees every slice exactly on time") {
      val (late, sent) = fakeLoop(_ => 1L)
      late.forall(_ == 0L) && sent.map(_._2) == (0 until 8).map(_ * 100L)
    }
    law("open loop: a stalled consumer does not shift the schedule, lateness is recorded") {
      // slice 2's emit stalls 350 ns: slices 3..5 go out late and at once,
      // slice 6 is back on its original time
      val (late, sent) = fakeLoop(i => if (i == 2) 350L else 1L)
      late.toSeq == Seq(0L, 0L, 0L, 250L, 151L, 52L, 0L, 0L) &&
        sent.map(_._2) == Seq(0L, 100L, 200L, 550L, 551L, 552L, 600L, 700L)
    }
    law("percentile rule: the highest ladder percentile with >= 10 samples beyond it") {
      Pure.supportedPercentile(1000, 99.0).contains(99.0) &&
        Pure.supportedPercentile(999, 99.0).contains(95.0) &&
        Pure.supportedPercentile(200, 99.0).contains(95.0) &&
        Pure.supportedPercentile(100, 99.0).contains(90.0) &&
        Pure.supportedPercentile(40, 99.0).contains(75.0) &&
        Pure.supportedPercentile(20, 99.0).contains(50.0) &&
        Pure.supportedPercentile(19, 99.0).isEmpty &&
        Pure.supportedPercentile(10000, 99.0).contains(99.0) &&
        Pure.supportedPercentile(10000, 99.9).contains(99.9) &&
        Pure.supportedPercentile(5000, 50.0).contains(50.0)
    }
    law("nearest-rank percentile and median") {
      val xs = (1 to 100).map(_.toDouble)
      Pure.percentile(xs, 99.0) == 99.0 && Pure.percentile(xs, 50.0) == 50.0 &&
        Pure.percentile(Seq(5.0), 99.0) == 5.0 && Pure.median(Seq(3.0, 1.0, 2.0)) == 2.0 &&
        Pure.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5
    }
    law("geometric mean") {
      math.abs(Pure.geomean(Seq(1.0, 100.0)) - 10.0) < 1e-9 &&
        math.abs(Pure.geomean(Seq(7.0, 7.0, 7.0)) - 7.0) < 1e-9
    }
    law("verdict latency = commit end - last packet stamp - timeout") {
      Pure.verdictLatencyMs(10750.0, 10000.0, 500L) == 250.0 &&
        Pure.verdictLatencyMs(2000.5, 1000.25, 0L) == 1000.25
    }
    law("the flow's last packet is the latest stamp at or before the verdict batch") {
      val s = Array(10.0, 20.0, 30.0)
      Pure.lastStampAtOrBefore(s, 25.0).contains(20.0) &&
        Pure.lastStampAtOrBefore(s, 30.0).contains(30.0) &&
        Pure.lastStampAtOrBefore(s, 99.0).contains(30.0) &&
        Pure.lastStampAtOrBefore(s, 5.0).isEmpty
    }
    println(if (failed == 0) "all laws hold" else s"$failed law(s) failed")
    sys.exit(if (failed == 0) 0 else 1)
  }
}
