package graft.perfbench

import graft.{DetectionPipeline, Tables}
import graft.flow.{BatchFlowFeaturizer, FlowFeaturizer, FlowKey, PacketRow}
import graft.ingest.{PacketIngest, PacketReplay}
import graft.sink.Sinks
import org.apache.spark.ml.PipelineModel
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import scala.collection.mutable

/** detect-flood: packet JSON frames of a seeded flood mix through
  * `DetectionPipeline.start` (decode → flow fold under a session
  * timeout → stand-in RF → NDJSON sink), first as a drained backlog,
  * then as an open-loop paced stream.
  */
object Detect {

  final case class Frame(json: String, key: Option[String])

  val TimeoutMs = 500L
  val Trigger = "1 second"
  val SliceMs = 100
  /** Timed drains per run; `pass_s` is their median. */
  val DrainPasses = 3
  /** Frames in the drain backlog, and per drain micro-batch (one file per batch). */
  val DrainFrames = 24000
  val DrainBatch = 12000
  /** Frames in the untimed warm-up backlog. */
  val WarmupFrames = 4000
  /** Offered load of the paced phase, packets per second. */
  val PacedRate = 800

  private def frames(ps: Seq[PacketRow]): Vector[Frame] =
    ps.iterator.map(p => Frame(PacketReplay.toJson(p), Some(Pure.keyOf(p)))).toVector

  /** `n` packets of background traffic: sf0.01 replicas from replica
    * `firstRep` on, packets in time order.
    */
  private def replicas(small: Vector[PacketRow], firstRep: Int, n: Int): Vector[PacketRow] = {
    val ordered = small.sortBy(p => (p.ts_us, p.event_id))
    Iterator.from(firstRep).flatMap(r => ordered.iterator.map(Pure.replica(_, r)))
      .take(n).toVector
  }

  /** `n` frames of the flood mix: spoofed SYN flood (80%), heavy-hitter
    * attacker flows (10%), background traffic from the seeded `events`
    * table (10%), plus 0.5% malformed frames. `rep0` keeps the drain,
    * warm-up and paced mixes apart.
    */
  def floodFrames(small: Vector[PacketRow], seed: Long, n: Int, rep0: Int): Vector[Frame] = {
    val flood = Pure.synFlood(seed + rep0, n * 8 / 10, rep0 * 10000000L)
    // four attacker flows, sending round-robin for the whole pass
    val hh = Pure.heavyHitters(seed + rep0, 4, n / 40, rep0 * 10000000L + 5000000L)
      .grouped(n / 40).toVector.transpose.flatten
    val bg = Pure.flowContiguous(replicas(small, rep0, n / 10))
    val good = frames(Pure.interleave(Pure.interleave(flood, bg), hh))
    Pure.sprinkle(seed + rep0, good, Pure.malformed(seed + rep0, n / 200).map(Frame(_, None)))
  }

  def run(ctx: Main.Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val work = s"${ctx.dataDir}/run"
    val renderT0 = System.nanoTime()
    val small = BatchFlowFeaturizer.packetsFromEvents(Tables.events(spark, s"${ctx.dataDir}/sf0.01"))
      .as[PacketRow].collect().toVector
    val pacedSeconds = math.max(2, ctx.seconds)
    ctx.detail("render_collect_ms") = (System.nanoTime() - renderT0) / 1e6
    val drain = floodFrames(small, ctx.seed, DrainFrames, 1)
    val warm = floodFrames(small, ctx.seed, WarmupFrames, 900)
    val paced = floodFrames(small, ctx.seed, PacedRate * pacedSeconds, 100)
    val drainDir = stage(drain, s"$work/drain_in", DrainBatch)
    val warmDir = stage(warm, s"$work/warm_in", math.max(1, warm.size / 2))
    val renderMs = (System.nanoTime() - renderT0) / 1e6
    ctx.detail("render_ms") = renderMs

    // ---- set-up: load the stand-in model, then one untimed warm-up pass ----
    val model = ctx.spans("setup.model")(PipelineModel.load(ctx.modelDir))
    val cold = ctx.spans("setup.warmup")(drainPass(ctx, model, warmDir, warm.size, s"$work/warm"))
    ctx.detail("cold_drain_s") = cold.drainMs / 1000.0
    ctx.metrics("setup_s") = (Main.sinceStartMs - renderMs) / 1000.0

    // ---- timed: the drain (median of DrainPasses), then the paced phase ----
    // A traced run also drains once untraced, between the first two traced
    // drains, so the JIT warming trend hits both sides of the overhead.
    def traced(i: Int): PassResult = {
      ctx.exec.foreach(spark.sparkContext.addSparkListener)
      try ctx.spans(s"drain.$i")(drainPass(ctx, model, drainDir, drain.size, s"$work/drain$i"))
      finally ctx.exec.foreach(spark.sparkContext.removeSparkListener)
    }
    val first = traced(0)
    val untraced = if (ctx.trace) Some(drainPass(ctx, model, drainDir, drain.size,
      s"$work/drain_plain")) else None
    val drains = first +: (1 until DrainPasses).map(traced)
    val d = drains.sortBy(_.drainMs).apply(DrainPasses / 2)
    val prime = warm.take(PacedRate * SliceMs / 1000)
    ctx.exec.foreach(spark.sparkContext.addSparkListener)
    val p = ctx.spans("paced")(pacedPass(ctx, model, prime, paced, s"$work/paced"))
    ctx.exec.foreach(_.settle())
    val execTotals = ctx.exec.map(_.snapshot)
    ctx.exec.foreach(spark.sparkContext.removeSparkListener)

    // ---- checks (untimed) ----
    val checkT0 = System.nanoTime()
    val reference = ctx.spans("check.reference")(batchReference(spark, drainDir, model))
    for (r <- drains) {
      val got = r.verdicts.map(v => (v.flowId, v.label))
      ctx.checks.bulk(math.max(reference.pairs.size, got.size).toLong, diffPairs(reference.pairs, got))
    }
    ctx.spans("check.paced")(checkPaced(ctx, p, prime ++ paced))
    ctx.detail("check_ms") = (System.nanoTime() - checkT0) / 1e6

    val drainS = d.drainMs / 1000.0
    ctx.metrics("pass_s") = drainS
    val lat = p.latencies
    for ((metric, want) <- Seq("latency_ms" -> 50.0, "latency_tail_ms" -> 99.0)) {
      val at = Pure.supportedPercentile(lat.size, want).getOrElse(50.0)
      if (lat.nonEmpty) ctx.metrics(metric) = Pure.percentile(lat, at)
      ctx.detail(s"${metric}_percentile") = at
    }
    ctx.detail ++= Seq(
      "drain_pkts_per_s" -> drain.size / drainS,
      "drain_passes_s" -> drains.map(_.drainMs / 1000.0),
      "drain_frames" -> drain.size, "drain_batches" -> d.batches.count(_.rows > 0),
      "verdict_latency_samples" -> lat.size,
      "paced_frames" -> paced.size, "paced_rate_pkts_per_s" -> PacedRate,
      "paced_seconds" -> pacedSeconds,
      "paced_batch_ms" -> p.batches.map(b => b.dur.getOrElse("triggerExecution", 0L)),
      "paced_batch_rows" -> p.batches.map(_.rows),
      "generator_late_slices" -> p.lateNs.count(_ > SliceMs * 1000000L),
      "generator_max_late_ms" -> (if (p.lateNs.isEmpty) 0.0 else p.lateNs.max / 1e6),
      "generator_mean_late_ms" -> (if (p.lateNs.isEmpty) 0.0 else p.lateNs.sum / 1e6 / p.lateNs.length),
      "verdicts_ddos" -> (drains :+ p).map(_.verdicts.count(_.label == "DDoS")).sum,
      "verdicts_normal" -> (drains :+ p).map(_.verdicts.count(_.label == "Normal")).sum,
      "timeout_ms" -> TimeoutMs, "trigger" -> Trigger)

    if (ctx.trace) {
      val timed = drains.flatMap(_.batches).toVector ++ p.batches
      layerMetrics(ctx, model, drainDir, reference, timed, drains :+ p, execTotals)
      ctx.metrics("trace.overhead_pct") =
        untraced.map { u =>
          ((drains(0).drainMs + drains(1).drainMs) / 2 - u.drainMs) / u.drainMs * 100.0
        }.getOrElse(0.0)
    }
  }

  /** Writes `fs` as text files of `per` frames, named and dated in order so
    * the file source takes exactly one per micro-batch.
    */
  private def stage(fs: Vector[Frame], dir: String, per: Int): String = {
    val d = java.nio.file.Paths.get(dir)
    java.nio.file.Files.createDirectories(d)
    val base = System.currentTimeMillis() - 3600000L
    fs.grouped(per).zipWithIndex.foreach { case (g, i) =>
      val f = d.resolve(f"part-$i%05d.txt")
      java.nio.file.Files.writeString(f, g.map(_.json).mkString("", "\n", "\n"))
      f.toFile.setLastModified(base + i * 1000L)
    }
    dir
  }

  final case class Verdict(flowId: String, label: String, batch: Long)
  final case class PassResult(batches: Vector[Batch], verdicts: Vector[Verdict], drainMs: Double,
      outDir: String, lateNs: Array[Long] = Array.empty, latencies: Vector[Double] = Vector.empty,
      unmatched: Seq[String] = Nil)

  private def verdictsOf(spark: SparkSession, outDir: String): Vector[Verdict] = {
    val root = new java.io.File(outDir)
    val dirs = Option(root.listFiles()).toVector.flatten.filter(_.getName.startsWith("batch="))
    if (dirs.isEmpty) Vector.empty
    else spark.read.schema("flow_id STRING, Label STRING, batch LONG").json(outDir)
      .collect().toVector.map(r => Verdict(r.getString(0), r.getString(1), r.getLong(2)))
  }

  /** Waits until the run has read `n` frames and its flow state is empty
    * again, i.e. every flow has timed out and its verdict is committed.
    */
  private def awaitDrained(ctx: Main.Ctx, runId: String, n: Long): Vector[Batch] = {
    val bs = ctx.stream.await(runId, System.nanoTime() + 120000000000L) { bs =>
      bs.map(_.rows).sum >= n && bs.lastOption.exists(b => b.stateRows == 0 && b.rows == 0)
    }
    require(bs.map(_.rows).sum >= n && bs.lastOption.exists(_.stateRows == 0),
      s"stream did not drain: read ${bs.map(_.rows).sum} of $n frames")
    bs
  }

  /** Drain: the staged backlog through `DetectionPipeline.start`; timed
    * from query start to the commit of the batch that wrote the last
    * verdict.
    */
  def drainPass(ctx: Main.Ctx, model: PipelineModel, inDir: String, n: Long,
      work: String): PassResult = {
    val spark = ctx.spark
    val raw = spark.readStream.option("maxFilesPerTrigger", "1").text(inDir)
    val startMs = System.currentTimeMillis().toDouble
    val q = DetectionPipeline.start(raw, model, s"$work/out", s"$work/ckpt", TimeoutMs, Trigger)
    val bs = try awaitDrained(ctx, q.runId.toString, n) finally { q.stop(); q.awaitTermination() }
    val vs = verdictsOf(spark, s"$work/out")
    require(vs.nonEmpty, "drain wrote no verdicts")
    val last = bs.find(_.batchId == vs.map(_.batch).max).get
    PassResult(bs, vs, last.endMs - startMs, s"$work/out")
  }

  /** Blocks until the query has started and waits for data. */
  private def awaitWaiting(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    val deadline = System.nanoTime() + 60000000000L
    while (!q.status.message.startsWith("Waiting for") && System.nanoTime() < deadline) {
      q.exception.foreach(e => throw e)
      Thread.sleep(10)
    }
  }

  /** Paced: once the query has run its first batch on `prime` (one
    * slice, untimed: a deployed detector is already running when load
    * arrives), one generator thread offers `fs` in fixed slices at the
    * fixed rate (open loop), then the stream drains.
    */
  def pacedPass(ctx: Main.Ctx, model: PipelineModel, prime: Vector[Frame],
      fs: Vector[Frame], work: String): PassResult = {
    val spark = ctx.spark
    import spark.implicits._
    val input = MemoryStream[String](spark)
    val q = DetectionPipeline.start(input.toDF(), model, s"$work/out", s"$work/ckpt",
      TimeoutMs, Trigger)
    val perSlice = PacedRate * SliceMs / 1000
    val slices = fs.grouped(perSlice).toVector
    val stamps = mutable.HashMap.empty[String, mutable.ArrayBuffer[Double]]
    val bs = try {
      awaitWaiting(q)
      input.addData(prime.map(_.json))
      ctx.stream.await(q.runId.toString, System.nanoTime() + 60000000000L)(
        _.map(_.rows).sum >= prime.size)
      var late = Array.empty[Long]
      val gen = new Thread(() => {
        val t0Ns = System.nanoTime()
        val t0Ms = System.currentTimeMillis().toDouble
        val loop = new Pure.OpenLoop(t0Ns, SliceMs * 1000000L, () => System.nanoTime(),
          Pure.sleepUntilNs)
        late = loop.run(slices.size) { (i, _) =>
          input.addData(slices(i).map(_.json))
          // stamped with the slice's due time, so a late generator's delay counts
          val dueMs = t0Ms + (loop.due(i) - t0Ns) / 1e6
          for (f <- slices(i); k <- f.key) stamps.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += dueMs
        }
      }, "perfbench-generator")
      gen.start()
      gen.join()
      (awaitDrained(ctx, q.runId.toString, prime.size + fs.size), late)
    } finally { q.stop(); q.awaitTermination() }
    val (batches, late) = bs
    val vs = verdictsOf(spark, s"$work/out")
    val byId = batches.map(b => b.batchId -> b).toMap
    val st = stamps.map { case (k, v) => k -> v.toArray }.toMap
    val unmatched = mutable.ArrayBuffer.empty[String]
    val primeKeys = prime.flatMap(_.key).toSet
    val lat = vs.filterNot(v => primeKeys(Pure.keyOfFlowId(v.flowId))).flatMap { v =>
      val at = for {
        b <- byId.get(v.batch)
        ss <- st.get(Pure.keyOfFlowId(v.flowId))
        s <- Pure.lastStampAtOrBefore(ss, b.startMs)
      } yield Pure.verdictLatencyMs(b.endMs, s, TimeoutMs)
      if (at.isEmpty) unmatched += s"paced verdict ${v.flowId} (batch ${v.batch}) has no earlier packet"
      at
    }
    PassResult(batches, vs, 0.0, s"$work/out", late, lat, unmatched.toSeq)
  }

  /** Paced checks: each input flow key gets a verdict, no verdict names an
    * unknown key, malformed frames yield none.
    */
  private def checkPaced(ctx: Main.Ctx, p: PassResult, fs: Vector[Frame]): Unit = {
    val keys = fs.flatMap(_.key).toSet
    val got = p.verdicts.map(v => Pure.keyOfFlowId(v.flowId))
    val missing = (keys -- got).toSeq.map(k => s"paced flow $k got no verdict")
    val unknown = got.filterNot(keys).map(k => s"paced verdict for unknown flow $k")
    ctx.checks.bulk(keys.size.toLong + got.size, missing ++ unknown ++ p.unmatched)
  }

  final case class Reference(pairs: Vector[(String, String)], packets: DataFrame,
      nFrames: Long, nPackets: Long)

  /** The batch reference: the same frames decoded in batch, featurized by
    * `BatchFlowFeaturizer.features` and scored by the same model.
    */
  private def batchReference(spark: SparkSession, inDir: String, model: PipelineModel): Reference = {
    val framesDf = spark.read.text(inDir)
    val packets = decode(framesDf).cache()
    val flows = BatchFlowFeaturizer.features(packets)
    val pairs = DetectionPipeline.scored(flows, model).select("flow_id", "Label").collect()
      .toVector.map(r => (r.getString(0), r.getString(1)))
    Reference(pairs, packets, framesDf.count(), packets.count())
  }

  private def decode(frames: DataFrame): DataFrame =
    PacketIngest.toPacketRows(PacketIngest.decodePackets(frames))
      .na.drop(Seq("src_ip", "dst_ip", "ts_us"))

  private def diffPairs(want: Vector[(String, String)], got: Vector[(String, String)]): Seq[String] = {
    def counts(xs: Vector[(String, String)]) = xs.groupBy(identity).map { case (k, v) => k -> v.size }
    val w = counts(want); val g = counts(got)
    (w.keySet ++ g.keySet).toSeq.sorted.flatMap { k =>
      val (a, b) = (w.getOrElse(k, 0), g.getOrElse(k, 0))
      if (a == b) Nil else Seq(s"drain verdict $k: reference x$a, stream x$b")
    }
  }

  private def timeMs[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e6)
  }

  /** Per-layer metrics of a traced run: listener totals of the timed
    * phases, plus each layer function timed alone on the drain inputs.
    */
  private def layerMetrics(ctx: Main.Ctx, model: PipelineModel, drainDir: String,
      ref: Reference, timed: Vector[Batch], passes: Seq[PassResult],
      exec: Option[Map[String, Double]]): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val m = ctx.metrics
    val (_, decodeMs) = timeMs(ctx.spans("layer.decode")(decode(spark.read.text(drainDir)).count()))
    m("ingest.decode_ms") = decodeMs
    m("ingest.rows_in") = timed.map(_.rows).sum.toDouble
    m("ingest.malformed_dropped") = (ref.nFrames - ref.nPackets).toDouble
    val groups = ref.packets.as[PacketRow].collect().toVector.groupBy(FlowKey.of).values.toVector
    val (_, foldMs) = timeMs(ctx.spans("layer.fold")(groups.foreach(g => FlowFeaturizer.foldBatch(None, g))))
    m("flow.fold_ms") = foldMs
    m("flow.packets_per_flow") = ref.nPackets.toDouble / math.max(1, groups.size)
    m("flow.state_rows_peak") = timed.map(_.stateRows).maxOption.getOrElse(0L).toDouble
    m("flow.state_bytes_peak") = timed.map(_.stateBytes).maxOption.getOrElse(0L).toDouble
    m("flow.state_commit_ms") = timed.map(_.stateCommitMs).sum.toDouble
    m("flow.state_update_ms") = timed.map(_.stateUpdateMs).sum.toDouble
    m("flow.state_remove_ms") = timed.map(_.stateRemoveMs).sum.toDouble
    m("flow.flows_timed_out") = timed.map(_.removed).sum.toDouble
    m("ml.fit_ms") = ctx.fitMs
    val flows = BatchFlowFeaturizer.features(ref.packets).cache()
    flows.count()
    val (scoredDf, scoreMs) = timeMs(ctx.spans("layer.score") {
      val s = DetectionPipeline.scored(flows, model).cache(); s.count(); s
    })
    m("ml.score_ms") = scoreMs
    val all = passes.flatMap(_.verdicts)
    m("ml.verdicts") = all.size.toDouble
    m("ml.ddos_verdicts") = all.count(_.label == "DDoS").toDouble
    val (_, writeMs) = timeMs(ctx.spans("layer.sink")(
      Sinks.writeNdjsonNonEmpty(scoredDf, s"${ctx.dataDir}/run/sink_alone")))
    m("sink.write_ms") = writeMs
    val outs = passes.map(r => new java.io.File(r.outDir))
    val kept = outs.flatMap(o => Option(o.listFiles()).toSeq.flatten).filter(_.getName.startsWith("batch="))
    m("sink.bytes") = kept.flatMap(k => Option(k.listFiles()).toSeq.flatten)
      .filter(_.getName.startsWith("part-")).map(_.length).sum.toDouble
    m("sink.dirs_kept") = kept.size.toDouble
    scoredDf.unpersist(); flows.unpersist(); ref.packets.unpersist()
    streamMetrics(m, timed)
    exec.foreach(m ++= _)
  }

  /** The micro-batch engine's split, summed over `bs`. */
  def streamMetrics(m: mutable.Map[String, Double], bs: Seq[Batch]): Unit = {
    def sum(k: String) = bs.map(_.dur.getOrElse(k, 0L)).sum.toDouble
    m("stream.batches") = bs.size.toDouble
    m("stream.trigger_ms") = sum("triggerExecution")
    m("stream.add_batch_ms") = sum("addBatch")
    m("stream.query_planning_ms") = sum("queryPlanning")
    m("stream.wal_commit_ms") = sum("walCommit")
    m("stream.commit_offsets_ms") = sum("commitOffsets")
    m("stream.latest_offset_ms") = sum("latestOffset")
    m("stream.fixed_ms_per_batch") =
      if (bs.isEmpty) 0.0 else (sum("triggerExecution") - sum("addBatch")) / bs.size
  }
}
