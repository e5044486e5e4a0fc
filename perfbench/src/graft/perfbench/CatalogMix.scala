package graft.perfbench

import graft.{GraftSession, Q}
import graft.operators.StageViews
import org.apache.spark.sql.{DataFrame, Row}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** catalog-mix: one closed-loop client over a fixed query list — one
  * cold pass in the fresh session, then warm passes.
  */
object CatalogMix {

  /** The catalog as `SparkEntry.catalog` composes it, minus
    * `PretrainedRf.all`: that module's two queries load the reference's
    * persisted model from an absolute path outside the repository, so
    * touching them throws wherever that file is absent.
    */
  def catalog: Seq[Q] = {
    import graft._
    operators.Relational.all ++ flow.BatchFlowFeaturizer.all ++ flow.FlowFeaturizer.all ++
      operators.Cleaning.all ++ operators.Detection.all ++ operators.Sessionize.all ++
      operators.RateWindow.all ++ operators.MultiDimAgg.all ++ operators.Joins.all ++
      operators.AsOfJoin.all ++ operators.Dedup.all ++ operators.Similarity.all ++
      operators.Pq.all ++ operators.TextAnalysis.all ++ operators.Retrieval.all ++
      operators.Bpe.all ++ operators.Sampling.all ++ operators.CorpusFilter.all ++
      operators.Multimodal.all ++ operators.SemiStructured.all ++ operators.TimeSeries.all ++
      operators.StreamJoin.all ++ operators.Sketches.all ++ operators.MgStream.all ++
      operators.QdStream.all ++ operators.HllStream.all ++ operators.ThreatScreen.all ++
      operators.ThreatScreenStream.all ++ operators.Layout.all ++ operators.Scd.all ++
      operators.StatefulTotals.all ++ operators.OpsDiagnostics.all ++ operators.Quantize.all ++
      operators.Cdc.all ++ operators.Packing.all ++ operators.Privacy.all ++
      operators.WebCorpus.all ++ operators.Behavior.all ++ operators.Mitigation.all ++
      operators.Concurrency.all ++ operators.MarketBasket.all ++ operators.Profiling.all ++
      operators.Ewma.all ++ operators.Cusum.all ++ operators.Deciles.all ++
      operators.Fulfillment.all ++ ml.RfDetector.all ++ ingest.CsvFlows.roundtripQueries
  }

  val Excluded: Seq[String] = Seq("q_rf_pretrained_score", "q_rf_compiled_score")

  /** Part of the frozen `Bench.canary` basket (a scan aggregate, a
    * multi-way join, a window and the streaming floor), and the
    * stage-view consumers: the flow family on the
    * `flows_v` view and the MinHash dedup query on the dedup views.
    */
  val Basket: Seq[String] = Seq(
    "q1_pricing_summary", "q_top_customers", "q_sessionize", "q_rate_window_stream",
    "q_flow_features", "q_detect_label", "q_dedup_minhash_lsh")

  /** Minimum warm passes, whatever `--seconds` says; `pass_s` is their
    * median.
    */
  val MinWarmPasses = 4

  final case class Timing(name: String, constructMs: Double, execMs: Double, streamed: Boolean,
      phases: Map[String, Double], stages: Double) {
    def totalMs: Double = constructMs + execMs
  }

  def run(ctx: Main.Ctx): Unit = {
    val spark = ctx.spark
    val dir = s"${ctx.dataDir}/sf0.01"
    val byName = catalog.map(q => q.name -> q).toMap
    require(Excluded.forall(n => !byName.contains(n)))
    val qs = Basket.map(byName)
    ctx.metrics("setup_s") = Main.sinceStartMs / 1000.0
    ctx.exec.foreach(spark.sparkContext.addSparkListener)

    var current = ""
    if (ctx.trace) StageViews.enableBuildAttribution(() => current)
    val resultDir = s"${ctx.dataDir}/results"
    val coldT0 = System.nanoTime()
    val cold = ctx.spans("catalog.cold_pass")(qs.map { q =>
      current = q.name
      val (t, rows, schema) = timed(ctx, q, dir)
      // result kept for the oracle compare; the write is outside the timing
      spark.createDataFrame(rows.toList.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$resultDir/${q.name}")
      t
    })
    val coldMs = cold.map(_.totalMs).sum
    ctx.detail("cold_pass_wall_ms") = (System.nanoTime() - coldT0) / 1e6
    val builds = if (ctx.trace) StageViews.buildLog else Nil
    StageViews.disableBuildAttribution()

    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    val warm = mutable.ArrayBuffer.empty[Seq[Timing]]
    while (warm.size < MinWarmPasses || System.nanoTime() < deadline)
      warm += ctx.spans(s"catalog.warm_pass.${warm.size}")(qs.map(q => timed(ctx, q, dir)._1))
    val passMs = warm.map(_.map(_.totalMs).sum).toSeq
    // a query's response time: its median over the warm passes
    val queryMs = qs.indices.map(i => Pure.median(warm.map(_(i).totalMs).toSeq))

    ctx.metrics("pass_s") = Pure.median(passMs) / 1000.0
    // the typical query is the geometric mean over the queries, so each
    // weighs alike whatever its cost; the tail is the slowest query
    ctx.metrics("latency_ms") = Pure.geomean(queryMs)
    ctx.metrics("latency_tail_ms") = queryMs.max
    ctx.detail ++= Seq(
      "catalog_cold_s" -> coldMs / 1000.0,
      "catalog_pass_s" -> Pure.median(passMs) / 1000.0,
      "warm_passes_s" -> passMs.map(_ / 1000.0),
      "queries" -> qs.map(_.name),
      "excluded" -> Excluded,
      "cold_query_ms" -> cold.map(t => t.name -> t.totalMs).toMap,
      "warm_query_ms" -> qs.map(_.name).zip(queryMs).toMap)
    ctx.detail("oracles") = qs.flatMap(q => q.oracle.map(q.name -> _)).toMap
    ctx.detail("results_dir") = resultDir

    if (ctx.trace) {
      ctx.exec.foreach(_.settle())
      ctx.exec.foreach(e => ctx.metrics ++= e.snapshot)
      // tracing cost: one more warm pass with the listener detached and
      // no spans, against the last traced one
      ctx.exec.foreach(spark.sparkContext.removeSparkListener)
      val plainMs = qs.map(q => plainTimed(ctx, q, dir)).sum
      val tracedMs = passMs.last
      ctx.metrics("trace.overhead_pct") = (tracedMs - plainMs) / plainMs * 100.0
      val all = warm.flatten.toSeq
      val n = all.size.toDouble
      val plain = all.filterNot(_.streamed)
      ctx.metrics("catalog.construct_ms") = plain.map(_.constructMs).sum / warm.size
      ctx.metrics("catalog.construct_stream_ms") =
        all.filter(_.streamed).map(_.constructMs).sum / warm.size
      for (ph <- Seq("analysis", "optimization", "planning"))
        ctx.metrics(s"catalog.${ph}_ms") = all.map(_.phases.getOrElse(ph, 0.0)).sum / warm.size
      ctx.metrics("catalog.exec_ms") = all.map(_.execMs).sum / warm.size
      ctx.metrics("catalog.stages_per_query") = all.map(_.stages).sum / n
      ctx.metrics("views.builds") = builds.size.toDouble
      ctx.metrics("views.build_ms") = builds.map(_.sec * 1000.0).sum
    }
  }

  /** One query, construction and `collect()` timed apart. Construction
    * of a streaming catalog query runs its whole stream; it is marked.
    */
  private def timed(ctx: Main.Ctx, q: Q, dir: String): (Timing, Array[Row],
      org.apache.spark.sql.types.StructType) = {
    val spark = ctx.spark
    val before = ctx.exec.map { e => e.settle(); e.snapshot }
    val started = ctx.stream.startedCount
    val t0 = System.nanoTime()
    val df: DataFrame = ctx.spans(s"catalog.construct.${q.name}")(q.run(spark, dir))
    val t1 = System.nanoTime()
    val rows = ctx.spans(s"catalog.exec.${q.name}")(df.collect())
    val t2 = System.nanoTime()
    GraftSession.dropStreamSinks(spark)
    val phases =
      if (!ctx.trace) Map.empty[String, Double]
      else df.queryExecution.tracker.phases.map { case (k, v) => k -> v.durationMs.toDouble }
    val stages = (for (b <- before; e <- ctx.exec) yield {
      e.settle(); e.snapshot("exec.stages") - b("exec.stages")
    }).getOrElse(0.0)
    (Timing(q.name, (t1 - t0) / 1e6, (t2 - t1) / 1e6, ctx.stream.startedCount > started,
      phases, stages), rows, df.schema)
  }

  private def plainTimed(ctx: Main.Ctx, q: Q, dir: String): Double = {
    val t0 = System.nanoTime()
    q.run(ctx.spark, dir).collect()
    val ms = (System.nanoTime() - t0) / 1e6
    GraftSession.dropStreamSinks(ctx.spark)
    ms
  }
}
