package graft.perfbench

import graft.{GraftSession, Tables}
import graft.flow.BatchFlowFeaturizer
import graft.ml.RfDetector

/** Fits the stand-in detector model once per build:
  *
  *   graft.perfbench.FitModel <cpus> <eventsDir> <modelDir> <outJson>
  *
  * `RfDetector.pipeline()` (100 trees, depth 6, seed 42) on flows
  * labeled by `RfDetector.withLabel`: the sf0.01 `events` flows plus
  * heavy-hitter attacker flows of the flood's shape. The generated
  * events alone hold no flow `withLabel` marks DDoS, and a forest fitted
  * on one class is a single leaf. The reference's persisted model is not
  * in the repository; the detector loads this one at start-up the way
  * it would load that one.
  */
object FitModel {

  /** Attacker flows in the fit: `AttackFlows` flows at each size. */
  val AttackSizes: Seq[Int] = Seq(8, 30, 100, 300, 600)
  val AttackFlows = 12
  val Seed = 42L

  def main(args: Array[String]): Unit = {
    val Array(cpus, eventsDir, modelDir, outJson) = args
    val spark = GraftSession.getOrCreate(cpus)
    import spark.implicits._
    val attack = AttackSizes.zipWithIndex.flatMap { case (n, i) =>
      Pure.heavyHitters(Seed + i, AttackFlows, n, (i + 1) * 10000000L)
    }
    val t0 = System.nanoTime()
    val flows = RfDetector.withLabel(
      BatchFlowFeaturizer.fromEvents(Tables.events(spark, eventsDir))
        .unionByName(BatchFlowFeaturizer.features(attack.toDS().toDF()))).cache()
    val model = RfDetector.pipeline().fit(flows)
    val fitMs = (System.nanoTime() - t0) / 1e6
    model.write.overwrite().save(modelDir)
    val out = Map("fit_ms" -> fitMs, "flows" -> flows.count(),
      "ddos_labels" -> flows.filter($"binary_label" === 1.0).count())
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outJson), Json(out))
    spark.stop()
  }
}
