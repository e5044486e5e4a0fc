package graft.perfbench

import graft.GraftSession
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** JVM side of the benchmark (see perfbench/README.md).
  *
  *   graft.perfbench.Main <workload> <seed> <seconds> <trace 0|1> <cpus> <dataDir>
  *     <modelDir> <fitMs> <outJson>
  *
  * Runs one workload in a fresh session and writes one JSON record:
  * the metrics, the output checks and the run's validity fields.
  */
object Main {

  /** Output checks: every attempted operation, and what failed. */
  final class Checks {
    var attempted = 0L
    var failed = 0L
    /** The first failures, verbatim (the rest are only counted). */
    val failures = mutable.ArrayBuffer.empty[String]
    /** Counts `n` operations of which `bad` failed. */
    def bulk(n: Long, bad: Seq[String]): Unit = {
      attempted += n
      failed += bad.size
      failures ++= bad.take(math.max(0, 50 - failures.size))
    }
    def check(ok: Boolean, what: => String): Unit = bulk(1, if (ok) Nil else Seq(what))
  }

  final case class Ctx(spark: SparkSession, seed: Long, seconds: Int, trace: Boolean,
      dataDir: String, modelDir: String, fitMs: Double, checks: Checks,
      metrics: mutable.LinkedHashMap[String, Double],
      detail: mutable.LinkedHashMap[String, Any], spans: Spans, exec: Option[ExecProbe],
      stream: StreamProbe)

  /** Wall-clock ms since JVM start. */
  def sinceStartMs: Double =
    System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, cpus, dataDir, modelDir, fitMsS, outJson) = args
    val t0 = System.nanoTime()
    val spark = GraftSession.getOrCreate(cpus)
    val sessionMs = (System.nanoTime() - t0) / 1e6
    val stream = new StreamProbe
    spark.streams.addListener(stream)
    val trace = traceS == "1"
    val exec = if (trace) Some(new ExecProbe) else None
    val ctx = Ctx(spark, seedS.toLong, secondsS.toInt, trace, dataDir, modelDir, fitMsS.toDouble,
      new Checks, mutable.LinkedHashMap.empty, mutable.LinkedHashMap.empty,
      new Spans(trace, exec), exec, stream)
    ctx.detail("session_ms") = sessionMs
    val code = try {
      workload match {
        case "detect-flood" => Detect.run(ctx)
        case "catalog-mix" => CatalogMix.run(ctx)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      0
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        ctx.checks.check(ok = false, s"run aborted: $e")
        1
    }
    val out = Map(
      "metrics" -> ctx.metrics.toMap,
      "detail" -> ctx.detail.toMap,
      "attempted" -> math.max(ctx.checks.attempted, 1L),
      "failed" -> ctx.checks.failed,
      "failures" -> ctx.checks.failures.toVector,
      "spans" -> ctx.spans.toJson)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outJson), Json(out))
    spark.streams.active.foreach(_.stop())
    spark.stop()
    sys.exit(code)
  }
}

/** Minimal JSON writer for the result record. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${quote(k.toString)}:${apply(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => apply(xs.toSeq)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
