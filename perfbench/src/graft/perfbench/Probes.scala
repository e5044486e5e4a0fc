package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One micro-batch as the progress listener reports it. `startMs` is the
  * trigger start; `endMs` adds the trigger's own duration, i.e. the
  * moment the batch (and its sink write) committed.
  */
final case class Batch(runId: String, batchId: Long, rows: Long, startMs: Double,
    dur: Map[String, Long], stateRows: Long, stateBytes: Long, stateCommitMs: Long,
    stateUpdateMs: Long, stateRemoveMs: Long, removed: Long) {
  def endMs: Double = startMs + dur.getOrElse("triggerExecution", 0L)
}

/** Collects every streaming query's progress (public
  * `StreamingQueryListener`), keyed by run id.
  */
final class StreamProbe extends StreamingQueryListener {
  private val lock = new Object
  private val batches = ArrayBuffer.empty[Batch]
  private val started = ArrayBuffer.empty[String]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
    lock.synchronized { started += e.runId.toString; lock.notifyAll() }
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    lock.synchronized(lock.notifyAll())
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    lock.synchronized { batches += StreamProbe.toBatch(e.progress); lock.notifyAll() }

  def startedCount: Int = lock.synchronized(started.size)

  /** Blocks until `done` holds for the run's batches or the deadline passes. */
  def await(runId: String, deadlineNs: Long)(done: Vector[Batch] => Boolean): Vector[Batch] =
    lock.synchronized {
      var bs = batches.filter(_.runId == runId).sortBy(_.batchId).toVector
      while (!done(bs) && System.nanoTime() < deadlineNs) {
        lock.wait(50)
        bs = batches.filter(_.runId == runId).sortBy(_.batchId).toVector
      }
      bs
    }
}

object StreamProbe {
  def toBatch(p: StreamingQueryProgress): Batch = {
    val ops = p.stateOperators.toSeq
    Batch(p.runId.toString, p.batchId, p.numInputRows,
      java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
      ops.map(_.commitTimeMs).sum, ops.map(_.allUpdatesTimeMs).sum,
      ops.map(_.allRemovalsTimeMs).sum, ops.map(_.numRowsRemoved).sum)
  }
}

/** Scheduler counters from the public `SparkListener` bus. */
final class ExecProbe extends SparkListener {
  @volatile var jobs = 0L
  @volatile var stages = 0L
  @volatile var tasks = 0L
  @volatile var taskRunMs = 0L
  @volatile var gcMs = 0L
  @volatile var shuffleWrite = 0L
  @volatile var shuffleRead = 0L
  @volatile var spill = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized { stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      taskRunMs += m.executorRunTime
      gcMs += m.jvmGCTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Waits (at most 200 ms) until the asynchronous listener bus stops
    * moving the counters, so a boundary reading includes its own tasks.
    */
  def settle(): Unit = {
    val deadline = System.nanoTime() + 200000000L
    var last = snapshot
    var stableFor = 0
    while (stableFor < 2 && System.nanoTime() < deadline) {
      Thread.sleep(10)
      val now = snapshot
      if (now == last) stableFor += 1 else { stableFor = 0; last = now }
    }
  }

  def snapshot: Map[String, Double] = synchronized(Map(
    "exec.jobs" -> jobs.toDouble, "exec.stages" -> stages.toDouble,
    "exec.tasks" -> tasks.toDouble, "exec.task_run_ms" -> taskRunMs.toDouble,
    "exec.gc_ms" -> gcMs.toDouble, "exec.shuffle_write_bytes" -> shuffleWrite.toDouble,
    "exec.shuffle_read_bytes" -> shuffleRead.toDouble, "exec.spill_bytes" -> spill.toDouble))
}

object ExecProbe {
  def delta(a: Map[String, Double], b: Map[String, Double]): Map[String, Double] =
    b.map { case (k, v) => k -> (v - a.getOrElse(k, 0.0)) }
}

/** In-memory span recorder for traced runs: each span is a call from the
  * benchmark into one layer, with its parent and the scheduler counters
  * that moved inside it. Disabled, it only runs the body.
  */
final class Spans(enabled: Boolean, exec: Option[ExecProbe]) {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long,
      counters: Map[String, Double])
  private val done = ArrayBuffer.empty[Span]
  private var stack = List(-1)
  private var next = 0

  def apply[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = next; next += 1
      val parent = stack.head
      stack = id :: stack
      val before = exec.map(_.snapshot)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        exec.foreach(_.settle())
        val moved = (for (b <- before; e <- exec) yield ExecProbe.delta(b, e.snapshot))
          .getOrElse(Map.empty)
        stack = stack.tail
        done += Span(id, parent, name, t0, t1, moved)
      }
    }

  def toJson: Seq[Map[String, Any]] = done.sortBy(_.id).toVector.map(s => Map(
    "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
    "start_ms" -> s.startNs / 1e6, "end_ms" -> s.endNs / 1e6, "counters" -> s.counters))
}
