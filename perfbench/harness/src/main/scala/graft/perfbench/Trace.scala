package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Per-op counters of one traced run. Times are milliseconds unless named
  * otherwise; byte counts are bytes. */
final class OpStats {
  var jobs, bodyJobs, stages, tasks = 0L
  var cpuNs, gcMs, taskMs, taskWaitMs = 0L
  var shuffleWrite, spill, input, written = 0L
  val skews = mutable.ArrayBuffer[Double]()
  var batches, batchMs, planningMs, walMs, offsetMs = 0L
  var stateRows, stateBytes, stateCommitMs = 0L

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "body_jobs" -> bodyJobs, "stages" -> stages,
    "tasks" -> tasks, "cpu_ns" -> cpuNs, "gc_ms" -> gcMs,
    "task_ms" -> taskMs, "task_wait_ms" -> taskWaitMs,
    "shuffle_write" -> shuffleWrite,
    "spill" -> spill, "input" -> input, "written" -> written,
    "skews" -> skews.toSeq, "batches" -> batches, "batch_ms" -> batchMs,
    "planning_ms" -> planningMs, "wal_ms" -> walMs, "offset_ms" -> offsetMs,
    "state_rows" -> stateRows, "state_bytes" -> stateBytes,
    "state_commit_ms" -> stateCommitMs)
}

/** Spans and per-op counters for the traced run. The harness opens a span
  * around each call it makes into the program; Spark jobs and stages become
  * child spans through the `perfbench.span` local property, which the
  * harness sets before each call (the job group is not used because
  * `IngestionRunner` sets and clears it itself). Everything stays in memory
  * and is written once, at exit. */
final class Trace extends SparkListener {
  import Trace.Span

  val SpanProp = "perfbench.span"
  val OpProp = "perfbench.op"

  private val t0Nanos = System.nanoTime()
  private val t0Millis = System.currentTimeMillis().toDouble
  private val spans = mutable.ArrayBuffer[Span]()
  private val ops = mutable.Map[Int, OpStats]()
  private val stageOp = mutable.Map[Int, Int]()
  private val stageSpan = mutable.Map[Int, Int]()
  private val stageTasks = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
  private val jobSpan = mutable.Map[Int, Int]()
  @volatile var currentOp: Int = -1

  def nowMs: Double = t0Millis + (System.nanoTime() - t0Nanos) / 1e6

  def open(parent: Int, name: String): Int = synchronized {
    spans += Span(spans.size, parent, name, nowMs, -1)
    spans.size - 1
  }

  def close(id: Int): Unit = synchronized { spans(id).end = nowMs }

  def stats(op: Int): OpStats = synchronized(ops.getOrElseUpdate(op, new OpStats))

  private def prop(p: java.util.Properties, k: String): Option[Int] =
    Option(p).flatMap(x => Option(x.getProperty(k))).map(_.toInt)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    for (op <- prop(e.properties, OpProp)) {
      val parent = prop(e.properties, SpanProp).getOrElse(-1)
      val id = spans.size
      spans += Span(id, parent, "job", e.time.toDouble, -1)
      jobSpan(e.jobId) = id
      val st = stats(op)
      st.jobs += 1
      if (parent >= 0 && spans(parent).name == "body") st.bodyJobs += 1
      e.stageIds.foreach { s =>
        stageOp.getOrElseUpdate(s, op)
        stageSpan.getOrElseUpdate(s, id)
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach(id => spans(id).end = e.time.toDouble)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (op <- stageOp.get(e.stageId); m <- Option(e.taskMetrics)) {
      val st = stats(op)
      val info = e.taskInfo
      st.tasks += 1
      st.cpuNs += m.executorCpuTime
      st.gcMs += m.jvmGCTime
      st.taskMs += info.duration
      st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      st.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      st.input += m.inputMetrics.bytesRead
      st.written += m.outputMetrics.bytesWritten
      stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += info.duration
      stageSubmitted.get(e.stageId).foreach(s =>
        st.taskWaitMs += math.max(0L, info.launchTime - s))
    }
  }

  private val stageSubmitted = mutable.Map[Int, Long]()

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      e.stageInfo.submissionTime.foreach(t => stageSubmitted(e.stageInfo.stageId) = t)
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val si = e.stageInfo
      for (op <- stageOp.get(si.stageId)) {
        val st = stats(op)
        st.stages += 1
        val parent = stageSpan.getOrElse(si.stageId, -1)
        spans += Span(spans.size, parent, "stage",
          si.submissionTime.getOrElse(0L).toDouble,
          si.completionTime.getOrElse(0L).toDouble)
        stageTasks.remove(si.stageId).filter(_.size >= 2).foreach { ds =>
          val sorted = ds.sorted
          val med = sorted(sorted.size / 2).toDouble
          if (med > 0) st.skews += sorted.last / med
        }
      }
      stageSubmitted.remove(si.stageId)
    }

  /** Streaming progress, attributed to the op running when it arrives (the
    * harness drains the listener bus at op boundaries). */
  def onProgress(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Unit =
    synchronized {
      if (currentOp >= 0) {
        val st = stats(currentOp)
        def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
        st.batches += 1
        st.batchMs += d("triggerExecution")
        st.planningMs += d("queryPlanning")
        st.walMs += d("walCommit") + d("commitOffsets")
        st.offsetMs += d("latestOffset") + d("getBatch")
        val ops = p.stateOperators.toSeq
        st.stateRows = math.max(st.stateRows, ops.map(_.numRowsTotal).sum)
        st.stateBytes = math.max(st.stateBytes, ops.map(_.memoryUsedBytes).sum)
        st.stateCommitMs += ops.map(_.commitTimeMs).sum
      }
    }

  def spanJson: Iterator[String] = synchronized {
    spans.toSeq.iterator.map(s => Json(Map("id" -> s.id, "parent" -> s.parent,
      "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end)))
  }

  def opJson: Map[String, Any] = synchronized {
    ops.toSeq.map { case (k, v) => k.toString -> v.toMap }.toMap
  }
}

object Trace {
  private final case class Span(id: Int, parent: Int, name: String,
      start: Double, var end: Double)

  /** The traced run's trace, for listeners Spark instantiates itself. */
  @volatile var active: Trace = null
}

/** Registered through `spark.sql.streaming.streamingQueryListeners`, so
  * that it also hears queries started on sessions the program clones (the
  * stateful stream ops run on a RocksDB-provider clone with its own query
  * manager). */
final class ProgressListener extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    Option(Trace.active).foreach(_.onProgress(e.progress))
}
