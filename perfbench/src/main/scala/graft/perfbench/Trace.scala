package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval at a layer boundary. `parent` is the id of the span
  * that caused it (0 = a root), `run` identifies the benchmark run.
  */
final case class Span(id: Long, parent: Long, name: String, startNs: Long, endNs: Long)

/** In-memory span recorder. Spans are recorded only when tracing is on;
  * [[time]] still returns the elapsed seconds either way, so untraced runs
  * measure through the same code path without keeping spans.
  */
final class Tracer(val enabled: Boolean, val runId: String) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack[Long](0L)
  private var nextId = 1L

  /** Runs `f`, returning its result and wall seconds; records a span named
    * `name` under the innermost open span when tracing.
    */
  def time[A](name: String)(f: => A): (A, Double) = {
    val id = nextId
    nextId += 1
    val parent = stack.top
    stack.push(id)
    val t0 = System.nanoTime()
    try {
      val a = f
      val t1 = System.nanoTime()
      if (enabled) spans += Span(id, parent, name, t0, t1)
      (a, (t1 - t0) / 1e9)
    } finally stack.pop()
  }

  /** Records an interval measured elsewhere (e.g. a streaming progress
    * duration) as a child of the innermost open span.
    */
  def record(name: String, startNs: Long, endNs: Long): Unit =
    if (enabled) {
      spans += Span(nextId, stack.top, name, startNs, endNs)
      nextId += 1
    }

  /** Writes spans as JSON lines: name, start, end, parent, run id. */
  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"run":${Json.str(runId)}}"""
    }
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

/** Counters of the Spark jobs started inside a time window. */
final case class JobStats(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    executorCpuS: Double = 0, gcS: Double = 0,
    shuffleWriteBytes: Long = 0, shuffleReadBytes: Long = 0,
    spillBytes: Long = 0) {
  def +(o: JobStats): JobStats = JobStats(
    jobs + o.jobs, stages + o.stages, tasks + o.tasks,
    executorCpuS + o.executorCpuS, gcS + o.gcS,
    shuffleWriteBytes + o.shuffleWriteBytes,
    shuffleReadBytes + o.shuffleReadBytes, spillBytes + o.spillBytes)
}

/** Records every job with its start time and folds task and stage metrics
  * into it. Jobs are attributed to a phase by the window in which they
  * started, not by job group: work started from another thread (a Future
  * inside an operator) still lands in the phase that caused it.
  */
final class JobRecorder extends SparkListener {
  private final class Job(val startMs: Long) {
    var stages = 0L; var tasks = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = new Job(e.time)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      j.tasks += 1
      if (m != null) {
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Stats of the jobs that started in [fromMs, toMs]. Call [[drain]]
    * first so every event of the window has been delivered.
    */
  def window(fromMs: Long, toMs: Long): JobStats = synchronized {
    jobs.valuesIterator.filter(j => j.startMs >= fromMs && j.startMs <= toMs)
      .foldLeft(JobStats()) { (acc, j) =>
        acc + JobStats(1, j.stages, j.tasks, j.cpuNs / 1e9, j.gcMs / 1e3,
          j.shuffleWrite, j.shuffleRead, j.spill)
      }
  }

  def drain(sc: SparkContext): Unit =
    org.apache.spark.perfbenchshim.ListenerBus.waitUntilEmpty(sc)
}
