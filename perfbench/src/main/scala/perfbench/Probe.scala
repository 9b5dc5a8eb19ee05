package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._

/** Execution-layer counters gathered by one SparkListener the harness
  * registers. Totals only ever grow; the harness reads a [[Totals]]
  * snapshot before and after the measured window and reports the
  * difference. Job intervals are kept so statement time can be split into
  * "some job running" and "driver only". */
final class ExecListener extends SparkListener {
  private var t = Totals()
  private val jobStarts = scala.collection.mutable.Map[Int, Long]()
  private val intervals = ArrayBuffer[(Long, Long)]()
  // jobs the harness runs for its own probes, and their stages: not counted
  private val probeJobs = scala.collection.mutable.Set[Int]()
  private val probeStages = scala.collection.mutable.Set[Int]()
  private var lastEventMs = System.currentTimeMillis()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    lastEventMs = System.currentTimeMillis()
    if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == ExecListener.ProbeGroup)) {
      probeJobs += e.jobId
      probeStages ++= e.stageIds
    } else {
      jobStarts(e.jobId) = e.time
      t = t.copy(jobs = t.jobs + 1)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    lastEventMs = System.currentTimeMillis()
    if (!probeJobs.remove(e.jobId)) {
      jobStarts.remove(e.jobId).foreach(s => intervals += ((s, e.time)))
      t = t.copy(jobsEnded = t.jobsEnded + 1)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    lastEventMs = System.currentTimeMillis()
    if (!probeStages(e.stageInfo.stageId)) t = t.copy(stages = t.stages + 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    lastEventMs = System.currentTimeMillis()
    if (probeStages(e.stageId)) return
    val failed = e.reason != org.apache.spark.Success
    val m = e.taskMetrics
    t = if (m == null) t.copy(tasks = t.tasks + 1, tasksFailed = t.tasksFailed + (if (failed) 1 else 0))
    else t.copy(
      tasks = t.tasks + 1,
      tasksFailed = t.tasksFailed + (if (failed) 1 else 0),
      runMs = t.runMs + m.executorRunTime,
      cpuNs = t.cpuNs + m.executorCpuTime,
      gcMs = t.gcMs + m.jvmGCTime,
      inputRows = t.inputRows + m.inputMetrics.recordsRead,
      inputBytes = t.inputBytes + m.inputMetrics.bytesRead,
      shuffleWrite = t.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
      shuffleRead = t.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
      spill = t.spill + m.memoryBytesSpilled + m.diskBytesSpilled)
  }

  /** Wait until every started job has ended and the listener bus has been
    * quiet for a moment, so a snapshot covers all work submitted so far. */
  def settle(timeoutMs: Long = 10000): Totals = {
    val deadline = System.currentTimeMillis() + timeoutMs
    def quiet = synchronized {
      t.jobs == t.jobsEnded && System.currentTimeMillis() - lastEventMs > 150
    }
    while (!quiet && System.currentTimeMillis() < deadline) Thread.sleep(20)
    totals
  }

  def totals: Totals = synchronized(t)

  /** Job intervals (epoch ms) that overlap [from, to]. */
  def jobIntervals(from: Long, to: Long): Seq[(Long, Long)] = synchronized {
    intervals.filter { case (s, e) => e >= from && s <= to }.toSeq
  }
}

object ExecListener {
  val ProbeGroup = "perfbench-probe"
}

final case class Totals(
    jobs: Long = 0, jobsEnded: Long = 0, stages: Long = 0, tasks: Long = 0,
    tasksFailed: Long = 0, runMs: Long = 0, cpuNs: Long = 0, gcMs: Long = 0,
    inputRows: Long = 0, inputBytes: Long = 0, shuffleWrite: Long = 0,
    shuffleRead: Long = 0, spill: Long = 0) {
  def -(o: Totals): Totals = Totals(jobs - o.jobs, jobsEnded - o.jobsEnded,
    stages - o.stages, tasks - o.tasks, tasksFailed - o.tasksFailed,
    runMs - o.runMs, cpuNs - o.cpuNs, gcMs - o.gcMs, inputRows - o.inputRows,
    inputBytes - o.inputBytes, shuffleWrite - o.shuffleWrite,
    shuffleRead - o.shuffleRead, spill - o.spill)
}

/** In-memory spans recorded around the harness's calls into each layer.
  * Disabled (every call a plain pass-through) unless the run is traced. */
final class Tracer(val enabled: Boolean) {
  final case class Span(id: Int, parent: Int, name: String, stmt: Int,
      startNs: Long, endNs: Long)

  val spans = ArrayBuffer[Span]()
  private var stack = List.empty[Int]
  private var nextId = 1
  var stmt: Int = -1

  def apply[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, name, stmt, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  /** Add a span measured elsewhere (a Spark job, from listener times). */
  def add(name: String, parent: Int, stmt: Int, startNs: Long, endNs: Long): Unit = {
    spans += Span(nextId, parent, name, stmt, startNs, endNs)
    nextId += 1
  }
}
