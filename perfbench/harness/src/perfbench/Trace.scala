package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One timed interval at a layer boundary. `op` groups the spans of
  * one operation; `parent` is the id of the span that caused it (0 for
  * the operation's root).
  */
final case class Span(id: Long, parent: Long, op: String, layer: String,
    name: String, startNs: Long, endNs: Long)

/** In-memory span recorder; written out once when the run ends. */
final class Spans {
  private val ids = new AtomicLong(0)
  private val buf = new java.util.concurrent.ConcurrentLinkedQueue[Span]()

  /** Run `body`, given the new span's id for its children, and record
    * its interval as that span. */
  def apply[T](op: String, parent: Long, layer: String, name: String)(
      body: Long => T): T = {
    val id = ids.incrementAndGet()
    val t0 = System.nanoTime()
    try body(id)
    finally buf.add(Span(id, parent, op, layer, name, t0, System.nanoTime()))
  }

  def record(op: String, parent: Long, layer: String, name: String,
      startNs: Long, endNs: Long): Long = {
    val id = ids.incrementAndGet()
    buf.add(Span(id, parent, op, layer, name, startNs, endNs))
    id
  }

  def all: Seq[Span] = buf.asScala.toSeq.sortBy(_.id)

  def toJsonLines: Iterator[String] = all.iterator.map(s => Harness.json(Map(
    "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "layer" -> s.layer,
    "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
}

/** Per-operation Spark execution counts, keyed by the job tag the
  * benchmark puts on the thread that runs the operation.
  */
final class OpExec {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var failedTasks = 0L
  var taskRunMs = 0L
  var taskCpuMs = 0L
  var schedDelayMs = 0L
  var gcMs = 0L
  var inputRows = 0L
  var inputBytes = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  /** (start, end) of each job, epoch ms */
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  /** stage id → task run times, for the skew of the longest stage */
  val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  /** max / median task time in the stage with the largest summed time */
  def taskSkew: Double =
    if (stageTaskMs.isEmpty) 1.0
    else {
      val ts = stageTaskMs.values.maxBy(_.sum).sorted
      val med = ts(ts.length / 2).max(1L)
      ts.last.toDouble / med
    }

  /** Milliseconds of [startMs, endMs] with no job of this op running. */
  def driverGapMs(startMs: Long, endMs: Long): Long = {
    var covered = 0L
    var cur = startMs
    jobSpans.map { case (s, e) => (s.max(startMs), e.min(endMs)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (e > cur) { covered += e - s.max(cur); cur = e }
      }
    (endMs - startMs - covered).max(0L)
  }
}

/** A SparkListener that attributes job, stage and task metrics to the
  * operation whose tag the job carries (`spark.job.tags`).
  */
final class ExecListener(tagPrefix: String) extends SparkListener {
  private val byOp = new ConcurrentHashMap[String, OpExec]()
  private val stageOp = new ConcurrentHashMap[Int, String]()
  private val jobOp = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()

  def op(tag: String): OpExec = byOp.computeIfAbsent(tag, _ => new OpExec)

  private def tagOf(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .flatMap(_.split(",").find(_.startsWith(tagPrefix)))

  override def onJobStart(e: SparkListenerJobStart): Unit =
    tagOf(e.properties).foreach { t =>
      jobOp.put(e.jobId, t)
      jobStart.put(e.jobId, e.time)
      val o = op(t)
      o.synchronized { o.jobs += 1 }
      e.stageIds.foreach(stageOp.put(_, t))
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobOp.remove(e.jobId)).foreach { t =>
      val s = Option(jobStart.remove(e.jobId)).map(_.longValue).getOrElse(e.time)
      val o = op(t)
      o.synchronized { o.jobSpans += ((s, e.time)) }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageOp.get(e.stageInfo.stageId)).foreach { t =>
      val o = op(t)
      o.synchronized { o.stages += 1 }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageOp.get(e.stageId)).foreach { t =>
      val o = op(t)
      val m = e.taskMetrics
      o.synchronized {
        o.tasks += 1
        if (!e.taskInfo.successful) o.failedTasks += 1
        if (m != null) {
          o.taskRunMs += m.executorRunTime
          o.taskCpuMs += m.executorCpuTime / 1000000L
          o.gcMs += m.jvmGCTime
          o.inputRows += m.inputMetrics.recordsRead
          o.inputBytes += m.inputMetrics.bytesRead
          o.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          o.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          o.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          o.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
            m.executorRunTime
          // scheduler delay: launch-to-finish time not spent running,
          // deserializing or serializing the result
          val wall = e.taskInfo.finishTime - e.taskInfo.launchTime
          o.schedDelayMs += (wall - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime).max(0L)
        }
      }
    }
}

/** Per-operation metric sums → per-layer averages. */
object ExecSummary {
  def perOp(execs: Seq[OpExec], gapsMs: Seq[Long]): Map[String, Double] = {
    val n = execs.size.max(1).toDouble
    def avg(f: OpExec => Double) = execs.map(f).sum / n
    Map(
      "exec.jobs" -> avg(_.jobs.toDouble),
      "exec.stages" -> avg(_.stages.toDouble),
      "exec.tasks" -> avg(_.tasks.toDouble),
      "exec.failed_tasks" -> avg(_.failedTasks.toDouble),
      "exec.task_run_ms" -> avg(_.taskRunMs.toDouble),
      "exec.task_cpu_ms" -> avg(_.taskCpuMs.toDouble),
      "exec.sched_delay_ms" -> avg(_.schedDelayMs.toDouble),
      "exec.gc_ms" -> avg(_.gcMs.toDouble),
      "exec.task_skew" -> avg(_.taskSkew),
      "exec.input_rows" -> avg(_.inputRows.toDouble),
      "exec.input_bytes" -> avg(_.inputBytes.toDouble),
      "exec.shuffle_write_bytes" -> avg(_.shuffleWriteBytes.toDouble),
      "exec.shuffle_read_bytes" -> avg(_.shuffleReadBytes.toDouble),
      "exec.spill_bytes" -> avg(_.spillBytes.toDouble),
      "exec.driver_gap_ms" -> gapsMs.sum.toDouble / n)
  }
}

/** Rule time Catalyst spent in rules of a package, from the process-wide
  * rule metering (nanoseconds, summed since start). Each dump row reads
  * `<rule> <effective ns> / <total ns> <effective runs> / <total runs>`.
  */
object RuleTime {
  def nanos(prefix: String): Long =
    org.apache.spark.sql.catalyst.rules.RuleExecutor.dumpTimeSpent()
      .linesIterator.map(_.trim).filter(_.startsWith(prefix))
      .flatMap(_.split("\\s+").lift(3))
      .flatMap(s => scala.util.Try(s.toLong).toOption).sum
}
