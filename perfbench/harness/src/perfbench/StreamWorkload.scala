package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

import graft.changelog.Changelog
import graft.streaming.RetractStream
import graft.streaming.RetractStream.{AggEmit, ChangeEvent}
import Harness._

/** stream_changelog: one generator thread appends the seed's changelog
  * into a MemoryStream: a reference rate on a fixed schedule (open loop)
  * first, then a saturation phase that appends a block as soon as the
  * last one is committed. RetractStream.groupAggRetract consumes it into
  * a benchmark-owned foreachBatch sink. Final bursts of changelog rows
  * are timed from append to commit.
  */
object StreamWorkload {

  /** The final aggregate per key, folded in plain Scala over the rows the
    * generator appended — the reference for the sink's last emission.
    */
  def fold(events: Iterator[ChangeEvent]): Map[String, AggEmit] = {
    val live = mutable.Map.empty[String, List[(Long, Long)]]
    val seq = mutable.Map.empty[String, Long].withDefaultValue(0L)
    events.foreach { e =>
      val cur = live.getOrElse(e.key, Nil)
      if (e.kind == Changelog.Insert || e.kind == Changelog.UpdateAfter) {
        live(e.key) = (seq(e.key), e.value) :: cur
        seq(e.key) += 1
      } else {
        cur.filter(_._2 == e.value).sortBy(_._1).headOption
          .foreach(v => live(e.key) = cur.filterNot(_ == v))
      }
    }
    live.map { case (k, rows) =>
      if (rows.isEmpty) k -> AggEmit(k, 0, 0, 0, 0, 0, 0, "", Changelog.Delete)
      else {
        val vs = rows.map(_._2)
        k -> AggEmit(k, rows.size.toLong, vs.sum, vs.max, vs.min,
          rows.minBy(_._1)._2, rows.maxBy(_._1)._2, vs.sorted.mkString(","),
          Changelog.UpdateAfter)
      }
    }.toMap
  }

  def readChangelog(p: String): Array[ChangeEvent] =
    Files.readAllLines(Paths.get(p)).asScala.iterator.filter(_.nonEmpty).map { l =>
      val Array(k, v, kind) = l.split(' ')
      ChangeEvent(k, v.toLong, kind.toByte)
    }.toArray

  /** One sink invocation: when it ran and which keys it emitted. */
  final case class SinkBatch(id: Long, emitNs: Long, sinkMs: Double, rows: Array[AggEmit])

  /** A running query plus the generator's bookkeeping. */
  final class Pipeline(root: SparkSession, ckpt: String,
      listener: Option[StreamingQueryListener]) {
    val s: SparkSession = root.newSession()
    import s.implicits._
    listener.foreach(s.streams.addListener)
    val input: MemoryStream[ChangeEvent] = MemoryStream[ChangeEvent](1, s, None)
    /** first event index of each addData call, plus the end sentinel */
    val callFirst = mutable.ArrayBuffer(0L)
    val sunk = new ConcurrentLinkedQueue[SinkBatch]()
    val query: StreamingQuery =
      RetractStream.groupAggRetract(input.toDS()).writeStream
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: Dataset[AggEmit], id: Long) =>
          val t0 = System.nanoTime()
          val rows = df.collect()
          val t1 = System.nanoTime()
          sunk.add(SinkBatch(id, t1, (t1 - t0) / 1e6, rows))
          ()
        }.start()

    def append(events: Array[ChangeEvent], from: Int, until: Int): Unit =
      callFirst.synchronized {
        input.addData(events.slice(from, until).toSeq)
        callFirst += until.toLong
      }

    /** First event index of the addData call `call` (the end past the last). */
    def firstOfCall(call: Int): Long =
      callFirst.synchronized(callFirst(call.min(callFirst.size - 1)))

    /** Events covered by committed batches (from the query's progress). */
    def processed: Long = Option(query.lastProgress)
      .flatMap(p => p.sources.headOption.map(_.endOffset))
      .filter(o => o != null && o != "null")
      .map(o => firstOfCall(o.trim.toInt + 1))
      .getOrElse(0L)

    def awaitProcessed(n: Long, timeoutS: Double): Boolean = {
      val t0 = System.nanoTime()
      while (processed < n && secondsSince(t0) < timeoutS) Thread.sleep(2)
      processed >= n
    }
  }

  def run(root: SparkSession, cfg: JsonNode, out: Path): Outcome = {
    val events = readChangelog(cfg.get("changelog").asText())
    val warmN = cfg.get("warm_events").asInt()
    val refRate = cfg.get("ref_rate").asDouble()
    val refS = cfg.get("ref_seconds").asDouble()
    val satS = cfg.get("sat_seconds").asDouble()
    val satBacklog = cfg.get("sat_backlog").asInt()
    val burst = cfg.get("burst_events").asInt()
    val bursts = cfg.get("bursts").asInt()
    def run1(p: Pipeline) =
      timeline(p, events, warmN, refRate, refS, satS, satBacklog, burst, bursts)
    val work = cfg.get("work_dir").asText()
    var nCkpt = 0
    def start(listener: Option[StreamingQueryListener] = None): Pipeline = {
      nCkpt += 1
      val p = new Pipeline(root, s"$work/ckpt-$nCkpt", listener)
      // warm-up: the changelog's head, in a few small appends
      val step = (warmN / 4).max(1)
      (0 until warmN by step).foreach { i =>
        p.append(events, i, (i + step).min(warmN))
        p.query.processAllAvailable()
      }
      p
    }
    val (setupS, pipe) = timed(start())
    val untraced = run1(pipe)
    pipe.query.stop()
    val heap = liveHeapMb()

    // correctness: the sink's last emission per key against the fold
    val expected = fold(events.iterator.take(untraced.appended))
    val got = mutable.Map.empty[String, AggEmit]
    pipe.sunk.asScala.toSeq.sortBy(_.id).foreach(_.rows.foreach(r => got(r.key) = r))
    val mismatched = (expected.keySet ++ got.keySet).count { k =>
      (expected.get(k), got.get(k)) match {
        case (Some(e), Some(g)) => e != g
        case (Some(e), None) => e.kind != Changelog.Delete
        case (None, Some(_)) => true
        case _ => false
      }
    }
    val emitted = pipe.sunk.asScala.map(_.rows.length.toLong).sum

    val traced =
      if (cfg.get("trace").asBoolean()) {
        // a second untraced query, as warm as the traced one, for the overhead
        val plainPipe = start()
        val plain = run1(plainPipe)
        plainPipe.query.stop()
        val listener = new ProgressListener
        val p = start(Some(listener))
        val t = run1(p)
        p.query.stop()
        def median(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sorted.apply(xs.size / 2)
        Some(listener.summary ++ t.layerStats(p) ++ Map(
          "trace.overhead_p50_ms" -> (median(t.latencyMs) - median(plain.latencyMs))))
      } else None

    Outcome(setupS, Map(
      "latency_ms" -> untraced.latencyMs, "reference" -> untraced.reference,
      "commits" -> untraced.commits.map { case (t, n) => Seq(t, n) },
      "burst_s" -> untraced.burstS,
      "attempted" -> emitted, "failed" -> mismatched,
      "errors" -> Option(pipe.query.exception.orNull).map(_.toString).toSeq,
      "live_heap_mb" -> heap) ++ traced.map("per_layer" -> _))
  }

  final case class Timeline(latencyMs: Seq[Double], reference: Map[String, Any],
      commits: Seq[(Double, Long)], burstS: Seq[Double], appended: Int,
      genLateMs: Double, backlogMean: Double) {
    def layerStats(p: Pipeline): Map[String, Double] = {
      val sinks = p.sunk.asScala.toSeq
      Map("stream.sink_ms" -> sinks.map(_.sinkMs).sum / sinks.size.max(1),
        "stream.backlog_rows" -> backlogMean, "stream.gen_late_ms" -> genLateMs)
    }
  }

  /** The reference phase (open loop at a fixed rate), then the saturation
    * phase (a block of `satBacklog` events whenever the engine has
    * committed everything, so it always has work), drain, then the burst.
    * Events wait in the generator until the engine has committed what it
    * was given: MemoryStream turns every appended block into a task, and
    * a batch of many small blocks would slow the next batch down. Latency
    * counts from the due time, so that wait is part of it.
    */
  def timeline(p: Pipeline, events: Array[ChangeEvent], from: Int,
      refRate: Double, refS: Double, satS: Double, satBacklog: Int,
      burst: Int, bursts: Int): Timeline = {
    val tickNs = 2000000L
    val nRef = (refRate * refS).toInt
    val limit = events.length - burst * bursts
    @volatile var next = from // next event index to append
    val lateNs = mutable.ArrayBuffer.empty[Long]
    def dueNs(i: Int): Long = ((i - from) / refRate * 1e9).toLong
    // (seconds since start, due, processed), every 50 ms
    val samples = new ConcurrentLinkedQueue[(Double, Long, Long)]()
    val tStart = System.nanoTime()
    val gen = new Thread(() => {
      // open loop: every event due by now, in one block once the engine
      // has committed the previous one
      while (next < from + nRef) {
        val now = System.nanoTime() - tStart
        if (p.processed >= next) {
          var until = next
          while (until < from + nRef && dueNs(until) <= now) until += 1
          if (until > next) {
            p.append(events, next, until)
            lateNs += now - dueNs(next)
            next = until
          }
        }
        LockSupport.parkNanos(tickNs)
      }
      // saturation: a fresh block as soon as the last one is committed
      val satEnd = System.nanoTime() + (satS * 1e9).toLong
      while (System.nanoTime() < satEnd && next + satBacklog <= limit) {
        if (p.processed >= next) {
          p.append(events, next, next + satBacklog)
          next += satBacklog
        }
        LockSupport.parkNanos(tickNs)
      }
    })
    gen.start()
    while (gen.isAlive) {
      val el = secondsSince(tStart)
      val due = if (el <= refS) from + (el * refRate).toLong.min(nRef.toLong) else next.toLong
      samples.add((el, due, p.processed))
      Thread.sleep(50)
    }
    gen.join()
    val appended = next
    p.awaitProcessed(appended.toLong, 60)
    // bursts: one append each, timed to its commit
    val burstS = (0 until bursts).map { i =>
      val at = appended + i * burst
      val b0 = System.nanoTime()
      p.append(events, at, at + burst)
      p.awaitProcessed((at + burst).toLong, 120)
      secondsSince(b0)
    }

    // batch id → covered event range, from the query's progress
    val progress = p.query.recentProgress.map(pr =>
      pr.batchId -> (pr.sources.head.startOffset, pr.sources.head.endOffset)).toMap
    def call(o: String): Int = if (o == null || o == "null") -1 else o.trim.toInt
    // latency of rows emitted for reference-phase input: emission time
    // minus the due time of the newest event of that key in the batch
    val latency = mutable.ArrayBuffer.empty[Double]
    // committed events over time in the saturation phase
    val commits = mutable.ArrayBuffer.empty[(Double, Long)]
    p.sunk.asScala.toSeq.sortBy(_.id).foreach { sb =>
      progress.get(sb.id).foreach { case (so, eo) =>
        val lo = p.firstOfCall(call(so) + 1)
        val hi = p.firstOfCall(call(eo) + 1)
        val newest = mutable.Map.empty[String, Long]
        (lo until hi).foreach { ev =>
          if (ev >= from && ev < from + nRef) newest(events(ev.toInt).key) = dueNs(ev.toInt)
        }
        sb.rows.foreach { r =>
          newest.get(r.key).foreach(d => latency += (sb.emitNs - tStart - d) / 1e6)
        }
        if (lo >= from + nRef && hi <= appended)
          commits += (((sb.emitNs - tStart) / 1e9, hi))
      }
    }
    val ss = samples.asScala.toSeq
    val ref = ss.filter(_._1 <= refS)
    Timeline(latency.toSeq,
      Map("rate" -> refRate, "t" -> ref.map(_._1), "produced" -> ref.map(_._2),
        "processed" -> ref.map(_._3)),
      commits.toSeq, burstS, appended + bursts * burst,
      if (lateNs.isEmpty) 0.0 else lateNs.sum / lateNs.size / 1e6,
      if (ref.isEmpty) 0.0 else ref.map(s => (s._2 - s._3).toDouble).sum / ref.size)
  }

  /** StreamingQueryListener progress → per-batch averages. */
  final class ProgressListener extends StreamingQueryListener {
    private val ps = new ConcurrentLinkedQueue[org.apache.spark.sql.streaming.StreamingQueryProgress]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      ps.add(e.progress)

    def summary: Map[String, Double] = {
      val all = ps.asScala.toSeq.filter(_.numInputRows > 0)
      val n = all.size.max(1).toDouble
      def d(k: String) = all.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)).sum / n
      def st(f: org.apache.spark.sql.streaming.StateOperatorProgress => Double) =
        all.map(p => p.stateOperators.headOption.map(f).getOrElse(0.0)).sum / n
      Map(
        "stream.batches" -> all.size.toDouble,
        "stream.batch_ms" -> d("triggerExecution"),
        "stream.add_batch_ms" -> d("addBatch"),
        "stream.query_planning_ms" -> d("queryPlanning"),
        "stream.wal_commit_ms" -> d("walCommit"),
        "stream.commit_offsets_ms" -> d("commitOffsets"),
        "stream.rows_per_batch" -> all.map(_.numInputRows.toDouble).sum / n,
        "state.rows_total" -> st(_.numRowsTotal.toDouble),
        "state.rows_updated" -> st(_.numRowsUpdated.toDouble),
        "state.rows_removed" -> st(_.numRowsRemoved.toDouble),
        "state.mem_bytes" -> st(_.memoryUsedBytes.toDouble),
        "state.commit_ms" -> st(_.commitTimeMs.toDouble),
        "state.update_ms" -> st(_.allUpdatesTimeMs.toDouble))
    }
  }
}
