package perfbench

import scala.collection.mutable

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.perfbench.Access

/** Bytes the block manager holds for blocks created during the current
  * op (persists, local checkpoints, broadcast pieces), with the peak.
  * Blocks that outlive their op are not charged to the next one. A
  * broadcast counts until the op ends: its removal waits for a garbage
  * collection to clear its last reference, so counting it would make
  * the peak depend on GC timing rather than on the op. */
final class BlockTally extends SparkListener {
  private val known = mutable.HashSet.empty[String]
  private val live = mutable.HashMap.empty[String, Long]
  private var liveBytes = 0L
  private var peak = 0L
  private var markPeak = 0L

  def beginOp(): Unit = synchronized {
    known ++= live.keys
    live.clear(); liveBytes = 0L; peak = 0L; markPeak = 0L
  }
  def opPeak: Long = synchronized(peak)
  /** Start a sub-interval; [[peakSinceMark]] reads its peak. */
  def mark(): Unit = synchronized { markPeak = liveBytes }
  def peakSinceMark: Long = synchronized(markPeak)

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    val id = info.blockId.name
    if (!known.contains(id)) {
      val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      if (size > 0 || !info.blockId.isBroadcast) {
        liveBytes += size - live.getOrElse(id, 0L)
        if (size > 0) live(id) = size else live.remove(id)
        peak = math.max(peak, liveBytes)
        markPeak = math.max(markPeak, liveBytes)
      }
    }
  }
}

/** Counters for one span: its jobs, stages and tasks, their metrics,
  * and the SQL metrics of the plans it executed. */
final class Acc {
  var jobs, stages, tasks, failures = 0L
  var runMs, cpuNs, gcMs, fetchWaitMs, shWriteNs = 0L
  var shWriteBytes, shReadBytes, spillBytes = 0L
  var scanRows, scanBytes, scanFiles, scanMs = 0L
  var broadcastBytes, broadcastMs, scoredRows = 0L
  var persistPeak = 0L
}

/** One traced call: `name` is `<layer>.<function>`; an action span is
  * the call that forces a lazy result. */
final case class Span(id: Int, name: String, action: Boolean, parent: Int, op: Int,
                      start: Long, var end: Long = 0L) {
  def layer: String = name.takeWhile(_ != '.')
  def seconds: Double = (end - start) / 1e9
}

/** Spans around the benchmark's calls into the library, and the Spark
  * jobs, stages, tasks and plan metrics each span caused. Jobs are
  * tagged with the innermost open span through a local property, which
  * Spark copies into every job the calling thread (or a broadcast or
  * subquery thread it spawns) submits. When disabled, [[span]] only
  * runs its body. */
final class Tracer(sc: SparkContext, tally: BlockTally, slots: Int)
    extends SparkListener with AdaptiveSparkPlanHelper {
  import Tracer._

  @volatile private var enabled = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val accs = mutable.HashMap.empty[Int, Acc]
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val execSpan = mutable.HashMap.empty[Long, Int]
  private var stack: List[Span] = Nil
  private var op = -1

  def enable(): Unit = { sc.addSparkListener(this); enabled = true }

  def beginOp(i: Int): Unit = synchronized { op = i }

  def span[T](name: String, action: Boolean = false)(body: => T): T =
    if (!enabled) body
    else {
      val persistWatch = name.startsWith("ml.")
      if (persistWatch) { Access.drainListeners(sc); tally.mark() }
      val s = synchronized {
        val s = Span(spans.size, name, action, stack.headOption.map(_.id).getOrElse(-1),
          op, System.nanoTime())
        spans += s
        s
      }
      stack = s :: stack
      sc.setLocalProperty(SpanKey, s.id.toString)
      try body
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(SpanKey, stack.headOption.map(_.id.toString).orNull)
        if (persistWatch) {
          Access.drainListeners(sc)
          val p = tally.peakSinceMark
          synchronized(acc(s.id).persistPeak = p)
        }
      }
    }

  private def acc(id: Int): Acc = accs.getOrElseUpdate(id, new Acc)

  private def spanOf(props: java.util.Properties, key: String): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty(key)))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val sid = spanOf(e.properties, SpanKey).map(_.toInt).getOrElse(-1)
    acc(sid).jobs += 1
    e.stageIds.foreach(st => stageSpan(st) = sid)
    spanOf(e.properties, "spark.sql.execution.id").foreach { x =>
      if (!execSpan.contains(x.toLong)) execSpan(x.toLong) = sid
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    acc(stageSpan.getOrElse(e.stageInfo.stageId, -1)).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = acc(stageSpan.getOrElse(e.stageId, -1))
    a.tasks += 1
    if (e.reason != Success) a.failures += 1
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime; a.cpuNs += m.executorCpuTime; a.gcMs += m.jvmGCTime
      a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      a.shReadBytes += m.shuffleReadMetrics.totalBytesRead
      a.shWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.shWriteNs += m.shuffleWriteMetrics.writeTime
      a.spillBytes += m.diskBytesSpilled
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case end: SparkListenerSQLExecutionEnd =>
      val qe = Access.queryExecution(end)
      if (qe != null) {
        val plan = qe.executedPlan
        synchronized {
          val a = acc(execSpan.getOrElse(end.executionId, -1))
          collectWithSubqueries(plan) { case p: SparkPlan => p }.foreach(node(a, _))
        }
      }
    case _ =>
  }

  private def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).map(_.value).getOrElse(0L)

  /** Plan nodes by layer: file scans belong to `sources`, broadcasts to
    * `exchange`; the ADC candidate join (its output carries the PQ
    * codes column) counts the rows an ANN probe scored. */
  private def node(a: Acc, p: SparkPlan): Unit = p match {
    case s: FileSourceScanExec =>
      a.scanRows += metric(s, "numOutputRows"); a.scanBytes += metric(s, "filesSize")
      a.scanFiles += metric(s, "numFiles"); a.scanMs += metric(s, "scanTime")
    case b: BroadcastExchangeExec =>
      a.broadcastBytes += metric(b, "dataSize")
      a.broadcastMs += metric(b, "buildTime") + metric(b, "broadcastTime")
    case j: BroadcastHashJoinExec if j.output.exists(_.name == "__c") =>
      a.scoredRows += metric(j, "numOutputRows")
    case _ =>
  }

  /** The spans of op `i` and their counters (after a listener drain). */
  def opSpans(i: Int): Seq[(Span, Acc)] = synchronized {
    spans.filter(_.op == i).map(s => s -> accs.getOrElse(s.id, new Acc)).toSeq
  }

  /** Per-layer self time of op `i` (seconds), plus `unattributed`.
    *
    * A span's self time is its duration minus its children's. The
    * part of it executors were busy (task run time over slots, capped
    * at the self time) is split by the work's own shares: shuffle
    * write and fetch wait go to `exchange`, file-scan time to
    * `sources`. Building and sending broadcast relations is
    * driver time the query waits for, and goes to `exchange` as well.
    * The rest, including other driver time, stays with the span's
    * layer. What no top-level span covers is `unattributed`. */
  def layerSelf(i: Int, opWall: Double): Map[String, Double] = {
    val ss = opSpans(i)
    val out = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    val childSum = ss.groupBy(_._1.parent).map { case (p, c) => p -> c.map(_._1.seconds).sum }
    ss.foreach { case (s, a) =>
      val self = math.max(0.0, s.seconds - childSum.getOrElse(s.id, 0.0))
      val run = a.runMs / 1e3
      val busy = math.min(self, run / slots)
      val exShare = if (run > 0) (a.shWriteNs / 1e9 + a.fetchWaitMs / 1e3) / run else 0.0
      val scShare = if (run > 0) a.scanMs / 1e3 / run else 0.0
      val scale = if (exShare + scShare > 1) 1 / (exShare + scShare) else 1.0
      val shared = busy * (exShare + scShare) * scale
      val bcast = math.min(self - shared, a.broadcastMs / 1e3)
      out("exchange") += busy * exShare * scale + bcast
      out("sources") += busy * scShare * scale
      out(s.layer) += self - shared - bcast
    }
    out("unattributed") = math.max(0.0, opWall - ss.filter(_._1.parent == -1).map(_._1.seconds).sum)
    out.toMap
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
}
