package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.perfbench.CallMark
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.BlockId

/** Peak block-manager storage memory held by persisted frames (RDD
  * blocks), from block-update and unpersist events, per top-level engine
  * call: a `CallMark` starts a new call and drops every block cached
  * before it from the count. Blocks an earlier call left behind are not
  * counted, because localCheckpoint blocks stay until the JVM's garbage
  * collector lets Spark's cleaner drop them, so how many of them are
  * still held at a given moment depends on GC timing, not on the
  * program. Always on: it backs an end-to-end metric, and costs one map
  * update per block. */
final class CacheMeter extends SparkListener {
  private val blocks = mutable.HashMap.empty[(String, BlockId), Long]
  /** RDDs that held blocks before the current call began. */
  private val earlier = mutable.HashSet.empty[Int]
  private var current = 0L
  private var peak = 0L

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD && !info.blockId.asRDDId.exists(b => earlier(b.rddId))) {
      val key = (info.blockManagerId.executorId, info.blockId)
      current -= blocks.remove(key).getOrElse(0L)
      if (info.storageLevel.isValid && info.memSize > 0) {
        blocks(key) = info.memSize
        current += info.memSize
      }
      peak = math.max(peak, current)
    }
  }

  // Unpersisting an RDD drops its blocks without a block update.
  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
    blocks.keys.filter(_._2.asRDDId.exists(_.rddId == e.rddId)).toList
      .foreach(k => current -= blocks.remove(k).getOrElse(0L))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case m: CallMark => synchronized {
      earlier ++= blocks.keys.flatMap(_._2.asRDDId.map(_.rddId))
      blocks.clear()
      current = 0L
      if (m.resetPeak) peak = 0L
    }
    case _ => ()
  }

  /** The peak since the last resetting mark; drain the bus first. */
  def peakBytes: Long = synchronized(peak)
}

/** Engine counters for the traced run: jobs, stages, tasks, task time,
  * shuffle / input / output / spill bytes, planning time per action
  * (analysis + optimization + physical planning, from each action's
  * planning tracker), and every task's run interval so the driver gap
  * (wall time with no task running) can be computed over any window. */
final class EngineCounters extends SparkListener with QueryExecutionListener {
  val jobs, stages, tasks, taskNanos, shuffleWrite, shuffleRead, input,
    output, spill, planMs = new AtomicLong
  private val intervals = mutable.ArrayBuffer.empty[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val info = e.taskInfo
    if (info != null) intervals.synchronized {
      intervals += ((info.launchTime, info.finishTime))
    }
    val m = e.taskMetrics
    if (m != null) {
      taskNanos.addAndGet(m.executorRunTime * 1000000L)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      input.addAndGet(m.inputMetrics.bytesRead)
      output.addAndGet(m.outputMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  private def planned(qe: QueryExecution): Unit =
    planMs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum)
  override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = planned(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
    planned(qe)

  def snapshot(): Map[String, Long] = Map(
    "jobs" -> jobs.get, "stages" -> stages.get, "tasks" -> tasks.get,
    "task_ns" -> taskNanos.get, "shuffle_write_b" -> shuffleWrite.get,
    "shuffle_read_b" -> shuffleRead.get, "input_b" -> input.get,
    "output_b" -> output.get, "spill_b" -> spill.get, "plan_ms" -> planMs.get)

  /** Milliseconds of [fromMs, toMs] during which no task ran. */
  def idleMs(fromMs: Long, toMs: Long): Long = {
    val iv = intervals.synchronized(intervals.toArray)
      .map { case (a, b) => (math.max(a, fromMs), math.min(b, toMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    (toMs - fromMs) - covered
  }
}

/** One recorded call into a layer. Counter deltas are inclusive of
  * child spans; self time is duration minus the union of child
  * intervals (children are strictly nested on the driver thread). */
final case class Span(id: Int, parent: Int, name: String, runId: String,
    startNs: Long, var endNs: Long = 0L,
    var counts: Map[String, Long] = Map.empty) {
  def layer: String = name.takeWhile(_ != '.')
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans recorded by the benchmark around each call into a layer. With
  * tracing off, `span` runs its body, after posting a `CallMark` if it is
  * a top-level call (for the cache meter). With tracing on, each span
  * waits for the listener bus to drain at its start and end, so the
  * engine counters seen in between belong to that span; the time spent
  * in that bookkeeping is what `trace.overhead_frac` reports. Spans stay
  * in memory and are written once, at the end. */
final class Tracer(spark: SparkSession, runId: String) {
  var counters: Option[EngineCounters] = None
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  /** Open spans, traced or not: a span at depth 0 is a top-level call. */
  private var depth = 0
  /** Nanoseconds spent in span bookkeeping. */
  var bookkeepingNs = 0L

  private def kept[A](body: => A): A = {
    val t0 = System.nanoTime()
    try body finally bookkeepingNs += System.nanoTime() - t0
  }

  /** Turns tracing on for the rest of the run. */
  def start(): Unit = {
    val c = new EngineCounters
    spark.sparkContext.addSparkListener(c)
    spark.listenerManager.register(c)
    counters = Some(c)
  }

  /** Engine counters accumulated since `start`. */
  def totals: Map[String, Long] = {
    drain()
    counters.get.snapshot()
  }

  def drain(): Unit =
    org.apache.spark.graft.SparkShims.waitUntilListenerBusEmpty(spark, 30000L)

  def span[A](name: String)(body: => A): A = {
    if (depth == 0) CallMark.post(spark.sparkContext)
    depth += 1
    try counters match {
      case None => body
      case Some(c) =>
        val before = kept { drain(); c.snapshot() }
        val s = Span(spans.size, stack.headOption.fold(-1)(_.id), name, runId,
          System.nanoTime())
        spans += s
        stack.push(s)
        try body
        finally kept {
          drain()
          s.endNs = System.nanoTime()
          val after = c.snapshot()
          s.counts = after.map { case (k, v) => k -> (v - before(k)) }
          stack.pop()
        }
    } finally depth -= 1
  }

  /** Self seconds of each span: its duration minus its children's. */
  def selfSeconds: Map[Int, Double] = {
    val childNs = spans.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(c => c.endNs - c.startNs).sum }
    spans.map(s => s.id ->
      ((s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)) / 1e9)).toMap
  }

  def writeJson(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder("[\n")
    spans.zipWithIndex.foreach { case (s, i) =>
      val counts = s.counts.map { case (k, v) => s""""$k":$v""" }.mkString(",")
      sb.append(s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""run":${Json.str(s.runId)},"start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        s""""counts":{$counts}}""")
      sb.append(if (i + 1 < spans.size) ",\n" else "\n")
    }
    sb.append("]\n")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}
