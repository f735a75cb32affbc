package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed span at a benchmark call into a layer. `op` is the
  * operation the span belongs to; `parent` is the enclosing span on the
  * same thread, or -1. */
final case class Span(id: Long, layer: String, name: String, startNs: Long, endNs: Long,
    parent: Long, op: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Disabled, it only runs the body. */
final class Tracer(var enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)

  def span[T](layer: String, name: String, op: Long)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(-1L)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, layer, name, t0, System.nanoTime(), parent, op))
        stack.set(stack.get.tail)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Self time per layer: each span's duration minus its children's. */
  def selfSeconds: Map[String, Double] = {
    val ss = all
    val childSum = ss.filter(_.parent >= 0).groupMapReduce(_.parent)(_.seconds)(_ + _)
    ss.groupMapReduce(_.layer)(s => s.seconds - childSum.getOrElse(s.id, 0.0))(_ + _)
  }

  /** Total (inclusive) seconds and count of spans named `layer.name`. */
  def total(layer: String, name: String): (Double, Int) = {
    val ss = all.filter(s => s.layer == layer && s.name == name)
    (ss.map(_.seconds).sum, ss.size)
  }

  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try all.sortBy(_.startNs).foreach { s =>
      w.write(Json.obj(Seq("id" -> s.id, "layer" -> s.layer, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs, "parent" -> s.parent, "op" -> s.op)))
      w.newLine()
    } finally w.close()
  }
}

/** Engine counters for one traced interval, from Spark's public listener
  * interfaces only. Jobs are attributed to the benchmark operation that
  * submitted them through the [[Probe.OpKey]] local property. */
final class Probe(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  import Probe._

  final class OpStats {
    var jobs, stages, tasks = 0L
    var runMs, cpuNs, gcMs, delayMs, fetchWaitMs = 0L
    var shuffleWrite, shuffleRead, spill, inputBytes, inputRecords, bytesWritten = 0L
    val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  }
  private val ops = new ConcurrentHashMap[Long, OpStats]()
  private val jobOp = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageOp = new ConcurrentHashMap[Int, java.lang.Long]()
  private def stats(op: Long): OpStats = ops.computeIfAbsent(op, _ => new OpStats)

  // Catalyst phases and graft rule time, each QueryExecution counted once
  // (a cached DataFrame reports the same tracker on every action).
  private val seenQe = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[QueryExecution, java.lang.Boolean]())
  val phaseMs = new ConcurrentHashMap[String, AtomicLong]()
  val graftRuleNs = new AtomicLong(0)
  val graftRuleRuns = new AtomicLong(0)
  val graftRuleEffective = new AtomicLong(0)
  @volatile private var markerQe: QueryExecution = null
  @volatile private var markerSeen = false
  @volatile private var markerJobDone = false

  // Lineage-cut (RDD) blocks stored by the block managers.
  private val rddBlockBytes = new ConcurrentHashMap[String, java.lang.Long]()
  val cutBlocks = new AtomicLong(0)
  val cutBytesPeak = new AtomicLong(0)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(OpKey))).map(_.toLong)
    op.foreach { o =>
      jobOp.put(e.jobId, o); jobStart.put(e.jobId, e.time)
      e.stageIds.foreach(stageOp.put(_, o))
      stats(o).synchronized(stats(o).jobs += 1)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobOp.get(e.jobId)).foreach { o =>
      if (o == MarkerOp) markerJobDone = true
      val st = stats(o)
      st.synchronized(st.jobSpans += ((jobStart.get(e.jobId), e.time)))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageOp.get(e.stageInfo.stageId)).foreach { o =>
      val st = stats(o); st.synchronized(st.stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageOp.get(e.stageId)).foreach { o =>
      val m = e.taskMetrics
      val st = stats(o)
      if (m != null) st.synchronized {
        st.tasks += 1
        st.runMs += m.executorRunTime
        st.cpuNs += m.executorCpuTime
        st.gcMs += m.jvmGCTime
        st.delayMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime)
        st.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        st.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        st.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        st.inputBytes += m.inputMetrics.bytesRead
        st.inputRecords += m.inputMetrics.recordsRead
        st.bytesWritten += m.outputMetrics.bytesWritten
      }
    }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = info.blockId.name
      val bytes = info.memSize + info.diskSize
      if (info.storageLevel.isValid && bytes > 0) {
        if (rddBlockBytes.put(key, bytes) == null) cutBlocks.incrementAndGet()
      } else rddBlockBytes.remove(key)
      val now = rddBlockBytes.values.asScala.map(_.longValue).sum
      cutBytesPeak.accumulateAndGet(now, math.max)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    if (qe eq markerQe) { markerSeen = true; return }
    val fresh = seenQe.synchronized(seenQe.add(qe))
    if (fresh) {
      qe.tracker.phases.foreach { case (ph, s) =>
        phaseMs.computeIfAbsent(ph, _ => new AtomicLong()).addAndGet(s.durationMs)
      }
      qe.tracker.rules.foreach { case (rule, s) =>
        if (rule.startsWith("graft.")) {
          graftRuleNs.addAndGet(s.totalTimeNs)
          graftRuleRuns.addAndGet(s.numInvocations)
          graftRuleEffective.addAndGet(s.numEffectiveInvocations)
        }
      }
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  /** Wait until every event posted before this call has been delivered,
    * then detach. A marker job and a marker query run last; the listener
    * buses deliver in order, so seeing both means the rest arrived. */
  def drainAndDetach(): Unit = {
    markerSeen = false; markerJobDone = false
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(OpKey)
    sc.setLocalProperty(OpKey, MarkerOp.toString)
    val marker = spark.range(1)
    markerQe = marker.queryExecution
    marker.collect()
    sc.setLocalProperty(OpKey, prev)
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!(markerSeen && markerJobDone) && System.nanoTime() < deadline) Thread.sleep(5)
    spark.listenerManager.unregister(this)
    sc.removeSparkListener(this)
    require(markerSeen && markerJobDone, "listener events were not delivered within 30 s")
  }

  def opStats: Map[Long, OpStats] = ops.asScala.toMap.filter(_._1 != MarkerOp)
}

object Probe {
  val OpKey = "perfbench.op"
  val MarkerOp: Long = -1L

  /** Wall time in `[start, end]` (ms) covered by at least one job span. */
  def coveredMs(spans: Seq[(Long, Long)], start: Long, end: Long): Long = {
    val clipped = spans.map { case (a, b) => (math.max(a, start), math.min(b, end)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    covered
  }
}

/** Process-wide JVM and codegen counters, read as deltas. */
object JvmCounters {
  def gcMs: Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Compilations so far and their mean compile time (ms). The histogram
    * keeps a decaying sample, so compile seconds are count x mean. */
  def codegen: (Long, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getMean)
  }

  def heapMbAfterGc: Double = {
    System.gc(); System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}
