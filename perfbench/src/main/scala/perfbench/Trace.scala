package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a named interval around a call into one layer. Spark jobs
  * started while it is the innermost open span are attributed to it.
  */
final case class Span(id: Int, name: String, parent: Int, startMs: Long, endMs: Long,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Per-span counters filled from Spark listener events. */
final class SpanCounters {
  var jobs = 0L
  var tasks = 0L
  var taskMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var peakMem = 0L
}

/** In-memory tracer. `span` sets the Spark local property
  * [[Tracer.SpanKey]] for the duration of the call; a [[SparkListener]]
  * attributes job, stage, task and shuffle metrics to the span open when
  * each job started, and a [[QueryExecutionListener]] collects planning
  * phase times and join-node row counts. Everything stays in memory
  * until the run writes [[spanRecords]] after the traced phase.
  */
final class Tracer(spark: SparkSession) {
  import Tracer.SpanKey

  private val sc = spark.sparkContext
  private val nextId = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[(Int, String, Long, Long)] = Nil

  private val counters = new ConcurrentHashMap[Int, SpanCounters]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val jobStartMs = new ConcurrentHashMap[Int, Long]()
  /** Finished jobs: (startMs, endMs). */
  private val jobIntervals = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
  /** Task durations per stage, for the skew ratio. */
  private val stageTaskMs = new ConcurrentHashMap[Int, java.util.concurrent.ConcurrentLinkedQueue[Long]]()
  /** Planning records: (startMs of analysis, planning seconds). */
  val planRecords = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Double)]()
  /** Join-node records: (startMs of analysis, rows out of the join nodes). */
  val joinRecords = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
  private val jobsStarted = new AtomicLong(0)
  private val jobsEnded = new AtomicLong(0)

  private def countersOf(span: Int): SpanCounters =
    counters.computeIfAbsent(span, _ => new SpanCounters)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
        .map(_.toInt).getOrElse(-1)
      jobStartMs.put(e.jobId, e.time)
      e.stageIds.foreach(s => stageSpan.putIfAbsent(s, span))
      countersOf(span).synchronized { countersOf(span).jobs += 1 }
      jobsStarted.incrementAndGet()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      jobIntervals.add((jobStartMs.getOrDefault(e.jobId, e.time), e.time))
      jobsEnded.incrementAndGet()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m == null) return
      val span = stageSpan.getOrDefault(e.stageId, -1)
      val c = countersOf(span)
      c.synchronized {
        c.tasks += 1
        c.taskMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.peakMem = math.max(c.peakMem, m.peakExecutionMemory)
      }
      stageTaskMs.computeIfAbsent(e.stageId, _ => new java.util.concurrent.ConcurrentLinkedQueue[Long]())
        .add(m.executorRunTime)
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      val planMs = Seq("analysis", "optimization", "planning")
        .flatMap(phases.get).map(_.durationMs).sum
      val start = phases.values.map(_.startTimeMs).foldLeft(Long.MaxValue)(math.min)
      planRecords.add((start, planMs / 1000.0))
      val plan = qe.executedPlan
      val joins = Tracer.nodes(plan).collect { case j: BaseJoinExec => j }
      if (joins.nonEmpty) {
        val joinRows = joins.flatMap(_.metrics.get("numOutputRows")).map(_.value).sum
        joinRecords.add((start, joinRows))
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  def start(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Waits until every started job has ended and the listener bus has
    * had time to deliver the last callbacks, then detaches both listeners.
    */
  def stop(): Unit = {
    val deadline = System.nanoTime() + 20L * 1000000000L
    while (jobsEnded.get() < jobsStarted.get() && System.nanoTime() < deadline) Thread.sleep(20)
    Thread.sleep(200)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Runs `f` inside a span named `name`. */
  def span[A](name: String)(f: => A): A = {
    val id = nextId.incrementAndGet().toInt
    val parent = open.headOption.map(_._1).getOrElse(-1)
    val prev = sc.getLocalProperty(SpanKey)
    open = (id, name, System.currentTimeMillis(), System.nanoTime()) :: open
    sc.setLocalProperty(SpanKey, id.toString)
    try f
    finally {
      val (_, _, sMs, sNs) = open.head
      open = open.tail
      sc.setLocalProperty(SpanKey, prev)
      spans.synchronized {
        spans += Span(id, name, parent, sMs, System.currentTimeMillis(), sNs, System.nanoTime())
      }
    }
  }

  def allSpans: Seq[Span] = spans.synchronized(spans.toList)

  /** Spans whose name equals `name` or starts with `name + "."`. */
  def spansNamed(name: String): Seq[Span] =
    allSpans.filter(s => s.name == name || s.name.startsWith(name + "."))

  /** Counters summed over the given spans and all their descendants. */
  def sum(ss: Seq[Span]): SpanCounters = {
    val ids = descendants(ss.map(_.id).toSet)
    val out = new SpanCounters
    ids.foreach { id =>
      Option(counters.get(id)).foreach { c =>
        c.synchronized {
          out.jobs += c.jobs; out.tasks += c.tasks; out.taskMs += c.taskMs
          out.cpuNs += c.cpuNs; out.gcMs += c.gcMs
          out.shuffleWrite += c.shuffleWrite; out.shuffleRead += c.shuffleRead
          out.spill += c.spill; out.peakMem = math.max(out.peakMem, c.peakMem)
        }
      }
    }
    out
  }

  def descendants(roots: Set[Int]): Set[Int] = {
    val children = allSpans.groupBy(_.parent)
    var seen = roots
    var frontier = roots.toList
    while (frontier.nonEmpty) {
      val next = frontier.flatMap(id => children.getOrElse(id, Nil).map(_.id)).filterNot(seen)
      seen ++= next
      frontier = next
    }
    seen
  }

  /** Seconds of `[fromMs, toMs]` during which at least one job ran. */
  def jobBusySeconds(fromMs: Long, toMs: Long): Double = {
    val iv = jobIntervals.asScala.toSeq
      .map { case (a, b) => (math.max(a, fromMs), math.min(b, toMs)) }
      .filter { case (a, b) => b > a }
    Tracer.unionMs(iv) / 1000.0
  }

  /** Duration-weighted mean over stages (≥ 2 tasks) of max / median task time. */
  def taskSkew: Double = {
    val stages = stageTaskMs.asScala.values.map(_.asScala.toArray.sorted).filter(_.length >= 2)
    val weighted = stages.map { ts =>
      val med = math.max(1L, ts(ts.length / 2))
      (ts.last.toDouble / med, ts.sum.toDouble)
    }
    val w = weighted.map(_._2).sum
    if (w == 0) 1.0 else weighted.map { case (r, t) => r * t }.sum / w
  }

  /** Spans as JSON-ready maps, for the trace file. */
  def spanRecords: Seq[Map[String, Any]] = allSpans.sortBy(_.id).map { s =>
    val c = Option(counters.get(s.id))
    Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs, "seconds" -> s.seconds,
      "jobs" -> c.map(_.jobs).getOrElse(0L), "tasks" -> c.map(_.tasks).getOrElse(0L),
      "shuffle_write_bytes" -> c.map(_.shuffleWrite).getOrElse(0L))
  }
}

object Tracer {
  val SpanKey = "perfbench.span"

  /** Every node of an executed plan, looking through adaptive wrappers. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case other => Seq(other) ++ other.children.flatMap(nodes) ++
      other.subqueries.flatMap(nodes)
  }

  /** Total length of a union of intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curA = Long.MinValue; var curB = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}

/** Peak heap used after each garbage collection, from the JVM's GC
  * notifications: the heap pools only, not Metaspace or the code cache.
  * Covers driver and executors (one JVM in local mode).
  */
final class HeapPeak {
  private val peak = new AtomicLong(0)
  @volatile private var active = false
  private val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  private val handler = new javax.management.NotificationListener {
    override def handleNotification(n: javax.management.Notification, hb: Any): Unit = {
      if (active && n.getType == com.sun.management.GarbageCollectionNotificationInfo
          .GARBAGE_COLLECTION_NOTIFICATION) {
        val info = com.sun.management.GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        peak.accumulateAndGet(used, (a, b) => math.max(a, b))
      }
    }
  }
  private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case b: javax.management.NotificationEmitter => b }
  beans.foreach(_.addNotificationListener(handler, null, null))

  def begin(): Unit = { peak.set(0); active = true }
  /** Ends the window with one collection so the window always holds a sample. */
  def endMb(): Double = {
    System.gc()
    Thread.sleep(100)
    active = false
    peak.get() / 1048576.0
  }
  def close(): Unit = beans.foreach(b => try b.removeNotificationListener(handler) catch {
    case _: Exception => })
}
