package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{Success => TaskSuccess}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.catalog.CreateTableEvent
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed interval of the benchmark's own code. Times are epoch
  * milliseconds with sub-millisecond precision, so they line up with Spark's
  * job timestamps. `parent` is -1 for a root span. */
final case class SpanRec(id: Int, parent: Int, layer: String, name: String,
                         startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
}

/** Spark counters attributed to one span. Written only by the listener
  * bus thread; read after the bus is drained. */
final class Counters {
  var jobs, stages, tasks, taskFailures = 0L
  var taskRunMs, taskCpuNs, gcMs, spillBytes, peakTaskMem = 0L
  var shuffleWrite, shuffleRead, fetchWaitMs = 0L
  var scanBytes, scanRows, writeBytes, writeRows = 0L
  var optimizeMs, planMs, executions = 0L
  val jobIntervals = mutable.ArrayBuffer[(Double, Double)]()

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskFailures += o.taskFailures; taskRunMs += o.taskRunMs
    taskCpuNs += o.taskCpuNs; gcMs += o.gcMs; spillBytes += o.spillBytes
    peakTaskMem = math.max(peakTaskMem, o.peakTaskMem)
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    fetchWaitMs += o.fetchWaitMs; scanBytes += o.scanBytes
    scanRows += o.scanRows; writeBytes += o.writeBytes
    writeRows += o.writeRows; optimizeMs += o.optimizeMs
    planMs += o.planMs; executions += o.executions
    jobIntervals ++= o.jobIntervals
  }
}

/** One streaming micro-batch progress report of a traced cascade hop. */
final case class BatchRec(hop: String, startMs: Double, inputRows: Long,
                          durations: Map[String, Long], stateRows: Long,
                          stateCommitMs: Long)

/** Spans and Spark counters for one run.
  *
  * Spans come from the benchmark's own calls into the program. Spark work
  * is attributed to the innermost open span through the job group, which
  * [[span]] sets on the driver thread. Streaming hops are described by
  * their micro-batch progress reports instead.
  * With `enabled = false` nothing is recorded and no job group is set;
  * [[active]] switches recording off for individual operations so that a
  * traced run can time the same operations with and without tracing. */
final class Tracer(val enabled: Boolean) {
  private val nano0 = System.nanoTime()
  private val wall0 = System.currentTimeMillis().toDouble
  def nowMs: Double = wall0 + (System.nanoTime() - nano0) / 1e6

  @volatile var active: Boolean = enabled
  def recording: Boolean = enabled && active

  val spans = mutable.ArrayBuffer[SpanRec]()
  private var stack = List.empty[Int]
  private var nextId = 0
  private var spark: SparkSession = null

  private val GroupPrefix = "perfbench-"
  private val counters = new ConcurrentHashMap[Int, Counters]()
  private val execSpan = new ConcurrentHashMap[Long, Int]()
  private val execPhases = new ConcurrentHashMap[Long, (Long, Long)]()
  val batches = new java.util.concurrent.ConcurrentLinkedQueue[BatchRec]()
  private val tableCreates = new ConcurrentHashMap[String, AtomicLong]()
  @volatile var phase: String = "setup"
  private val blockSizes = new ConcurrentHashMap[String, Long]()
  private val cachedNow = new AtomicLong(0)
  private val cachedPeakA = new AtomicLong(0)
  private val blocksPutA = new AtomicLong(0)

  def bind(s: SparkSession): Unit = { spark = s; stack = Nil }

  /** Times `body` as a span. Spans only nest on the driver thread. */
  def span[T](layer: String, name: String)(body: => T): T =
    if (!recording) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      val sc = spark.sparkContext
      val start = nowMs
      stack = id :: stack
      sc.setJobGroup(GroupPrefix + id, s"$layer/$name", interruptOnCancel = false)
      try body
      finally {
        val end = nowMs
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(GroupPrefix + p, "", interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
        spans.synchronized(spans += SpanRec(id, parent, layer, name, start, end))
      }
    }

  private def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith(GroupPrefix))
      .map(_.substring(GroupPrefix.length).toInt).getOrElse(-1)

  private def c(span: Int): Counters =
    counters.computeIfAbsent(span, _ => new Counters)

  /** Listener for jobs, stages, tasks, blocks, query executions and catalog
    * events. */
  val sparkListener: SparkListener = new SparkListener {
    private val stageSpan = new ConcurrentHashMap[Int, Int]()
    private val jobSpan = new ConcurrentHashMap[Int, (Int, Long)]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val s = spanOf(e.properties)
      if (s >= 0) {
        jobSpan.put(e.jobId, (s, e.time))
        e.stageIds.foreach(stageSpan.put(_, s))
        c(s).jobs += 1
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobSpan.remove(e.jobId)).foreach { case (s, t0) =>
        c(s).jobIntervals += ((t0.toDouble, e.time.toDouble))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageSpan.get(e.stageInfo.stageId)).foreach(s => c(s).stages += 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { s =>
        val k = c(s)
        k.tasks += 1
        if (e.reason != TaskSuccess) k.taskFailures += 1
        val m = e.taskMetrics
        if (m != null) {
          k.taskRunMs += m.executorRunTime
          k.taskCpuNs += m.executorCpuTime
          k.gcMs += m.jvmGCTime
          k.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          k.peakTaskMem = math.max(k.peakTaskMem, m.peakExecutionMemory)
          k.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          k.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          k.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          k.scanBytes += m.inputMetrics.bytesRead
          k.scanRows += m.inputMetrics.recordsRead
          k.writeBytes += m.outputMetrics.bytesWritten
          k.writeRows += m.outputMetrics.recordsWritten
        }
      }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val info = e.blockUpdatedInfo
      if (info.blockId.isRDD) {
        val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
        val old = Option(blockSizes.put(info.blockId.name, size)).getOrElse(0L)
        if (size > 0 && old == 0) blocksPutA.incrementAndGet()
        cachedPeakA.accumulateAndGet(cachedNow.addAndGet(size - old), math.max)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        s.jobGroupId.filter(_.startsWith(GroupPrefix)).foreach(g =>
          execSpan.put(s.executionId, g.substring(GroupPrefix.length).toInt))
      case e: SparkListenerSQLExecutionEnd =>
        org.apache.spark.sql.PerfbenchSql.queryExecution(e).foreach { qe =>
          val ph = qe.tracker.phases
          execPhases.put(e.executionId,
            (ph.get("optimization").map(_.durationMs).getOrElse(0L),
              ph.get("planning").map(_.durationMs).getOrElse(0L)))
        }
      case _: CreateTableEvent =>
        tableCreates.computeIfAbsent(phase, _ => new AtomicLong).incrementAndGet()
      case _ => ()
    }
  }

  /** Micro-batch progress of the cascade hops, keyed by query id. */
  private val hopOfQuery = new ConcurrentHashMap[String, String]()
  def nameStream(queryId: String, hop: String): Unit = hopOfQuery.put(queryId, hop)

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      Option(hopOfQuery.get(p.id.toString)).foreach { hop =>
        val st = p.stateOperators.headOption
        batches.add(BatchRec(hop,
          java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
          p.numInputRows,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          st.map(_.numRowsTotal).getOrElse(0L),
          st.map(_.commitTimeMs).getOrElse(0L)))
      }
    }
  }

  def register(s: SparkSession): Unit = if (enabled) {
    s.sparkContext.addSparkListener(sparkListener)
    s.streams.addListener(streamListener)
  }

  /** Waits until every event posted so far has reached the listeners. */
  def drain(s: SparkSession): Unit =
    if (enabled) org.apache.spark.PerfbenchBus.drain(s.sparkContext)

  /** Moves Catalyst phase times onto the spans whose executions they are
    * (the two events that carry them may arrive in either order). */
  def settle(): Unit = {
    execPhases.asScala.foreach { case (exec, (opt, plan)) =>
      Option(execSpan.get(exec)).foreach { s =>
        val k = c(s)
        k.optimizeMs += opt; k.planMs += plan; k.executions += 1
      }
    }
    execPhases.clear()
  }

  def creates(ph: String): Long =
    Option(tableCreates.get(ph)).map(_.get).getOrElse(0L)
  /** Starts the storage peak over from what is cached now. */
  def resetStorage(): Unit = { cachedPeakA.set(cachedNow.get); blocksPutA.set(0) }
  def cachedPeakBytes: Long = cachedPeakA.get
  def blocksPut: Long = blocksPutA.get

  /** Counters of `root` and every span below it. */
  def rollup(root: Int): Counters = {
    val kids = spans.groupBy(_.parent)
    val out = new Counters
    def walk(id: Int): Unit = {
      Option(counters.get(id)).foreach(out.add)
      kids.getOrElse(id, Nil).foreach(k => walk(k.id))
    }
    walk(root)
    out
  }

  /** Every span with its self time, for the run record. */
  def spanRecords: Seq[Map[String, Any]] = {
    val kids = spans.groupBy(_.parent)
    spans.sortBy(_.startMs).map { s =>
      Map("id" -> s.id, "parent" -> s.parent, "layer" -> s.layer,
        "name" -> s.name, "start_ms" -> s.startMs, "dur_ms" -> s.durMs,
        "self_ms" -> Stats.selfTime(s.startMs, s.endMs,
          kids.get(s.id).map(_.map(k => (k.startMs, k.endMs)).toSeq).getOrElse(Nil)))
    }.toSeq
  }
}

/** Highest per-task peak execution memory since the last reset. Always on:
  * it feeds an end-to-end metric. */
final class PeakMemListener extends SparkListener {
  private val peak = new AtomicLong(0L)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(e.taskMetrics).foreach(m => peak.accumulateAndGet(m.peakExecutionMemory, math.max))
  def reset(): Unit = peak.set(0L)
  def peakBytes: Long = peak.get
}

/** Peak heap occupancy measured right after each garbage collection. */
object HeapAfterGc {
  private val peak = new AtomicLong(0L)
  @volatile private var installed = false

  def install(): Unit = synchronized {
    if (!installed) {
      installed = true
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
        case em: javax.management.NotificationEmitter =>
          em.addNotificationListener((n: javax.management.Notification, _: Any) => {
            if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
              val info = com.sun.management.GarbageCollectionNotificationInfo.from(
                n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
              val used = info.getGcInfo.getMemoryUsageAfterGc.values.asScala.map(_.getUsed).sum
              peak.accumulateAndGet(used, math.max)
            }
          }, null, null)
        case _ => ()
      }
    }
  }
  def peakBytes: Long = peak.get
}
