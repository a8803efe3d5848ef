package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import com.sun.management.GarbageCollectionNotificationInfo
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer counters of the Spark runtime below the library, fed by
  * listeners installed for a traced run:
  *  - Catalyst phase times from each action's `QueryExecution.tracker`;
  *  - jobs, stages, tasks and task metrics from the scheduler;
  *  - trigger / addBatch / walCommit durations from streaming progress;
  *  - codegen fallbacks from the log.
  * Jobs are attributed to the operation named by their job group. */
final class Probe(spark: SparkSession) {
  private final case class Job(id: Int, group: String, start: Long, var end: Long)

  private val jobs = ArrayBuffer.empty[Job]
  private var c = Map.empty[String, Double].withDefaultValue(0.0)
  private def add(k: String, v: Double): Unit = synchronized { c = c.updated(k, c(k) + v) }

  private val scheduler = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Probe.this.synchronized {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty(Probe.JobGroup)))
      jobs += Job(e.jobId, group.getOrElse(""), e.time, -1L)
      add("spark.jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Probe.this.synchronized {
      jobs.find(_.id == e.jobId).foreach(_.end = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("spark.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      add("spark.tasks", 1)
      if (m != null) {
        add("spark.executor_run_s", m.executorRunTime / 1e3)
        add("spark.executor_cpu_s", m.executorCpuTime / 1e9)
        add("spark.shuffle_read_bytes",
          m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead)
        add("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add("spark.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
        add("spark.output_bytes", m.outputMetrics.bytesWritten)
      }
    }
  }

  private val planning = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit =
      qe.tracker.phases.foreach { case (phase, s) =>
        if (Set("analysis", "optimization", "planning")(phase))
          add(s"catalyst.${phase}_s", s.durationMs / 1e3)
      }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = phases(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = phases(qe)
  }

  private val streaming = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val d = e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue / 1e3 }
      if (e.progress.numInputRows > 0) {
        add("streaming.triggers", 1)
        add("streaming.trigger_s", d.getOrElse("triggerExecution", 0.0))
        add("streaming.add_batch_s", d.getOrElse("addBatch", 0.0))
        add("streaming.wal_commit_s", d.getOrElse("walCommit", 0.0) + d.getOrElse("commitOffsets", 0.0))
      }
    }
  }

  private val codegen = new AbstractAppender("perfbench-codegen", null, null, true,
      org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
    override def append(e: LogEvent): Unit = {
      val m = String.valueOf(e.getMessage.getFormattedMessage)
      if (Probe.CodegenFallback.exists(m.contains)) add("catalyst.codegen_fallbacks", 1)
    }
  }

  def install(): this.type = {
    spark.sparkContext.addSparkListener(scheduler)
    spark.listenerManager.register(planning)
    spark.streams.addListener(streaming)
    codegen.start()
    val ctx = LoggerContext.getContext(false)
    ctx.getConfiguration.getRootLogger.addAppender(codegen, null, null)
    ctx.updateLoggers()
    this
  }

  def uninstall(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(scheduler)
    spark.listenerManager.unregister(planning)
    spark.streams.removeListener(streaming)
    val ctx = LoggerContext.getContext(false)
    ctx.getConfiguration.getRootLogger.removeAppender(codegen.getName)
    ctx.updateLoggers()
    codegen.stop()
  }

  def drain(): Unit = org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

  /** Counter totals since `install`, plus the driver gap: wall time of
    * the window [fromMs, toMs] during which no job was running. */
  def snapshot(fromMs: Long, toMs: Long): Map[String, Double] = {
    drain()
    synchronized {
      val intervals = jobs.toList.map(j => (math.max(j.start, fromMs),
        math.min(if (j.end < 0) toMs else j.end, toMs))).filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var reach = fromMs
      intervals.foreach { case (a, b) =>
        val s = math.max(a, reach)
        if (b > s) { covered += b - s; reach = b }
      }
      val trig = c("streaming.trigger_s")
      c ++ Map(
        "spark.driver_gap_s" -> math.max(0L, toMs - fromMs - covered) / 1e3,
        "streaming.scaffold_s" -> (trig - c("streaming.add_batch_s")))
    }
  }

  /** Jobs with their operation group, for the trace file. */
  def jobRecords(t0Ms: Long): Seq[Map[String, Any]] = synchronized {
    jobs.toList.map(j => Map("job" -> j.id, "group" -> j.group,
      "start_s" -> (j.start - t0Ms) / 1e3, "end_s" -> (j.end - t0Ms) / 1e3))
  }
}

object Probe {
  /** The local property `SparkContext.setJobGroup` sets. */
  val JobGroup = "spark.jobGroup.id"

  /** Log lines Spark emits when generated code fails to compile and an
    * operator falls back to interpreted evaluation. */
  val CodegenFallback = Seq("Whole-stage codegen disabled", "failed to compile",
    "Failed to compile", "grows beyond 64 KB")
}

/** JVM-level figures: collector time and heap peak since the last reset,
  * and the heap the program keeps live after collections. */
object Jvm {
  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
  private lazy val heapPoolNames = heapPools.map(_.getName).toSet

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Heap in use right after a collection, summed over the heap pools,
    * maximised over the collections that end while `armed` is set. Unlike
    * the process's resident set, which the fixed-size heap pins near
    * `-Xmx`, this follows what the program keeps reachable. */
  object AfterGc {
    @volatile var armed = false
    private val peak = new AtomicLong(0L)
    private val seen = new AtomicLong(0L)
    private val listener: NotificationListener = (n: Notification, _: AnyRef) =>
      if (armed && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPoolNames(pool) => u.getUsed }.sum
        peak.accumulateAndGet(used, (a, b) => math.max(a, b))
        seen.incrementAndGet()
      }

    lazy val install: Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ =>
    }

    /** Forces a full collection, counts it, and returns the peak so far. */
    def finish(): Double = {
      val before = seen.get
      armed = true
      System.gc()
      val deadline = System.nanoTime() + 2000000000L
      // notifications arrive on a service thread after the collection
      while (seen.get == before && System.nanoTime() < deadline) Thread.sleep(10)
      armed = false
      peak.get / 1048576.0
    }
  }

  /** Seconds from JVM start to now. */
  def uptimeSeconds: Double = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
}
