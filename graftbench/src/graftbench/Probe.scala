package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Engine counters for one span (or one whole pass): what a group of
  * Spark jobs cost. Times are seconds, sizes bytes.
  */
final class Counters {
  var jobs, stages, tasks, taskFailures = 0L
  var taskCpuNs, schedDelayMs = 0L
  var shuffleWrite, shuffleRead, spill = 0L
  var inputBytes, inputRecords = 0L
  /** (start, end) of every job, epoch ms, for the driver gap. */
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]

  /** Wall time not covered by any job: the driver's own work and waits. */
  def driverGapS(startMs: Long, endMs: Long): Double = {
    var covered = 0L
    var reach = startMs
    for ((s, e) <- jobSpans.sortBy(_._1)) {
      val from = math.max(s, reach)
      val to = math.min(e, endMs)
      if (to > from) covered += to - from
      reach = math.max(reach, e)
    }
    math.max(0L, endMs - startMs - covered) / 1e3
  }
}

/** Counts jobs, stages and task metrics, attributed to the span that was
  * current (the `graftbench.span` local property) when each job started.
  * Every event also counts toward the open pass.
  */
final class EngineListener extends SparkListener {
  private val spanOfJob = mutable.Map.empty[Int, String]
  private val spanOfStage = mutable.Map.empty[Int, String]
  private val jobStart = mutable.Map.empty[Int, Long]
  private var bySpan = mutable.Map.empty[String, Counters]
  private var pass = new Counters

  /** Start counting a new pass; returns the previous pass's counters. */
  def reset(): (Counters, Map[String, Counters]) = synchronized {
    val out = (pass, bySpan.toMap)
    pass = new Counters
    bySpan = mutable.Map.empty
    out
  }

  private def targets(span: Option[String]): Seq[Counters] =
    pass +: span.toSeq.map(s => bySpan.getOrElseUpdate(s, new Counters))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Key)))
    span.foreach { s =>
      spanOfJob(e.jobId) = s
      e.stageIds.foreach(spanOfStage(_) = s)
    }
    jobStart(e.jobId) = e.time
    targets(span).foreach(_.jobs += 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val s = jobStart.remove(e.jobId).getOrElse(e.time)
    targets(spanOfJob.remove(e.jobId)).foreach(_.jobSpans += ((s, e.time)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    targets(spanOfStage.remove(e.stageInfo.stageId)).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val cs = targets(spanOfStage.get(e.stageId))
    val m = e.taskMetrics
    val info = e.taskInfo
    cs.foreach { c =>
      c.tasks += 1
      if (!info.successful) c.taskFailures += 1
      if (m != null) {
        c.taskCpuNs += m.executorCpuTime
        c.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          info.gettingResultTime)
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.inputBytes += m.inputMetrics.bytesRead
        c.inputRecords += m.inputMetrics.recordsRead
      }
    }
  }
}

/** One traced interval. `parent` is empty for a pass and names the pass
  * for a top-level call.
  */
final case class Span(id: String, name: String, parent: String, runId: String,
                      startMs: Long, endMs: Long)

/** Wraps each public call a workload makes: counts it and, while
  * `enabled`, records it as a span and tags the Spark jobs it starts.
  */
final class Tracer(sc: SparkContext, runId: String) {
  private val seq = new AtomicLong
  private var current: Option[String] = None
  var enabled = false
  var calls = 0L
  val spans = mutable.ArrayBuffer.empty[Span]

  /** One public call of the workload. */
  def apply[A](name: String)(body: => A): A = {
    calls += 1
    span(name)(body)
  }

  /** A span that is not a call: the pass around the calls. */
  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = s"${seq.incrementAndGet()}"
      val parent = current
      current = Some(id)
      sc.setLocalProperty(Tracer.Key, id)
      val t0 = System.currentTimeMillis()
      try body
      finally {
        spans += Span(id, name, parent.getOrElse(""), runId, t0, System.currentTimeMillis())
        current = parent
        sc.setLocalProperty(Tracer.Key, parent.orNull)
      }
    }
}

object Tracer {
  val Key = "graftbench.span"
}

/** JVM-wide counters read from the platform MXBeans. */
object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def processCpuNs: Long = os.getProcessCpuTime

  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def uptimeMs: Long = ManagementFactory.getRuntimeMXBean.getUptime

  /** (start as JVM uptime in ms, heap in use after it in MB) of every
    * collection since `watchGcs`, from the collectors' notifications.
    */
  private val afterGc = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Double)]

  def watchGcs(): Unit = {
    import javax.management.{Notification, NotificationEmitter, NotificationListener}
    import javax.management.openmbean.CompositeData
    import com.sun.management.GarbageCollectionNotificationInfo
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
    val listener = new NotificationListener {
      override def handleNotification(n: Notification, handback: AnyRef): Unit =
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val gc = GarbageCollectionNotificationInfo
            .from(n.getUserData.asInstanceOf[CompositeData]).getGcInfo
          val used = gc.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          afterGc.add((gc.getStartTime, used / 1048576.0))
        }
    }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ =>
    }
  }

  /** Largest heap in use right after a collection that started at or
    * after `fromUptimeMs`; 0 when none has been reported.
    */
  def peakAfterGcMb(fromUptimeMs: Long): Double =
    afterGc.asScala.collect { case (t, mb) if t >= fromUptimeMs => mb }.maxOption.getOrElse(0.0)

  /** Heap in use right after a full collection: the retained set. A
    * collection queues Spark's ContextCleaner, which then drops the blocks
    * of unreachable RDDs, shuffles and broadcasts on its own thread, so
    * this collects again until the reading stops falling.
    */
  def heapAfterGcMb: Double = {
    def collect(): Double = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var prev = collect()
    var next = prev
    var rounds = 0
    do {
      prev = next
      Thread.sleep(100)
      next = collect()
      rounds += 1
    } while (next < prev * 0.99 && rounds < 5)
    next
  }

  def heapMaxMb: Double =
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getMax / 1048576.0

  /** Whole-stage-codegen classes compiled so far in this JVM. */
  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}

/** Counts `graft.pipeline` task attempts from the Flow layer's
  * structured log lines (`task=<name> attempt=<n> starting`).
  */
object FlowAttempts {
  import org.apache.logging.log4j.Level
  import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
  import org.apache.logging.log4j.core.appender.AbstractAppender
  import org.apache.logging.log4j.core.config.{LoggerConfig, Property}

  private val Attempt = """task=(\S+) attempt=(\d+) starting""".r
  private val counts = mutable.Map.empty[String, (Long, Long)]

  def install(): Unit = {
    val ctx = org.apache.logging.log4j.LogManager.getContext(false).asInstanceOf[LoggerContext]
    val config = ctx.getConfiguration
    val appender = new AbstractAppender("graftbench-flow", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(event: LogEvent): Unit =
        event.getMessage.getFormattedMessage match {
          case Attempt(task, n) => FlowAttempts.synchronized {
            val (calls, attempts) = counts.getOrElse(task, (0L, 0L))
            counts(task) = (calls + (if (n == "1") 1 else 0), attempts + 1)
          }
          case _ =>
        }
    }
    appender.start()
    config.addAppender(appender)
    val logger = new LoggerConfig("graft.pipeline", Level.INFO, false)
    logger.addAppender(appender, Level.INFO, null)
    config.addLogger("graft.pipeline", logger)
    ctx.updateLoggers()
  }

  /** (calls, attempts) per task name since the last drain. */
  def drain(): Map[String, (Long, Long)] = synchronized {
    val out = counts.toMap
    counts.clear()
    out
  }
}

/** What else ran on the box: read from /proc, -1 where it is absent. */
object Box {
  private def read(path: String): Option[String] =
    try {
      val src = scala.io.Source.fromFile(path)
      try Some(src.mkString) finally src.close()
    } catch { case _: Exception => None }

  /** (total, busy, steal) jiffies over all CPUs. */
  def cpuJiffies: (Long, Long, Long) =
    read("/proc/stat").map { s =>
      val f = s.linesIterator.next().trim.split("\\s+").drop(1).map(_.toLong)
      // user nice system idle iowait irq softirq steal
      val total = f.take(8).sum
      (total, total - f(3) - f(4), if (f.length > 7) f(7) else 0L)
    }.getOrElse((-1L, -1L, -1L))

  /** This process's user + system jiffies. */
  def selfJiffies: Long =
    read("/proc/self/stat").map { s =>
      val f = s.substring(s.lastIndexOf(')') + 2).split(" ")
      f(11).toLong + f(12).toLong
    }.getOrElse(-1L)

  def loadavg1: Double =
    read("/proc/loadavg").map(_.trim.split("\\s+")(0).toDouble).getOrElse(-1.0)
}
