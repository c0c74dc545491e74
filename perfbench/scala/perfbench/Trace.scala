package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters of the `spark` layer, summed over every job the traced run sees.
  * A [[Snapshot]] taken before and after an interval gives that interval's
  * share; job spans are kept with their wall times so the time with no job
  * running can be cut out of a pass.
  */
final class Trace(spark: SparkSession) {
  private val jobs = new AtomicLong
  private val stages = new AtomicLong
  private val tasks = new AtomicLong
  private val runMs = new LongAdder
  private val cpuNs = new LongAdder
  private val shuffleWrite = new LongAdder
  private val shuffleRead = new LongAdder
  private val spill = new LongAdder
  private val executions = new AtomicLong
  private val planningMs = new LongAdder
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  private val spans = ArrayBuffer.empty[(Long, Long)]
  private val jobsByPhase = new ConcurrentHashMap[String, LongAdder]()
  val progress = ArrayBuffer.empty[StreamingQueryProgress]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet()
      jobStart.put(e.jobId, e.time)
      val phase = Option(e.properties)
        .flatMap(p => Option(p.getProperty(Trace.PhaseKey))).getOrElse("other")
      jobsByPhase.computeIfAbsent(phase, _ => new LongAdder).increment()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val t0 = jobStart.remove(e.jobId)
      if (t0 != null) spans.synchronized { spans += ((t0.longValue, e.time)) }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        runMs.add(m.executorRunTime)
        cpuNs.add(m.executorCpuTime)
        shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
        shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
        spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      executions.incrementAndGet()
      planningMs.add(qe.tracker.phases.values.map(_.durationMs).sum)
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      progress.synchronized { progress += e.progress }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  /** Waits until every event posted so far has reached the listeners. */
  def drain(): Unit = PerfbenchBridge.drainListeners(spark.sparkContext)

  def snapshot(): Trace.Snapshot = {
    drain()
    Trace.Snapshot(jobs.get, stages.get, tasks.get, runMs.sum, cpuNs.sum,
      shuffleWrite.sum, shuffleRead.sum, spill.sum, executions.get,
      planningMs.sum, Trace.gcMs(),
      jobsByPhase.asScala.map { case (k, v) => k -> v.sum }.toMap)
  }

  /** Milliseconds of [t0, t1] during which at least one job was running. */
  def jobSpanMs(t0: Long, t1: Long): Long = {
    val clipped = spans.synchronized(spans.toList)
      .map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a >= end) { covered += b - a; end = b }
      else if (b > end) { covered += b - end; end = b }
    }
    covered
  }

  def stop(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }
}

object Trace {
  /** Local property that tags every job with the phase of the call that
    * caused it (`build` = query construction, `action` = result fold).
    */
  val PhaseKey = "perfbench.phase"

  final case class Snapshot(jobs: Long, stages: Long, tasks: Long,
      runMs: Long, cpuNs: Long, shuffleWrite: Long, shuffleRead: Long,
      spill: Long, executions: Long, planningMs: Long, gcMs: Long,
      jobsByPhase: Map[String, Long]) {
    def -(o: Snapshot): Snapshot = Snapshot(jobs - o.jobs, stages - o.stages,
      tasks - o.tasks, runMs - o.runMs, cpuNs - o.cpuNs,
      shuffleWrite - o.shuffleWrite, shuffleRead - o.shuffleRead,
      spill - o.spill, executions - o.executions, planningMs - o.planningMs,
      gcMs - o.gcMs,
      (jobsByPhase.keySet ++ o.jobsByPhase.keySet).map(k =>
        k -> (jobsByPhase.getOrElse(k, 0L) - o.jobsByPhase.getOrElse(k, 0L))).toMap)
    def phaseJobs(p: String): Long = jobsByPhase.getOrElse(p, 0L)
  }

  /** Collection time of every collector of this JVM (driver and local
    * executors share it).
    */
  def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

  def withPhase[A](spark: SparkSession, phase: String)(body: => A): A = {
    val sc = spark.sparkContext
    sc.setLocalProperty(PhaseKey, phase)
    try body finally sc.setLocalProperty(PhaseKey, null)
  }
}
