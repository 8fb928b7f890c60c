package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. Times are nanoseconds on the
  * driver's `System.nanoTime` axis; listener events (which carry wall-clock
  * milliseconds) are mapped onto it through [[Tracer.wallToNano]].
  */
final case class Span(name: String, op: Int, label: String, start: Long, end: Long)

/** Per-operation Spark counters, summed from task, stage and job events. */
final class OpCounters {
  var jobs, stages, tasks, tasksFailed, stagesRetried = 0L
  var runMs, cpuNs, gcMs, fetchWaitMs, schedWaitMs = 0L
  var shuffleWrite, shuffleRead, spill, input, output, outputRows = 0L
}

/** The traced run's recorder: spans in memory (written out when the run
  * ends), a SparkListener that maps every stage to its job through
  * `SparkListenerJobStart.stageIds` and every job to its operation through
  * the job group, and a QueryExecutionListener for the planning phases.
  * Nothing here is installed on an untraced run.
  */
final class Tracer(spark: SparkSession) {
  private val nano0 = System.nanoTime()
  private val wall0 = System.currentTimeMillis()
  def wallToNano(ms: Long): Long = nano0 + (ms - wall0) * 1000000L

  val spans = new ConcurrentLinkedQueue[Span]()
  def record(name: String, op: Int, label: String, start: Long, end: Long): Unit =
    spans.add(Span(name, op, label, start, end)): Unit

  def span[T](name: String, op: Int, label: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally record(name, op, label, t0, System.nanoTime())
  }

  private final case class JobRec(op: Int, label: String, start: Long)
  private val jobOf = new ConcurrentHashMap[Int, JobRec]()      // jobId
  private val stageJob = new ConcurrentHashMap[Int, Int]()      // stageId -> jobId
  private val firstLaunch = new ConcurrentHashMap[Int, java.lang.Long]()
  private val ended = ConcurrentHashMap.newKeySet[Int]()
  val counters = new ConcurrentHashMap[Int, OpCounters]()
  private def ctr(op: Int) = counters.computeIfAbsent(op, _ => new OpCounters)

  /** (start, end, phase → ms) of each finished QueryExecution. */
  val planning = new ConcurrentLinkedQueue[(Long, Long, Map[String, Long])]()

  private def opOfGroup(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .collect { case g if g.startsWith("op-") => g.drop(3).toInt }
      .getOrElse(-1)

  private val listener = new SparkListener {
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      val op = opOfGroup(j.properties)
      val label = Option(j.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
      jobOf.put(j.jobId, JobRec(op, label, wallToNano(j.time)))
      j.stageIds.foreach(s => stageJob.put(s, j.jobId))
      ctr(op).synchronized { ctr(op).jobs += 1 }
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit = {
      val r = jobOf.get(j.jobId)
      if (r != null) record("spark.job", r.op, r.label, r.start, wallToNano(j.time))
      ended.add(j.jobId): Unit
    }
    override def onTaskStart(t: SparkListenerTaskStart): Unit =
      firstLaunch.putIfAbsent(t.stageId, t.taskInfo.launchTime): Unit
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      val info = s.stageInfo
      val jobId = stageJob.getOrDefault(info.stageId, -1)
      val r = jobOf.get(jobId)
      val op = if (r == null) -1 else r.op
      val c = ctr(op)
      c.synchronized {
        c.stages += 1
        if (info.attemptNumber() > 0) c.stagesRetried += 1
        for (sub <- info.submissionTime; fl <- Option(firstLaunch.get(info.stageId)))
          c.schedWaitMs += math.max(0L, fl.longValue - sub)
      }
      for (sub <- info.submissionTime; done <- info.completionTime)
        record("spark.stage", op, if (r == null) "" else r.label,
          wallToNano(sub), wallToNano(done))
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val jobId = stageJob.getOrDefault(t.stageId, -1)
      val r = jobOf.get(jobId)
      val c = ctr(if (r == null) -1 else r.op)
      val m = t.taskMetrics
      c.synchronized {
        c.tasks += 1
        if (t.reason != org.apache.spark.Success) c.tasksFailed += 1
        if (m != null) {
          c.runMs += m.executorRunTime
          c.cpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          c.input += m.inputMetrics.bytesRead
          c.output += m.outputMetrics.bytesWritten
          c.outputRows += m.outputMetrics.recordsWritten
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      if (phases.nonEmpty) {
        val lo = phases.values.map(_.startTimeMs).min
        val hi = phases.values.map(_.endTimeMs).max
        planning.add((wallToNano(lo), wallToNano(hi),
          phases.map { case (k, v) => k -> v.durationMs })): Unit
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def uninstall(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Blocks until this listener has seen `onJobEnd` for every job the
    * driver ran under the operation's group, so the operation's counters
    * are complete before anyone reads them.
    */
  def awaitOp(op: Int, timeoutMs: Long = 30000L): Unit = {
    val ids = spark.sparkContext.statusTracker.getJobIdsForGroup(s"op-$op")
    val deadline = System.currentTimeMillis() + timeoutMs
    def done = ids.forall(id => ended.contains(id)) &&
      jobOf.asScala.forall { case (id, r) => r.op != op || ended.contains(id) }
    while (!done && System.currentTimeMillis() < deadline) Thread.sleep(2)
  }
}

object Tracer {
  /** Length of the union of `[s, e)` intervals, clipped to `[lo, hi)`. */
  def covered(intervals: Iterable[(Long, Long)], lo: Long, hi: Long): Long = {
    val xs = intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.toSeq.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    xs.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Span nesting order: a span's children are the spans of the next
    * deeper levels that start inside it. Self time = own duration minus
    * the part its children cover.
    */
  val Levels: Seq[String] = Seq("op", "weather.build", "spark.action",
    "spark.job", "spark.stage", "standin.request")

  /** Total self time (ns) per span name, over all operations. */
  def selfTimes(spans: Iterable[Span]): Map[String, Long] = {
    val out = mutable.Map[String, Long]().withDefaultValue(0L)
    spans.groupBy(_.op).foreach { case (_, ss) =>
      ss.foreach { s =>
        val lvl = Levels.indexOf(s.name)
        val kids = ss.filter { k =>
          Levels.indexOf(k.name) > lvl && k.start >= s.start && k.start < s.end
        }.map(k => (k.start, k.end))
        out(s.name) += (s.end - s.start) - covered(kids, s.start, s.end)
      }
    }
    out.toMap
  }
}
