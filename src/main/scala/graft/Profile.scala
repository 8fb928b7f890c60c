package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Optimization-round measurement harness (guide §1): runs ONE query with
  * the exact Bench session config and prints a per-Spark-job breakdown
  * (duration, stage/task counts, the graft call site of the job's SQL
  * execution, job description) plus the wall-clock gap not covered by any
  * job (driver-side planning / collect / checkpoint admin). Stages are
  * charged to the job that listed them first. Diagnostic only, not part
  * of the Verify/Bench contract. Cores default to the machine's processors.
  *
  * Usage: sbt "runMain graft.Profile <queryName> [sfDir] [timedRuns]"
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val runs = if (args.length > 2) args(2).toInt else 1
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    final case class JobRec(id: Int, start: Long, var end: Long = -1L,
        var stages: Int = 0, var tasks: Int = 0, site: String, desc: String)
    val jobs = new ConcurrentLinkedQueue[JobRec]()
    val byId = new ConcurrentHashMap[Int, JobRec]()
    val stageOwner = new ConcurrentHashMap[Int, JobRec]()
    // SQL execution id → its first two graft frames ("helper < caller");
    // AQE's stage jobs carry only a CompletableFuture call site of their own
    val sites = new ConcurrentHashMap[Long, String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart =>
          sites.put(x.executionId, x.details.linesIterator
            .filter(_.startsWith("graft.")).take(2)
            .map(_.stripPrefix("graft.")).mkString(" < ")): Unit
        case _ =>
      }
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        def prop(k: String) =
          Option(j.properties).flatMap(p => Option(p.getProperty(k)))
        val site = prop("spark.sql.execution.id")
          .flatMap(id => Option(sites.get(id.toLong))).getOrElse("")
        val r = JobRec(j.jobId, j.time, site = site,
          desc = prop("spark.job.description").getOrElse(""))
        jobs.add(r); byId.put(j.jobId, r)
        j.stageIds.foreach(stageOwner.putIfAbsent(_, r))
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        val r = byId.get(j.jobId)
        if (r != null) r.end = j.time
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val owner = stageOwner.get(s.stageInfo.stageId)
        if (owner != null) { owner.stages += 1; owner.tasks += s.stageInfo.numTasks }
      }
    })

    val fn = SparkEntry.queries(name)
    def once(label: String): Double = {
      jobs.clear(); byId.clear(); stageOwner.clear(); sites.clear()
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.mode("overwrite").format("noop").save()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(200) // let listener drain
      val recs = jobs.toArray(Array.empty[JobRec]).sortBy(_.start)
      val jobSum = recs.map(r => math.max(0L, r.end - r.start)).sum / 1e3
      println(f"== $label: wall=$wall%.3f s, jobs=${recs.length}, jobTime=$jobSum%.3f s, gap=${wall - jobSum}%.3f s")
      recs.foreach { r =>
        val dur = if (r.end >= 0) (r.end - r.start) / 1e3 else -1.0
        println(f"  job ${r.id}%4d ${dur}%8.3f s  stages=${r.stages}%3d tasks=${r.tasks}%5d  ${r.site.take(100)}  ${r.desc.take(40)}")
      }
      wall
    }
    once(s"$name COLD")
    (1 to runs).foreach(i => once(s"$name RUN$i"))
    try spark.stop() catch { case scala.util.control.NonFatal(_) => }
  }
}
