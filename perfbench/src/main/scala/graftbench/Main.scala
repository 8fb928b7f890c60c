package graftbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType, MemoryUsage}
import java.util.concurrent.ConcurrentHashMap
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.SparkSession

/** What the timed loop hands to a workload for one operation. */
final class OpCtx(val op: Int, tracer: Option[Tracer]) {
  def span[T](name: String, label: String)(f: => T): T = tracer match {
    case Some(t) => t.span(name, op, label)(f)
    case None    => f
  }
}

/** The outcome check of one operation: `None` when the output matched
  * the expectation, else what was wrong. Runs after the operation's
  * timer stopped. `corrupt` asks the check to compare against a
  * deliberately wrong expectation (the harness's own self-test).
  */
trait Check { def apply(corrupt: Boolean): Option[String] }

trait Workload {
  /** Generate or load inputs and warm up; everything before the first
    * timed operation.
    */
  def setup(): Unit
  /** The timed phase runs at least this many operations, then stops at
    * the first boundary of a `cycle`-operation group after the time budget.
    */
  def minOps: Int = 1
  def cycle: Int = 1
  /** Label of operation `i` (request type, or "pass"). */
  def label(i: Int): String
  /** Run operation `i`; returns the check of its output. */
  def run(i: Int, ctx: OpCtx): Check
  /** Input sizes, for the environment stamp. */
  def inputs: Map[String, Double]
  /** Workload-specific per-layer metrics of the traced run. */
  def layerMetrics(tracer: Tracer, ops: Int): Map[String, Double] = Map.empty
  /** Called before the timed phase of a traced run. */
  def startTrace(t: Tracer): Unit = ()
  /** Post-run work outside the timed phase (oracle dumps). */
  def finish(): Unit = ()
  def close(): Unit = ()
}

/** One benchmark run: one workload, one JVM.
  *
  * {{{
  *   graftbench.Main --workload <wx_serve|wx_ingest|fixpoint> --seed <n>
  *     --seconds <s> --trace <0|1> --work <dir> --out <result.json>
  *     --tables <dir of the fixpoint input tables> [--corrupt-every <k>]
  * }}}
  *
  * Writes one JSON result file; `perfbench/run.py` turns it into the
  * benchmark's result line.
  */
object Main {
  def main(args: Array[String]): Unit = {
    Memory.install()
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = new File(opts("work")).getAbsoluteFile
    val corruptEvery = opts.getOrElse("corrupt-every", "0").toInt
    work.mkdirs()

    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val w: Workload = workload match {
      case "wx_serve"  => new WxServe(spark, seed, work)
      case "wx_ingest" => new WxIngest(spark, seed, work)
      case "fixpoint"  => new Fixpoint(spark, new File(opts("tables")).getAbsoluteFile, work)
      case other       => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val result = try {
      w.setup()
      val setupS = (System.currentTimeMillis() -
        ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
      val tracer = if (trace) Some(new Tracer(spark)) else None
      tracer.foreach { t => t.install(); w.startTrace(t) }
      val os = ManagementFactory.getOperatingSystemMXBean
        .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      val sc = spark.sparkContext

      // Wall, CPU and allocation are read around each operation alone; the
      // output check after it is outside every reading.
      val lat = mutable.ArrayBuffer[Long]()
      val failures = mutable.ArrayBuffer[String]()
      // (cpu ns, allocated bytes, JIT ms) of each operation
      val use = mutable.ArrayBuffer[(Long, Long, Long)]()
      val gc0 = Memory.gcMillis()
      val jit0 = Memory.jitMillis()
      val t0 = System.nanoTime()
      val budget = (seconds * 1e9).toLong
      var i = 0
      while (i < w.minOps || i % w.cycle != 0 || System.nanoTime() - t0 < budget) {
        val label = w.label(i)
        sc.setJobGroup(s"op-$i", label, interruptOnCancel = false)
        val a = Memory.allocatedBytes()
        val j = Memory.jitMillis()
        val c = os.getProcessCpuTime
        val s = System.nanoTime()
        val check: Check = try w.run(i, new OpCtx(i, tracer)) catch {
          case e: Exception => (_: Boolean) => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")
        }
        val e = System.nanoTime()
        use += ((os.getProcessCpuTime - c, Memory.allocatedBytes() - a, Memory.jitMillis() - j))
        sc.clearJobGroup()
        tracer.foreach { t => t.record("op", i, label, s, e); t.awaitOp(i); Thread.sleep(3) }
        lat += e - s
        val corrupt = corruptEvery > 0 && i % corruptEvery == 0
        (try check(corrupt) catch { case x: Exception => Some(x.toString) })
          .foreach(msg => failures += s"op $i ($label): $msg")
        i += 1
      }
      val wallNs = lat.sum
      val gcS = (Memory.gcMillis() - gc0) / 1e3
      val jitS = (Memory.jitMillis() - jit0) / 1e3
      val heapLive = Memory.liveMb()
      tracer.foreach(_.uninstall())
      w.finish()

      val ops = lat.size
      val sorted = lat.sorted.map(_ / 1e6)
      def pct(p: Double) = sorted(math.min(ops - 1, math.ceil(p * ops).toInt - 1 max 0))
      // Each operation type's median, averaged over the types: every request
      // type of the wx_serve mix weighs the same, and a JIT or CPU-steal
      // spike on a few operations moves no median.
      val byType = lat.indices.groupBy(w.label).values.toSeq
      def perType(x: Int => Double): Double =
        byType.map(ix => Stats.median(ix.map(x))).sum / byType.size
      val e2e = Map(
        "setup_s" -> setupS,
        "op_ms" -> perType(k => lat(k) / 1e6),
        "cpu_s_per_op" -> perType(k => use(k)._1 / 1e9),
        "alloc_mb_per_op" -> perType(k => use(k)._2 / 1048576.0))
      // Plain figures over all operations, for standard error.
      val plain = Map("op_p50_ms" -> Stats.median(sorted.toSeq), "op_p95_ms" -> pct(0.95),
        "ops_per_s" -> ops / (wallNs / 1e9))
      val layer = tracer.map(t => Layers.common(t, ops, failures.size) ++
        Map("jvm.heap_live_mb" -> heapLive, "jvm.gc_pause_s" -> gcS / ops,
          "jvm.jit_s" -> jitS / ops) ++ w.layerMetrics(t, ops) ++
        (e2e ++ plain).map { case (k, v) => s"traced.$k" -> v })
      failures.take(20).foreach(f => System.err.println(s"[perfbench] FAILED $f"))
      tracer.foreach(t => Layers.writeSpans(t, new File(work, "spans.tsv")))
      Map(
        "workload" -> workload, "seed" -> seed, "trace" -> trace,
        "attempted" -> ops, "failed" -> failures.size,
        "e2e" -> e2e, "layer" -> layer.getOrElse(Map.empty),
        "plain" -> plain,
        "jvm" -> Map("gc_pause_s_per_op" -> gcS / ops, "jit_s_per_op" -> jitS / ops,
          "heap_live_mb" -> heapLive),
        "per_op" -> lat.indices.map(k => Map("label" -> w.label(k), "ms" -> lat(k) / 1e6,
          "cpu_s" -> use(k)._1 / 1e9, "alloc_mb" -> use(k)._2 / 1048576.0,
          "jit_s" -> use(k)._3 / 1e3)),
        "labels" -> lat.indices.map(w.label).groupBy(identity).map { case (k, v) => k -> v.size },
        "inputs" -> w.inputs,
        "cores" -> cores,
        "xmx_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
        "java" -> System.getProperty("java.version"),
        "spark" -> spark.version)
    } finally {
      w.close()
      try spark.stop() catch { case scala.util.control.NonFatal(_) => }
    }
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(new File(opts("out")), result)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** JVM memory readings.
  *
  * Allocation is counted on the heap, not per thread, so bytes allocated
  * by threads that exit (the connector's HTTP client threads, Spark's
  * task threads) are kept: allocated since [[install]] = heap in use now
  * + everything the collections since then freed − heap in use then.
  * Each collection's freed bytes (heap pools before − after) come from
  * its GC notification; a reading waits until the notification of every
  * collection the collectors have counted has arrived. Resolution is the
  * eden space handed out to threads (whole TLABs), not single objects.
  */
object Memory {
  private val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val collectors = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val memory = ManagementFactory.getMemoryMXBean

  /** Freed bytes of all collections seen, in arrival order, after
    * collection `id` of each collector: (collector, id) → (arrival, total).
    */
  private val freedAfter = new ConcurrentHashMap[(String, Long), (Long, Long)]()
  private var arrivals = 0L
  private var freedTotal = 0L
  @volatile private var base: Map[String, Long] = Map.empty

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, handback: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val gc = info.getGcInfo
        if (gc.getId > base.getOrElse(info.getGcName, Long.MaxValue)) {
          def heap(m: java.util.Map[String, MemoryUsage]) =
            m.asScala.collect { case (p, u) if heapPools(p) => u.getUsed }.sum
          Memory.synchronized {
            freedTotal += heap(gc.getMemoryUsageBeforeGc) - heap(gc.getMemoryUsageAfterGc)
            arrivals += 1
            freedAfter.put((info.getGcName, gc.getId), (arrivals, freedTotal))
          }
        }
      }
  }

  /** Starts counting; call first thing in the JVM, before collections. */
  def install(): Unit = {
    base = collectors.map(c => c.getName -> c.getCollectionCount).toMap
    collectors.foreach(_.asInstanceOf[NotificationEmitter]
      .addNotificationListener(listener, null, null))
  }

  /** Collection counts and heap in use, read with no collection between. */
  @annotation.tailrec
  private def snapshot(): (Map[String, Long], Long) = {
    def counts = collectors.map(c => c.getName -> c.getCollectionCount).toMap
    val before = counts
    val used = memory.getHeapMemoryUsage.getUsed
    if (counts == before) (before, used) else snapshot()
  }

  /** Bytes allocated on the heap since [[install]], plus a constant. */
  def allocatedBytes(): Long = {
    val (counts, used) = snapshot()
    val pending = counts.filter { case (c, n) => n > base(c) }
    val deadline = System.nanoTime() + 10000000000L
    while (!pending.forall(k => freedAfter.containsKey(k)) && System.nanoTime() < deadline)
      Thread.sleep(1)
    val last = pending.toSeq.map(k => Option(freedAfter.get(k)).getOrElse(
      throw new IllegalStateException(s"no GC notification for collection $k")))
    val freed = if (last.isEmpty) 0L else last.maxBy(_._1)._2
    used + freed
  }

  /** Collection time of all collectors, and JIT compilation time. */
  def gcMillis(): Long = collectors.map(_.getCollectionTime).filter(_ > 0).sum
  def jitMillis(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** Two collections, so objects the first one hands to cleaners go too. */
  def liveMb(): Double = {
    System.gc(); Thread.sleep(100); System.gc()
    memory.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
}
