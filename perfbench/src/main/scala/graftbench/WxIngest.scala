package graftbench

import java.io.File
import java.net.{InetAddress, InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.LocalDate
import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.util.Random

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, sum}

import graft.sources.openmeteo.CallCounters
import graft.weather.{WeatherOps, WeatherSchemas}

/** An Open-Meteo stand-in on loopback: a JDK HTTP server with two
  * threads answering each `(latitude, longitude)` with a block rendered
  * once, before the timed phase.
  */
final class StandIn(payloads: Map[(String, String), Array[Byte]],
    onRequest: (Long, Long) => Unit) {
  val requests = new AtomicLong()
  val bytes = new AtomicLong()
  val busyNs = new AtomicLong()
  private val pool = Executors.newFixedThreadPool(2)
  private val server = HttpServer.create(
    new InetSocketAddress(InetAddress.getLoopbackAddress, 0), 16)
  server.setExecutor(pool)
  server.createContext("/v1/forecast", (ex: HttpExchange) => {
    val t0 = System.nanoTime()
    try {
      val q = Option(ex.getRequestURI.getRawQuery).getOrElse("").split("&")
        .map(_.split("=", 2)).collect { case Array(k, v) =>
          URLDecoder.decode(k, UTF_8) -> URLDecoder.decode(v, UTF_8) }.toMap
      payloads.get((q.getOrElse("latitude", ""), q.getOrElse("longitude", ""))) match {
        case Some(body) =>
          ex.sendResponseHeaders(200, body.length.toLong)
          ex.getResponseBody.write(body)
          bytes.addAndGet(body.length.toLong)
        case None =>
          val body = "unknown location".getBytes(UTF_8)
          ex.sendResponseHeaders(404, body.length.toLong)
          ex.getResponseBody.write(body)
      }
    } finally {
      ex.close()
      val t1 = System.nanoTime()
      requests.incrementAndGet()
      busyNs.addAndGet(t1 - t0)
      onRequest(t0, t1)
    }
  })
  server.start()

  def url: String = s"http://127.0.0.1:${server.getAddress.getPort}/v1/forecast"

  def stop(): Unit = {
    server.stop(0)
    pool.shutdown()
    pool.awaitTermination(10, TimeUnit.SECONDS): Unit
  }
}

/** `wx_ingest`: one operation is one ingest round. The `openmeteo`
  * connector scans L locations × D days of hourly data from the
  * [[StandIn]] in live mode and lands the rows as parquet; the round then
  * writes `WeatherOps.dailyRollup` of the landed table as parquet.
  * Checks: L×D×24 landed rows, L×D daily rows, and Σ `precipitation_sum`
  * equal to the generator's Σ hourly `precipitation` to 2 d.p.
  */
final class WxIngest(spark: SparkSession, seed: Long, work: File) extends Workload {
  val L = 64
  val D = 92
  /** JIT compilation takes about 5 s of CPU per round in the first rounds
    * after start-up and about 1.5 s from the ninth on; the timed rounds
    * follow four rounds of warm-up.
    */
  val WarmupRounds = 4
  private val start = LocalDate.parse("2024-03-01")
  @volatile private var currentOp = -1
  @volatile private var tracer: Option[Tracer] = None

  private val rng = new Random(seed)
  private val locs: IndexedSeq[(Double, Double, Int)] = (0 until L).map { k =>
    (math.round((-60 + 120.0 * rng.nextDouble()) * 100) / 100.0,
      math.round((-170 + 340.0 * rng.nextDouble()) * 100) / 100.0 + k * 1e-3,
      Seq(0, 3600, -7200, 19800)(rng.nextInt(4)))
  }
  /** Σ of the generated hourly precipitation, and Σ of its per-day sums
    * rounded to 2 d.p. (what the rollup must report).
    */
  private var precipTotal = 0.0
  private var precipDailyTotal = 0.0
  private var payloadBytes = 0L
  private var standIn: StandIn = _
  private var calls0 = 0L
  private var requests0 = 0L
  private var bytes0 = 0L
  private var busy0 = 0L

  private def render(k: Int): Array[Byte] = {
    val (lat, lon, off) = locs(k)
    val n = D * 24
    val sb = new StringBuilder(n * 120)
    sb ++= s"""{"latitude": $lat, "longitude": $lon, "elevation": 10.0, "timezone": "X", """
    sb ++= s""""timezone_abbreviation": "X", "utc_offset_seconds": $off, "generationtime_ms": 0.3, """
    sb ++= "\"hourly\": {\"time\": ["
    (0 until n).foreach { i =>
      if (i > 0) sb += ','
      sb ++= "\"" + start.atStartOfDay().plusHours(i.toLong).toString.take(16) + "\""
    }
    sb += ']'
    val daySums = new Array[Double](D)
    WeatherSchemas.defaultHourlyNames.foreach { v =>
      sb ++= s""", "$v": ["""
      (0 until n).foreach { i =>
        if (i > 0) sb += ','
        v match {
          case "weather_code" => sb ++= Seq(0, 1, 3, 61, 80)(rng.nextInt(5)).toString
          case _ =>
            val x = v match {
              case "precipitation" | "rain" | "snowfall" =>
                if (rng.nextDouble() < 0.6) 0.0 else math.round(rng.nextDouble() * 30) / 10.0
              case _ => math.round(rng.nextGaussian() * 100) / 10.0
            }
            if (v == "precipitation") { precipTotal += x; daySums(i / 24) += x }
            sb ++= x.toString
        }
      }
      sb += ']'
    }
    sb ++= "}, \"hourly_units\": {\"time\": \"iso8601\"}}"
    precipDailyTotal += daySums.map(s => BigDecimal(s).setScale(2,
      BigDecimal.RoundingMode.HALF_UP).toDouble).sum
    sb.toString.getBytes(UTF_8)
  }

  private def landed = new File(work, "landed").getPath
  private def dailyOut = new File(work, "daily").getPath

  def setup(): Unit = {
    val payloads = locs.indices.map { k =>
      (locs(k)._1.toString, locs(k)._2.toString) -> render(k)
    }.toMap
    payloadBytes = payloads.values.map(_.length.toLong).sum
    standIn = new StandIn(payloads, (t0, t1) =>
      tracer.foreach(_.record("standin.request", currentOp, "", t0, t1)))
    (0 until WarmupRounds).foreach(_ => round(None))
    calls0 = CallCounters.get("http")
    requests0 = standIn.requests.get
    bytes0 = standIn.bytes.get
    busy0 = standIn.busyNs.get
  }

  private def round(ctx: Option[OpCtx]): Unit = {
    def span(label: String)(f: => Unit): Unit = ctx.fold(f)(_.span("spark.action", label)(f))
    val scan = spark.read.format("openmeteo")
      .option("httpBaseUrl", standIn.url)
      .option("locations", locs.map { case (la, lo, _) => s"$la,$lo" }.mkString(";"))
      .option("granularity", WeatherSchemas.GranHourly)
      .option("backoffBaseMs", "50")
      .load()
    span("land")(scan.write.mode("overwrite").parquet(landed))
    span("rollup")(WeatherOps.dailyRollup(spark.read.parquet(landed))
      .write.mode("overwrite").parquet(dailyOut))
  }

  /** A median of at least three rounds, however slow the box. */
  override def minOps: Int = 3

  def label(i: Int): String = "round"

  def run(i: Int, ctx: OpCtx): Check = {
    currentOp = i
    round(Some(ctx))
    (corrupt: Boolean) => {
      val rows = spark.read.parquet(landed).count()
      val daily = spark.read.parquet(dailyOut)
      val days = daily.count()
      val p = daily.agg(sum(col("precipitation_sum"))).head.getDouble(0)
      val want = if (corrupt) precipDailyTotal + 1 else precipDailyTotal
      if (rows != L.toLong * D * 24) Some(s"$rows landed rows, expected ${L * D * 24}")
      else if (days != L.toLong * D) Some(s"$days daily rows, expected ${L * D}")
      else if (math.abs(p - want) > 0.005 || math.abs(p - precipTotal) > 0.005 * L * D)
        Some(f"sum(precipitation_sum) = $p%.4f, expected $want%.4f (hourly sum $precipTotal%.4f)")
      else None
    }
  }

  override def startTrace(t: Tracer): Unit = tracer = Some(t)

  def inputs: Map[String, Double] = Map(
    "locations" -> L.toDouble, "days" -> D.toDouble,
    "rows_per_round" -> (L * D * 24).toDouble,
    "payload_mb" -> payloadBytes / 1048576.0,
    "standin_threads" -> 2.0, "warmup_rounds" -> WarmupRounds.toDouble)

  override def layerMetrics(t: Tracer, ops: Int): Map[String, Double] = {
    val req = (standIn.requests.get - requests0).toDouble
    val actions = Layers.medianByLabel(t, "spark.action")
    Map(
      "openmeteo.http_requests" -> req / ops,
      "openmeteo.http_mb" -> (standIn.bytes.get - bytes0) / 1048576.0 / ops,
      "openmeteo.calls" -> (CallCounters.get("http") - calls0).toDouble / ops,
      "openmeteo.fetch_ratio" -> (if (req > 0) L.toDouble * ops / req else 0.0),
      "openmeteo.scan_s" -> actions.getOrElse("land", 0.0) / 1e3,
      "standin.busy_s" -> (standIn.busyNs.get - busy0) / 1e9 / ops,
      "weather.rollup_s" -> actions.getOrElse("rollup", 0.0) / 1e3)
  }

  override def close(): Unit = if (standIn != null) standIn.stop()
}
