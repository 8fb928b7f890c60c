package graftbench

import java.io.File
import java.time.{LocalDate, LocalDateTime}
import java.time.format.DateTimeFormatter

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.weather._

/** A seeded set of weather blocks, written in the fixture layout that
  * `WeatherEngine` reads (`places.json`, `hourly_7d.json`,
  * `minutely15_2d.json`, `daily_31d.json`). The generator keeps every
  * value it wrote, so each answer can be checked against it without
  * asking the engine.
  */
final class WxFixtures(seed: Long, val nLocations: Int, val now: LocalDate) {
  private val rng = new Random(seed)
  private val fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm")

  final case class Loc(name: String, lat: Double, lon: Double, offset: Int)

  /** Locations sit on a 3°-spaced grid with at most 0.5° of jitter, so a
    * request point within 0.3° of a location is nearest to it alone.
    */
  val locs: IndexedSeq[Loc] = (0 until nLocations).map { k =>
    val lat = 30.0 + 3.0 * (k / 8) + r2(rng.nextDouble() * 0.5)
    val lon = -20.0 + 3.0 * (k % 8) + r2(rng.nextDouble() * 0.5)
    val name = s"Place-$k-" + (1 to 4).map(_ => ('a' + rng.nextInt(26)).toChar).mkString
    Loc(name, r2(lat), r2(lon), Seq(0, 3600, 7200, -18000)(rng.nextInt(4)))
  }

  private def r1(x: Double): Double = math.round(x * 10).toDouble / 10
  private def r2(x: Double): Double = math.round(x * 100).toDouble / 100

  val hourlyNames: Seq[String] = WeatherSchemas.defaultHourlyNames
  val dailyNames: Seq[String] = WeatherSchemas.defaultDailyNames

  /** A series: the slot times plus one value array per variable
    * (`NaN` = the source's null gap).
    */
  final class Series(val times: IndexedSeq[LocalDateTime],
      val values: IndexedSeq[Map[String, Array[Double]]])

  private def series(from: LocalDateTime, slots: Int, stepMin: Int): Series = {
    val times = (0 until slots).map(i => from.plusMinutes(i.toLong * stepMin))
    val values = locs.map { _ =>
      hourlyNames.map { v =>
        v -> Array.tabulate(slots) { i =>
          v match {
            case "weather_code" => Seq(0, 1, 2, 3, 45, 61, 63, 80)(rng.nextInt(8)).toDouble
            case "precipitation" | "rain" | "snowfall" =>
              if (rng.nextDouble() < 0.7) 0.0 else r1(rng.nextDouble() * 4)
            case "snow_depth" if rng.nextDouble() < 0.03 => Double.NaN
            case "temperature_2m" | "apparent_temperature" | "dew_point_2m" =>
              r1(15 + 10 * math.sin(i * 2 * math.Pi * stepMin / 1440.0) + rng.nextGaussian() * 3)
            case "pressure_msl" => r1(1000 + rng.nextDouble() * 30)
            case "shortwave_radiation" | "direct_radiation" | "diffuse_radiation" =>
              r1(rng.nextDouble() * 800)
            case _ => r1(rng.nextDouble() * 100)
          }
        }
      }.toMap
    }
    new Series(times, values)
  }

  /** Hourly: 5 days back to 9 days ahead of `now`. */
  val hourly: Series = series(now.minusDays(5).atStartOfDay(), 14 * 24, 60)
  /** 15-minute: 1 day back to 3 days ahead. */
  val minutely: Series = series(now.minusDays(1).atStartOfDay(), 4 * 96, 15)

  /** Daily: the 31 days ending at `now`. */
  val dailyDates: IndexedSeq[LocalDate] = (0 until 31).map(i => now.minusDays(30L - i))
  val daily: IndexedSeq[Map[String, Array[Any]]] = locs.map { _ =>
    dailyNames.map { v =>
      v -> Array.tabulate[Any](dailyDates.size) { i =>
        val d = dailyDates(i)
        v match {
          case "weather_code" => Seq(0, 1, 2, 3, 61, 80)(rng.nextInt(6))
          case "sunrise" => d.atTime(4 + rng.nextInt(3), rng.nextInt(60)).format(fmt)
          case "sunset" => d.atTime(19 + rng.nextInt(3), rng.nextInt(60)).format(fmt)
          case _ => r1(rng.nextDouble() * 40)
        }
      }
    }.toMap
  }

  private def num(x: Double): String =
    if (x.isNaN) "null" else if (x == x.floor && math.abs(x) < 1e9) x.toLong.toString + ".0"
    else java.lang.Double.toString(x)

  private def head(l: Loc): String =
    s"""{"latitude": ${l.lat}, "longitude": ${l.lon}, "elevation": 100.0, """ +
      s""""timezone": "Etc/Offset${l.offset}", "timezone_abbreviation": "X", """ +
      s""""utc_offset_seconds": ${l.offset}, "generationtime_ms": 0.5"""

  private def seriesLines(s: Series, key: String): Seq[String] = locs.indices.map { k =>
    val times = s.times.map(t => "\"" + t.format(fmt) + "\"").mkString("[", ", ", "]")
    val vars = hourlyNames.map { v =>
      val arr = s.values(k)(v)
      val body = if (v == "weather_code") arr.map(_.toInt.toString).mkString(", ")
        else arr.map(num).mkString(", ")
      s""""$v": [$body]"""
    }.mkString(", ")
    head(locs(k)) + s""", "$key": {"time": $times, $vars}, "${key}_units": {"time": "iso8601"}}"""
  }

  def write(dir: File): Unit = {
    dir.mkdirs()
    def put(name: String, lines: Seq[String]): Unit = {
      val pw = new java.io.PrintWriter(new File(dir, name), "UTF-8")
      try lines.foreach(pw.println) finally pw.close()
    }
    put("places.json", locs.map(l =>
      s"""{"place": "${l.name}", "latitude": ${l.lat}, "longitude": ${l.lon}}"""))
    put("hourly_7d.json", seriesLines(hourly, WeatherSchemas.GranHourly))
    put("minutely15_2d.json", seriesLines(minutely, WeatherSchemas.GranMinutely15))
    put("daily_31d.json", locs.indices.map { k =>
      val times = dailyDates.map(d => "\"" + d + "\"").mkString("[", ", ", "]")
      val vars = dailyNames.map { v =>
        val body = daily(k)(v).map {
          case s: String => "\"" + s + "\""
          case i: Int => i.toString
          case d: Double => num(d)
          case other => other.toString
        }.mkString(", ")
        s""""$v": [$body]"""
      }.mkString(", ")
      head(locs(k)) + s""", "daily": {"time": $times, $vars}, "daily_units": {"time": "iso8601"}}"""
    })
  }
}

/** `wx_serve`: one operation is one request to [[WeatherEngine]] with its
  * answer collected to the driver. The request sequence is seeded and
  * replayed from its start in every run; each answer is checked against
  * what [[WxFixtures]] wrote.
  */
final class WxServe(spark: SparkSession, seed: Long, work: File) extends Workload {
  val NLocations = 12
  val SequenceLength = 380  // 20 cycles of the mix
  val WarmupRequests = 19  // one cycle of the mix
  private val now = LocalDate.parse("2024-07-03")
  private lazy val fx = new WxFixtures(seed, NLocations, now)
  private lazy val engine = new WeatherEngine(spark, new File(work, "fixtures").getPath, now)

  /** A request and how to check its answer. */
  final case class Req(kind: String, run: () => Either[String, DataFrame],
      expect: Either[String, Answer])
  final case class Answer(rows: Int, lat: Double, lon: Double,
      check: (Array[Row], Boolean) => Option[String])

  private lazy val sequence: IndexedSeq[Req] = requests(new Random(seed * 31 + 7), SequenceLength)

  def setup(): Unit = {
    fx.write(new File(work, "fixtures"))
    val warm = requests(new Random(seed * 31 + 8), WarmupRequests)
    warm.foreach(r => r.run().foreach(_.collect()))
  }

  /** Whole mix cycles only, so every run times the same mix; at least
    * two, so each type's median is over six requests.
    */
  override def cycle: Int = Mix.size
  override def minOps: Int = 2 * Mix.size

  def label(i: Int): String = sequence(i % SequenceLength).kind

  def run(i: Int, ctx: OpCtx): Check = {
    val r = sequence(i % SequenceLength)
    val built = ctx.span("weather.build", r.kind)(r.run())
    val got = built.map(df => ctx.span("spark.action", r.kind)(df.collect()))
    (corrupt: Boolean) => (got, r.expect) match {
      case (Left(msg), Left(want)) =>
        val w = if (corrupt) want + "!" else want
        if (msg == w) None else Some(s"error '$msg', expected '$w'")
      case (Right(rows), Right(a)) =>
        val n = if (corrupt) a.rows + 1 else a.rows
        if (rows.length != n) Some(s"${rows.length} rows, expected $n")
        else rows.find(row => row.getAs[Double]("latitude") != a.lat ||
            row.getAs[Double]("longitude") != a.lon)
          .map(row => s"row from (${row.getAs[Double]("latitude")}, " +
            s"${row.getAs[Double]("longitude")}), expected (${a.lat}, ${a.lon})")
          .orElse(a.check(rows, corrupt))
      case (g, e) => Some(s"got $g, expected $e")
    }
  }

  def inputs: Map[String, Double] = Map(
    "locations" -> NLocations.toDouble,
    "hourly_slots_per_location" -> fx.hourly.times.size.toDouble,
    "minutely15_slots_per_location" -> fx.minutely.times.size.toDouble,
    "daily_days_per_location" -> fx.dailyDates.size.toDouble,
    "fixture_mb" -> new File(work, "fixtures").listFiles().map(_.length).sum / 1048576.0,
    "request_sequence" -> SequenceLength.toDouble,
    "warmup_requests" -> WarmupRequests.toDouble)

  override def layerMetrics(t: Tracer, ops: Int): Map[String, Double] = {
    val byType = Layers.medianByLabel(t, "op")
    def mean(name: String) = {
      val ss = t.spans.asScala.toSeq.filter(s => s.name == name && s.op >= 0)
        .map(s => (s.end - s.start) / 1e6)
      if (ss.isEmpty) 0.0 else ss.sum / ss.size
    }
    Map("weather.build_ms" -> mean("weather.build"),
      "weather.collect_ms" -> mean("spark.action"),
      "weather.input_mb_per_req" -> Layers.input(t) / ops) ++
      Layers.RequestTypes.map(k => s"weather.${k}_p50_ms" -> byType.getOrElse(k, 0.0))
  }

  // ---- the request generator and the expected answers ----

  private def pickVars(rng: Random, names: Seq[String]): Option[Seq[String]] =
    if (rng.nextInt(3) == 0) None
    else Some(rng.shuffle(names).take(3 + rng.nextInt(6)))

  private def location(rng: Random, k: Int): Location = {
    val l = fx.locs(k)
    if (rng.nextBoolean()) Location(Some(l.name), None, None)
    else Location(None, Some(l.lat + (rng.nextDouble() - 0.5) * 0.6),
      Some(l.lon + (rng.nextDouble() - 0.5) * 0.6))
  }

  /** The request mix, a fixed cycle by a rule rather than by traffic
    * (none has been measured for the reference service): the six valid
    * request types three times each, in turn, then one invalid request,
    * 1 in 19 (5.3%). The seed picks every parameter; each run therefore
    * times the same mix whatever the seed.
    */
  val Mix: IndexedSeq[String] = IndexedSeq.fill(3)(Layers.RequestTypes.filter(_ != "invalid"))
    .flatten :+ "invalid"

  private def requests(rng: Random, n: Int): IndexedSeq[Req] = (0 until n).map { i =>
    val k = rng.nextInt(NLocations)
    val loc = location(rng, k)
    val kind = Mix(i % Mix.size)
    if (kind == "forecast_60") {
      val past = if (rng.nextBoolean()) Some(rng.nextInt(4)) else None
      val fcst = if (rng.nextInt(4) > 0) Some(1 + rng.nextInt(7)) else None
      val req = ForecastRequest(loc, 60, fcst, past, pickVars(rng, fx.hourlyNames))
      Req("forecast_60", () => engine.forecast(req), Right(seriesAnswer(fx.hourly, k,
        forecastDays(req), req.variables.getOrElse(fx.hourlyNames))))
    } else if (kind == "forecast_15") {
      val req = ForecastRequest(loc, 15, Some(1 + rng.nextInt(3)),
        Some(rng.nextInt(2)), pickVars(rng, fx.hourlyNames))
      Req("forecast_15", () => engine.forecast(req), Right(seriesAnswer(fx.minutely, k,
        forecastDays(req), req.variables.getOrElse(fx.hourlyNames))))
    } else if (kind == "forecast_1440") {
      val req = ForecastRequest(loc, 1440, Some(1 + rng.nextInt(7)),
        Some(rng.nextInt(4)), None, Some(Seq("temperature_2m_max",
          "temperature_2m_min", "precipitation_sum") ++
          rng.shuffle(Seq("rain_sum", "uv_index_max", "weather_code")).take(rng.nextInt(3))))
      Req("forecast_1440", () => engine.forecast(req), Right(rollupAnswer(k, forecastDays(req))))
    } else if (kind == "history_60") {
      val start = now.minusDays(5L - rng.nextInt(12))
      val end = start.plusDays(rng.nextInt(4).toLong)
      val req = HistoryRequest(loc, start.toString, end.toString, 60,
        pickVars(rng, fx.hourlyNames))
      Req("history_60", () => engine.history(req), Right(seriesAnswer(fx.hourly, k,
        (start, end.plusDays(1)), req.variables.getOrElse(fx.hourlyNames))))
    } else if (kind == "history_1440") {
      val start = now.minusDays(30L - rng.nextInt(25))
      val end = start.plusDays(rng.nextInt(6).toLong)
      val vars = pickVars(rng, fx.dailyNames)
      val req = HistoryRequest(loc, start.toString, end.toString, 1440, vars)
      Req("history_1440", () => engine.history(req),
        Right(dailyAnswer(k, start, end, vars.getOrElse(fx.dailyNames))))
    } else if (kind == "hourly_with_daily") {
      val req = ForecastRequest(loc, 60, Some(1 + rng.nextInt(5)), Some(rng.nextInt(3)),
        pickVars(rng, fx.hourlyNames))
      Req("hourly_with_daily", () => engine.hourlyWithDaily(req),
        Right(withDailyAnswer(k, forecastDays(req), req.variables.getOrElse(fx.hourlyNames))))
    } else invalid(rng, loc)
  }

  /** The documented validation errors (`graft.weather.Requests`). */
  private def invalid(rng: Random, loc: Location): Req = rng.nextInt(5) match {
    case 0 =>
      val lat = 90.5 + rng.nextInt(50)
      val req = ForecastRequest(Location(None, Some(lat), Some(10.0)))
      Req("invalid", () => engine.forecast(req),
        Left(s"Invalid coordinates: latitude $lat not in [-90, 90]"))
    case 1 =>
      val g = Seq(30, 45, 120, 0)(rng.nextInt(4))
      val req = ForecastRequest(loc, g)
      Req("invalid", () => engine.forecast(req),
        Left(s"Unsupported granularity: $g. Use 15, 60, or >=1440."))
    case 2 =>
      val req = HistoryRequest(loc, "2024-06-01", "2024-06-02", 15)
      Req("invalid", () => engine.history(req),
        Left("Granularity 15 not supported for historical data. Use 60 or >=1440."))
    case 3 =>
      val req = HistoryRequest(loc, "2024-06-05", "2024-06-02")
      Req("invalid", () => engine.history(req), Left("start_date cannot be after end_date."))
    case _ =>
      val req = ForecastRequest(Location(None, Some(10.0), None))
      Req("invalid", () => engine.forecast(req),
        Left("Either 'place' or both 'latitude' and 'longitude' must be provided."))
  }

  /** The documented forecast window: `[now - past_days, now + forecast_days)`,
    * forecast_days defaulting to 7 only when neither is positive.
    */
  private def forecastDays(r: ForecastRequest): (LocalDate, LocalDate) = {
    val any = r.forecastDays.exists(_ > 0) || r.pastDays.exists(_ > 0)
    val f = r.forecastDays.filter(_ > 0).map(math.min(_, 16)).getOrElse(if (any) 0 else 7)
    val p = r.pastDays.filter(_ > 0).getOrElse(0)
    (now.minusDays(p.toLong), now.plusDays(f.toLong))
  }

  private def slotsIn(s: WxFixtures#Series, w: (LocalDate, LocalDate)): IndexedSeq[Int] =
    s.times.indices.filter { i =>
      val d = s.times(i).toLocalDate
      !d.isBefore(w._1) && d.isBefore(w._2)
    }

  private def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(a) + math.abs(b))

  private def value(row: Row, v: String): Double = row.getAs[Any](v) match {
    case null => Double.NaN
    case i: Int => i.toDouble
    case d: Double => d
    case other => throw new IllegalStateException(s"$v = $other")
  }

  /** Hourly or 15-minute rows: nearest block, row count of the window, and
    * the sum of every selected value.
    */
  private def seriesAnswer(s: WxFixtures#Series, k: Int, w: (LocalDate, LocalDate),
      vars: Seq[String]): Answer = {
    val slots = slotsIn(s, w)
    val want = slots.iterator.flatMap(i => vars.iterator.map(v => s.values(k)(v)(i)))
      .filterNot(_.isNaN).sum
    Answer(slots.size, fx.locs(k).lat, fx.locs(k).lon, (rows, corrupt) => {
      val got = rows.iterator.flatMap(r => vars.iterator.map(v => value(r, v)))
        .filterNot(_.isNaN).sum
      val expected = if (corrupt) want + 1 else want
      if (close(got, expected)) None else Some(s"checksum $got, expected $expected")
    })
  }

  private def dayStats(k: Int, d: LocalDate): (Double, Double, Double) = {
    val slots = slotsIn(fx.hourly, (d, d.plusDays(1)))
    val t = slots.map(i => fx.hourly.values(k)("temperature_2m")(i))
    val p = slots.map(i => fx.hourly.values(k)("precipitation")(i)).sum
    (t.max, t.min, BigDecimal(p).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  /** Daily forecast: the rollup of the generated hourly values, per day. */
  private def rollupAnswer(k: Int, w: (LocalDate, LocalDate)): Answer = {
    val days = Iterator.iterate(w._1)(_.plusDays(1)).takeWhile(_.isBefore(w._2)).toIndexedSeq
    Answer(days.size, fx.locs(k).lat, fx.locs(k).lon, (rows, corrupt) => {
      rows.iterator.map { r =>
        val d = r.getAs[java.sql.Date]("date").toLocalDate
        val (mx, mn, p) = dayStats(k, d)
        val got = (r.getAs[Double]("temperature_2m_max"),
          r.getAs[Double]("temperature_2m_min"), r.getAs[Double]("precipitation_sum"))
        val want = (if (corrupt) mx + 1 else mx, mn, p)
        if (got == want) None else Some(s"$d: rollup $got, expected $want")
      }.collectFirst { case Some(m) => m }
    })
  }

  /** Daily history: a direct projection of the generated daily arrays. */
  private def dailyAnswer(k: Int, start: LocalDate, end: LocalDate, vars: Seq[String]): Answer = {
    val idx = fx.dailyDates.indices.filter { i =>
      val d = fx.dailyDates(i); !d.isBefore(start) && !d.isAfter(end)
    }
    Answer(idx.size, fx.locs(k).lat, fx.locs(k).lon, (rows, corrupt) => {
      rows.iterator.map { r =>
        val d = r.getAs[java.sql.Date]("date").toLocalDate
        val i = fx.dailyDates.indexOf(d)
        vars.iterator.map { v =>
          val want: Any = fx.daily(k)(v)(i) match {
            case s: String => LocalDateTime.parse(s)
            case x => x
          }
          val got = r.getAs[Any](v)
          val ok = !corrupt && got == want
          if (ok) None else Some(s"$d $v = $got, expected $want${if (corrupt) " (corrupted)" else ""}")
        }.collectFirst { case Some(m) => m }
      }.collectFirst { case Some(m) => m }
    })
  }

  /** Hourly rows enriched with that day's rollup. */
  private def withDailyAnswer(k: Int, w: (LocalDate, LocalDate), vars: Seq[String]): Answer = {
    val base = seriesAnswer(fx.hourly, k, w, vars)
    base.copy(check = (rows, corrupt) => base.check(rows, corrupt).orElse {
      rows.iterator.map { r =>
        val d = r.getAs[LocalDateTime]("ts_local").toLocalDate
        val (mx, mn, p) = dayStats(k, d)
        val got = (r.getAs[Double]("temperature_2m_max"),
          r.getAs[Double]("temperature_2m_min"), r.getAs[Double]("precipitation_sum"))
        if (got == ((mx, mn, p))) None else Some(s"$d: daily $got, expected ${(mx, mn, p)}")
      }.collectFirst { case Some(m) => m }
    })
  }
}
