package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Path
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.GrafanaMacros
import graft.ingest.IngestDataset
import graft.operators.{RestQuery, RpcRegistry}
import graft.serving.RestServer
import graft.sources.CsvDialects

/** `dashboard`: a seeded history landed through the ingest path and
  * served by `RestServer` on loopback to closed-loop clients. Requests
  * mix Grafana panel SQL, PostgREST table URLs and one RPC procedure in
  * the fixed proportions of [[Deck]]; within a shape, requests are drawn
  * with a Zipf skew so refreshed panels repeat. One operation is a
  * request. */
object Dashboard {

  /** 16 series at 15-minute resolution: about the 14-15 production
    * types a generation panel of the recorded dashboards averages per
    * country. 35 days: the widest panel range served (30 days) plus
    * room for the seeded start day. */
  val Series = 16
  val Days = 35
  val Clients = 4
  val FloatTol = 1e-9 // relative tolerance for floating aggregates

  /** Requests per deck of 32, by shape. Panel SQL takes 24 cards,
    * shared by largest remainder over 49 of the 69 panel queries
    * recorded in `src/test/resources/graft/grafana_rawsql.json`: 6 joins
    * to a dimension table; 25 `$__timeGroupAlias` averages of one value,
    * split evenly between a one-day hourly and a 30-day daily range
    * (the recording holds no ranges); 10 pivot-wide averages of several
    * values; 8 unbucketed `$__timeFilter` reads, served as the
    * latest-value snapshot. The other 20 (template variables and
    * static-table reads) read no time series. PostgREST table URLs take
    * 6 cards and the RPC 2: a set share, as the repository records no
    * REST traffic. DashboardSpec re-derives the SQL counts. */
  val Deck: Seq[(String, Int)] = Seq("sql_narrow" -> 6, "sql_wide" -> 6,
    "sql_pivot" -> 5, "sql_latest" -> 4, "sql_join" -> 3,
    "rest_agg" -> 3, "rest_raw" -> 3, "rpc" -> 2)
  val DeckSize: Int = Deck.map(_._2).sum
  val Shapes: IndexedSeq[String] = Deck.map(_._1).toIndexedSeq
  val PerShape = 8 // distinct requests per shape; ranks are Zipf(1)
  val Universe: Int = Shapes.size * PerShape

  /** Expected JSON value of one field. */
  sealed trait Exp
  final case class Str(v: String) extends Exp
  final case class Num(v: Double, tol: Double) extends Exp
  case object Absent extends Exp // SQL NULL: Spark's JSON omits the key

  /** One request: its shape, HTTP form, and the rows it must return. */
  final case class Req(shape: String, path: String, body: Option[String],
      rows: Seq[Map[String, Exp]])

  private val tsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSXXX")
    .withZone(ZoneOffset.UTC)
  private def tsJson(day: Int, minute: Int): String =
    tsFmt.format(Instant.ofEpochSecond(
      Gen.dayDate(day).atStartOfDay().toEpochSecond(ZoneOffset.UTC) + minute * 60L))
  private def date(day: Int): String = Gen.dayDate(day).toString
  private def enc(s: String): String = java.net.URLEncoder.encode(s, "UTF-8")

  /** The source, straight from the generator: one point in MW. */
  private def v(seed: Long, s: Int, day: Int, slot: Int): Option[Double] =
    Gen.pointCents(seed, s, day, slot, 0).map(_ / 100.0)

  private def avgExp(xs: Seq[Option[Double]]): Exp = {
    val p = xs.flatten
    if (p.isEmpty) Absent else Num(p.sum / p.size, FloatTol)
  }
  private def exact(x: Option[Double]): Exp = x.fold[Exp](Absent)(Num(_, 0.0))

  private def panel(sql: String, from: String, to: String, interval: String,
      vars: Map[String, String] = Map.empty): (String, Option[String]) = {
    val q = s"/sql?from=${enc(from)}&to=${enc(to)}&interval=$interval" +
      vars.map { case (k, x) => s"&var_$k=${enc(x)}" }.mkString
    (q, Some(sql))
  }

  /** Request `i` of the universe (rank `i % PerShape` of shape
    * `i / PerShape`) and its expected rows, computed from the
    * generator — independently of the engine that serves it. */
  def request(seed: Long, i: Int): Req = {
    val shape = Shapes(i / PerShape)
    val h = Gen.mix(seed, i, 21)
    val s = ((h >>> 8) % Series).toInt
    val d = ((h >>> 24) % Days).toInt
    val dayFrom = s"${date(d)} 00:00:00"
    val dayTo = s"${date(d)} 23:59:59"
    def hourly(series: Int, hr: Int) = avgExp((0 until 4).map(k => v(seed, series, d, hr * 4 + k)))
    shape match {
      case "sql_narrow" =>
        val (p, b) = panel("SELECT $__timeGroupAlias(ts,$__interval), " +
          "avg(value_mw) AS \"value\" FROM readings WHERE $__timeFilter(ts) " +
          "AND series = '$series' GROUP BY 1 ORDER BY 1", dayFrom, dayTo, "1h",
          Map("series" -> Gen.seriesName(s)))
        Req(shape, p, b, (0 until 24).map(hr =>
          Map("time" -> Str(tsJson(d, hr * 60)), "value" -> hourly(s, hr))))
      case "sql_wide" =>
        val d0 = d % (Days - 29)
        val (p, b) = panel("SELECT $__timeGroupAlias(ts,$__interval), " +
          "avg(value_mw) AS \"value\" FROM readings WHERE $__timeFilter(ts) " +
          "AND series = '$series' GROUP BY 1 ORDER BY 1",
          s"${date(d0)} 00:00:00", s"${date(d0 + 29)} 23:59:59", "1d",
          Map("series" -> Gen.seriesName(s)))
        Req(shape, p, b, (d0 until d0 + 30).map(dd => Map(
          "time" -> Str(tsJson(dd, 0)),
          "value" -> avgExp((0 until Gen.SlotsPerDay).map(k => v(seed, s, dd, k))))))
      case "sql_latest" =>
        val (p, b) = panel("SELECT series, max_by(value_mw, ts) AS \"value\", " +
          "max(ts) AS \"time\" FROM readings WHERE $__timeFilter(ts) " +
          "GROUP BY series ORDER BY series", dayFrom, dayTo, "1h")
        Req(shape, p, b, (0 until Series).map(x => Map(
          "series" -> Str(Gen.seriesName(x)),
          "value" -> exact(v(seed, x, d, Gen.SlotsPerDay - 1)),
          "time" -> Str(tsJson(d, 23 * 60 + 45)))))
      case "sql_join" =>
        val (p, b) = panel("SELECT $__timeGroupAlias(r.ts,$__interval), " +
          "g.region AS metric, avg(r.value_mw) AS \"value\" FROM readings r " +
          "JOIN regions g ON r.series = g.series WHERE $__timeFilter(r.ts) " +
          "GROUP BY 1, 2 ORDER BY 1, 2", dayFrom, dayTo, "1h")
        val byRegion = (0 until Series).groupBy(x => Gen.regionOf(seed, x))
        Req(shape, p, b, for (hr <- 0 until 24; reg <- byRegion.keys.toSeq.sorted)
          yield Map("time" -> Str(tsJson(d, hr * 60)), "metric" -> Str(reg),
            "value" -> avgExp(for (x <- byRegion(reg); k <- 0 until 4)
              yield v(seed, x, d, hr * 4 + k))))
      case "sql_pivot" =>
        val ss = (0 until 4).map(k => (s + k * 7) % Series)
        val cols = ss.map { x =>
          val n = Gen.seriesName(x)
          s"avg(CASE WHEN series = '$n' THEN value_mw END) AS \"$n\""
        }.mkString(", ")
        val (p, b) = panel("SELECT $__timeGroupAlias(ts,$__interval), " + cols +
          " FROM readings WHERE $__timeFilter(ts) GROUP BY 1 ORDER BY 1",
          dayFrom, dayTo, "1h")
        Req(shape, p, b, (0 until 24).map(hr =>
          Map[String, Exp]("time" -> Str(tsJson(d, hr * 60))) ++
            ss.map(x => Gen.seriesName(x) -> hourly(x, hr))))
      case "rest_agg" =>
        Req(shape, s"/readings?select=series,value_mw.avg(),value_mw.max()" +
          s"&date=eq.${date(d)}&order=series", None,
          (0 until Series).map { x =>
            val pts = (0 until Gen.SlotsPerDay).map(k => v(seed, x, d, k))
            Map("series" -> Str(Gen.seriesName(x)), "value_mw_avg" -> avgExp(pts),
              "value_mw_max" -> exact(pts.flatten.maxOption))
          })
      case "rest_raw" =>
        Req(shape, s"/readings?select=ts,value_mw&series=eq.${Gen.seriesName(s)}" +
          s"&date=eq.${date(d)}&order=ts.desc&limit=24", None,
          (Gen.SlotsPerDay - 1 to Gen.SlotsPerDay - 24 by -1).map(k => Map(
            "ts" -> Str(tsJson(d, k * 15)), "value_mw" -> exact(v(seed, s, d, k)))))
      case "rpc" =>
        Req(shape, s"/rpc/daily_stats?day=${date(d)}&order=series", None,
          (0 until Series).map { x =>
            val pts = (0 until Gen.SlotsPerDay).map(k => v(seed, x, d, k))
            Map("series" -> Str(Gen.seriesName(x)), "avg_mw" -> avgExp(pts),
              "min_mw" -> exact(pts.flatten.minOption),
              "max_mw" -> exact(pts.flatten.maxOption),
              "n" -> Str(pts.flatten.size.toString))
          })
    }
  }

  private val mapper = new ObjectMapper()

  /** True iff a JSON reply holds exactly the expected rows, in order. */
  def matches(body: String, want: Seq[Map[String, Exp]]): Boolean = {
    val arr = mapper.readTree(body)
    arr.isArray && arr.size == want.size && want.indices.forall { i =>
      val row = arr.get(i)
      val keys = row.fieldNames().asScala.toSet
      keys.subsetOf(want(i).keySet) && want(i).forall { case (k, e) =>
        val n: JsonNode = row.get(k)
        e match {
          case Absent => n == null || n.isNull
          case Str(x) => n != null && n.asText == x
          case Num(x, tol) => n != null && n.isNumber &&
            math.abs(n.asDouble - x) <= math.abs(x) * tol
        }
      }
    }
  }

  /** Zipf(1) rank over the universe from a uniform draw. */
  def zipfRank(u: Double, n: Int): Int = {
    val w = (1 to n).map(1.0 / _)
    val target = u * w.sum
    var acc = 0.0
    var r = 0
    while (r < n - 1 && acc + w(r) <= target) { acc += w(r); r += 1 }
    r
  }

  /** Universe index of the `k`-th request of a run. Shapes come from
    * seeded shuffles of [[Deck]], one per 32 requests, so every run
    * serves the stated mix; the rank within the shape is a seeded
    * Zipf draw. */
  def draw(seed: Long, k: Int): Int = {
    val cards = Shapes.indices.flatMap(s => Seq.fill(Deck(s)._2)(s))
    val deck = cards.indices.sortBy(c => Gen.mix(seed, 1000, k / DeckSize, c))
    val shape = cards(deck(k % DeckSize))
    shape * PerShape + zipfRank(Gen.unit(Gen.mix(seed, 2000, k)), PerShape)
  }

  /** One request of every shape (its rank 0). */
  def onePerShape(reqs: IndexedSeq[Req]): IndexedSeq[Req] =
    Shapes.indices.map(s => reqs(s * PerShape))

  /** Land the generated history and regions into a served dataset dir. */
  def land(spark: SparkSession, root: Path, seed: Long): String = {
    val files = root.resolve("files")
    Gen.dashboardFiles(files, seed, Series, Days)
    val ingest = new IngestDataset(spark, root.resolve("warehouse").toString, "grid")
    ingest.append("readings.parquet",
      Crawl.parse(spark, files.resolve("history").toString, withQuality = false),
      partitionTs = Some("ts"), pk = Seq("series", "ts"))
    ingest.overwrite("regions.parquet",
      CsvDialects.germanCsv(spark, files.resolve("regions").toString)
        .select(col("Serie").as("series"), col("Region").as("region"),
          col("Name").as("name")))
    ingest.tablePath("").stripSuffix("/")
  }

  /** The one registered procedure: per-series statistics of one day. */
  def registerRpc(dir: String): Unit =
    RpcRegistry.register("daily_stats", (sp, params) =>
      Tables.loadAny(sp, dir, "readings")
        .filter(col("date") === lit(params("day")))
        .groupBy("series")
        .agg(avg("value_mw").as("avg_mw"), min("value_mw").as("min_mw"),
          max("value_mw").as("max_mw"), count("value_mw").as("n")))

  final class Client(port: Int) {
    private val http = HttpClient.newBuilder()
      .version(HttpClient.Version.HTTP_1_1).build()
    def send(r: Req): (Int, String) = {
      val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port${r.path}"))
      val req = r.body.fold(b.GET())(s => b.POST(HttpRequest.BodyPublishers.ofString(s)))
      val resp = http.send(req.build(), HttpResponse.BodyHandlers.ofString())
      (resp.statusCode, resp.body)
    }
  }

  /** Requests measured for a run of `seconds`: one deck (about 10 s
    * at four clients on a 4-core machine) per 10 s asked for, rounded
    * up to whole decks so every run serves the stated mix. A fixed
    * count, not a deadline, so the sample, and with it the share of
    * each request's CPU that JIT and warm-up take, does not depend on
    * machine speed. */
  def measuredRequests(seconds: Double): Int =
    DeckSize * math.max(1, math.ceil(seconds / 10).toInt)

  /** Closed-loop phase of `n` requests, `n / clients` per client: returns
    * (request index, latency ms, ok) per request and the wall seconds.
    * A request that fails or returns a wrong body is not ok. */
  def load(seed: Long, reqs: IndexedSeq[Req], clients: Seq[Client],
      n: Int): (Seq[(Int, Double, Boolean)], Double) = {
    require(n % clients.size == 0, s"$n requests do not split over ${clients.size} clients")
    val t0 = System.nanoTime()
    val next = new java.util.concurrent.atomic.AtomicInteger(0)
    val samples = ClosedLoop.run(clients.size, 0.0, n / clients.size) { (c, _) =>
      val i = draw(seed, next.getAndIncrement())
      (i, clients(c).send(reqs(i)))
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val verdict = scala.collection.mutable.Map.empty[(Int, String), Boolean]
    (samples.map { s =>
      val ok = s.reply.exists { case (i, (code, body)) =>
        code == 200 && verdict.getOrElseUpdate((i, body), matches(body, reqs(i).rows))
      }
      (s.reply.map(_._1).getOrElse(-1), s.latencyMs, ok)
    }, wall)
  }

  /** Latencies with failures as +∞: a failed request misses any limit. */
  private def lat(xs: Seq[(Int, Double, Boolean)]): Seq[Double] =
    xs.map(x => if (x._3) x._2 else Double.PositiveInfinity)

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    val reps = (0 until 3).map(r => Bench.timed(land(spark, ctx.dir(s"dashboard-$r"), ctx.seed)))
    val dir = reps.last._1
    val (w0, c0) = (System.nanoTime(), Bench.cpuNs())
    val reqs = (0 until Universe).map(request(ctx.seed, _))
    registerRpc(dir)
    val server = new RestServer(spark, Map("grid" -> dir), "grid")
    val port = server.start()
    try {
      val clients = (0 until Clients).map(_ => new Client(port))
      // warm-up: every request shape twice, checked
      val bad = Shapes.indices.flatMap(s => Seq(reqs(s * PerShape), reqs(s * PerShape + 1))).count { r =>
        val (code, body) = clients.head.send(r)
        val ok = code == 200 && matches(body, r.rows)
        if (!ok) ctx.log(s"warm-up mismatch on ${r.shape} ${r.path}: $code ${body.take(300)}")
        !ok
      }
      val (warmWall, warmCpu) = ((System.nanoTime() - w0) / 1e9, (Bench.cpuNs() - c0) / 1e9)
      val setupS = ctx.sessionCpuS + Stats.median(reps.map(_._3)) + warmCpu
      ctx.log(f"setup CPU s: session ${ctx.sessionCpuS}%.2f, land ${reps.map(r => f"${r._3}%.2f").mkString(",")}, warm $warmCpu%.2f; " +
        f"wall s: land ${reps.map(r => f"${r._2}%.2f").mkString(",")}, warm $warmWall%.2f")
      val out = new Stats.Outcome
      if (!ctx.trace) {
        val ((rs, wall), _, cpuS) = Bench.timed(load(ctx.seed, reqs, clients, measuredRequests(ctx.seconds)))
        rs.foreach(r => out.attempt(r._3))
        if (bad > 0) out.invalidate(out.attempted)
        val l = lat(rs)
        ctx.log(f"wall: ${rs.size} requests in $wall%.2f s, p50 ${Stats.median(l)}%.0f ms, " +
          f"${rs.count(_._3) / wall}%.2f/s, failed ${out.failed}; ${Stats.describeTail(l)}")
        ctx.log("p50 by shape: " + rs.groupBy(x => reqs(x._1).shape).map { case (k, v) => f"$k ${Stats.median(v.map(_._2))}%.0f (${v.size})" }.mkString(", "))
        Result(out.attempted, out.failed, bad == 0 && out.failed == 0, Seq(
          ("cpu_ms_per_op", cpuS * 1e3 / math.max(1, rs.size), "ms"),
          ("live_heap_mb", Bench.liveHeapMb(), "MB"),
          ("setup_s", setupS, "s")))
      } else traced(ctx, dir, reqs, clients, bad, out)
    } finally server.stop()
  }

  private def traced(ctx: Ctx, dir: String, reqs: IndexedSeq[Req],
      clients: Seq[Client], bad0: Int, out: Stats.Outcome): Result = {
    val spark = ctx.spark
    // four phases over one request of every shape, each at least one
    // full round: 1 client untraced, 4 clients untraced, 1 client
    // traced, then the same calls in-process
    val shapes = onePerShape(reqs)
    val slice = ctx.seconds / 4
    var perSecond = Map.empty[Int, Double] // clients -> completed requests per wall second
    def round(clients: Seq[Client], tr: Tracer) = {
      val samples = ClosedLoop.run(clients.size, slice, shapes.size / clients.size) { (c, j) =>
        val i = (c + j * clients.size) % shapes.size
        (i, tr.op("serving.request")(clients(c).send(shapes(i))))
      }
      val wallS = (samples.map(_.endNs).max - samples.map(_.startNs).min) / 1e9
      perSecond += clients.size -> samples.size / wallS
      samples.map(s => s.reply match {
        case Some((i, (code, body))) => (i, s.latencyMs, code == 200 && matches(body, shapes(i).rows))
        case None => (-1, s.latencyMs, false)
      })
    }
    val off = new Tracer(false)
    val one = round(clients.take(1), off)
    val four = round(clients, off)
    val scale = perSecond(Clients) / perSecond(1)
    val tr = new Tracer(true)
    val clock = new Report.Clock
    val probe = new Probe(spark)
    probe.start()
    val cg0 = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
    val oneT = round(clients.take(1), tr)
    val cg1 = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
    Tables.registerDiscovered(spark, dir) // the /sql path's view registration
    // in-process: the server's calls made directly, one span per layer
    val inproc = ClosedLoop.run(1, slice, shapes.size) { (_, j) =>
      val i = j % shapes.size
      val r = shapes(i)
      val body = tr.op("dashboard.inproc") {
        val df: DataFrame = r.body match {
          case Some(sql) =>
            val params = r.path.split('?')(1).split('&').map { kv =>
              val Array(k, x) = kv.split("=", 2); k -> java.net.URLDecoder.decode(x, "UTF-8")
            }.toMap
            val expanded = tr.span("functions.macro_expand") {
              GrafanaMacros.expand(GrafanaMacros.substituteVars(sql,
                params.collect { case (k, x) if k.startsWith("var_") => k.drop(4) -> x }),
                params("from"), params("to"), params("interval"))
            }
            tr.span("spark.sql")(spark.sql(expanded))
          case None if r.path.startsWith("/rpc/") =>
            tr.span("operators.rest_plan")(RpcRegistry.dispatch(spark, r.path))
          case None =>
            val Array(p, q) = r.path.stripPrefix("/").split("\\?", 2)
            val t = tr.span("sources.table_open")(Tables.loadAny(spark, dir, p))
            tr.span("operators.rest_plan")(RestQuery(t, q))
        }
        tr.span("serving.rows_json")("[" + df.limit(10000).toJSON.collect().mkString(",") + "]")
      }
      (i, body)
    }
    probe.quiesce()
    probe.stop()

    Seq(one, four, oneT).foreach(_.foreach(r => out.attempt(r._3)))
    inproc.foreach(s => out.attempt(s.reply.exists { case (i, b) => matches(b, shapes(i).rows) }))
    if (bad0 > 0) out.invalidate(out.attempted)
    val spans = Trace.nest(tr.spans, Report.phaseSpans(tr, clock, probe))
    val httpOps = spans.filter(s => s.parent == 0 && s.name == "serving.request")
    def byShape(xs: Seq[(Int, Double, Boolean)]): Map[String, Double] =
      xs.filter(_._3).groupBy(x => shapes(x._1).shape).map { case (k, v) => k -> Stats.median(v.map(_._2)) }
    val inprocRs = inproc.flatMap(s => s.reply.map(r => (r._1, s.latencyMs, true)))
    val (m1, m4, mi) = (byShape(one), byShape(four), byShape(inprocRs))
    def diff(a: Map[String, Double], b: Map[String, Double]): Double = {
      val ks = a.keySet.intersect(b.keySet).toSeq
      if (ks.isEmpty) 0.0 else Stats.median(ks.map(k => a(k) - b(k)))
    }
    val split = Report.layerSplit(spans, Set("dashboard.inproc"))
    Report.predict(ctx.log, split,
      "spark driver phases plus serving are most of dashboard latency",
      Seq("spark", "serving"))
    ctx.log(f"trace: per-shape p50 ms, 1 client ${fmt(m1)}; 4 clients ${fmt(m4)}; in-process ${fmt(mi)}")
    val mean = (n: String) => Report.meanMs(spans, n)
    Result(out.attempted, out.failed, bad0 == 0 && out.failed == 0,
      Report.sparkMetrics(httpOps, clock, probe, cg1 - cg0, ctx.cores) ++
      split ++ Report.reconcile(spans, "serving.request", one.map(_._2), ctx.log) ++ Seq(
        ("sources.table_open_ms", mean("sources.table_open"), "ms"),
        ("functions.macro_expand_us", mean("functions.macro_expand") * 1e3, "us"),
        ("operators.rest_plan_ms", mean("operators.rest_plan"), "ms"),
        ("serving.queue_wait_ms", diff(m4, m1), "ms"),
        ("serving.overhead_ms", diff(m1, mi), "ms"),
        ("serving.scale_4v1", scale, "ratio"),
        ("ingest.files_per_partition",
          Report.filesPerPartition(java.nio.file.Paths.get(dir, "readings.parquet")), "count"),
        ("spark.leaked_mb", Bench.heldStorageMb(spark), "MB")))
  }

  private def fmt(m: Map[String, Double]): String =
    m.toSeq.sorted.map { case (k, v) => f"$k $v%.0f" }.mkString(", ")

}
