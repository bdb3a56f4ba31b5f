package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.functions.{GrafanaMacros, TimeFuncs}
import graft.ingest.IngestDataset
import graft.operators.{RestQuery, RpcRegistry}
import graft.serving.RestServer
import graft.sources.CsvDialects

/** Minimal runnable walkthrough — the repo analog of the reference's
  * `docs/source/minimal_walkthrough/minimal_example_walkthrough.md`,
  * which demonstrates: add a dataset with a crawler, access it through
  * PostgREST (table endpoint + stored procedure), visualise it via
  * Grafana SQL. Here the same three acts run end-to-end in one JVM:
  *
  *   1. INGEST a vendor-dialect CSV (semicolon, comma decimals, N.A.
  *      nulls — the netztransparenz.py shape) through the dialect
  *      scanner into a date-partitioned parquet dataset with PK dedup.
  *   2. QUERY it with a dashboard template (time-bucketed aggregate),
  *      the PostgREST URL algebra, and a registered RPC procedure.
  *   3. SERVE it over HTTP: table endpoint, /rpc, and a POST /sql
  *      Grafana panel with macro expansion — then curl ourselves.
  *
  * Run: `sbt "runMain graft.Demo"` (no external services, ~30 s).
  */
object Demo {

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    TimeFuncs.register(spark)
    val work = Files.createTempDirectory("graft_demo").toString
    println(s"[demo] working dir: $work")

    // ---- 1. ingest a vendor-dialect CSV --------------------------------
    val csv = Paths.get(work, "hochrechnung.csv")
    Files.write(csv, (
      "Datum;Stunde;50Hertz (MW);Amprion (MW);TenneT (MW);TransnetBW (MW)\n" +
        (0 until 48).map { h =>
          val day = 1 + h / 24
          val a = f"${1200.5 + h * 3}%.1f".replace('.', ',')
          val b = if (h % 11 == 7) "N.A."
            else f"${900.25 + h * 2}%.2f".replace('.', ',')
          f"0$day%d.01.2024;${h % 24}%02d:00;$a;$b;${700 + h};${450 + h}\n"
        }.mkString).getBytes(StandardCharsets.UTF_8))
    val raw = CsvDialects.germanCsv(spark, csv.toString)
    val de = graft.functions.LocaleFuncs.germanDouble _
    val batch = raw
      .withColumn("ts", to_timestamp(
        concat(col("Datum"), lit(" "), col("Stunde")), "dd.MM.yyyy HH:mm"))
      .select(col("ts"),
        de(col("50Hertz (MW)")).as("hertz50_mw"),
        de(col("Amprion (MW)")).as("amprion_mw"),
        de(col("TenneT (MW)")).as("tennet_mw"),
        de(col("TransnetBW (MW)")).as("transnetbw_mw"))
    val ingest = new IngestDataset(spark, s"$work/warehouse", "demo")
    ingest.append("solar_extrapolation", batch,
      partitionTs = Some("ts"), pk = Seq("ts"))
    val table = ingest.read("solar_extrapolation")
    println(s"[demo] ingested ${table.count()} rows, " +
      s"partitions: ${table.select("ts").agg(
        countDistinct(to_date(col("ts")))).head.getLong(0)} days")

    // ---- 2. query: dashboard template, PostgREST algebra, RPC ---------
    table.createOrReplaceTempView("solar_extrapolation")
    println("[demo] Q1 time-bucketed dashboard aggregate:")
    spark.sql(
      """SELECT time_bucket('6 hours', ts) AS bucket,
        |  round(avg(hertz50_mw), 2) AS avg_50hertz_mw,
        |  round(avg(coalesce(amprion_mw, 0)), 2) AS avg_amprion_mw
        |FROM solar_extrapolation GROUP BY 1 ORDER BY 1""".stripMargin)
      .show(8, truncate = false)

    println("[demo] PostgREST URL algebra " +
      "(?select=ts,hertz50_mw&hertz50_mw=gte.1300&order=ts.desc&limit=3):")
    RestQuery(table,
      "select=ts,hertz50_mw&hertz50_mw=gte.1300&order=ts.desc&limit=3")
      .show(truncate = false)

    RpcRegistry.register("daily_mean", (spark2, params) => {
      val day = params.getOrElse("day", "2024-01-01")
      spark2.table("solar_extrapolation")
        .filter(to_date(col("ts")) === lit(day))
        .agg(round(avg(col("hertz50_mw")), 2).as("mean_mw"),
          count(lit(1)).as("n_hours"))
    })
    println("[demo] RPC /rpc/daily_mean?day=2024-01-02:")
    RpcRegistry.dispatch(spark, "/rpc/daily_mean?day=2024-01-02")
      .show(truncate = false)

    // ---- 3. serve over HTTP and visit ourselves ------------------------
    // flat parquet copies: the serving profile maps table names to
    // <dir>/<name>.parquet, the same layout the test corpus uses
    val served = s"$work/served"
    table.coalesce(1).write.parquet(s"$served/solar_extrapolation.parquet")
    val server = new RestServer(spark,
      profiles = Map("demo" -> served), defaultProfile = "demo")
    val port = server.start()
    val http = HttpClient.newHttpClient()
    def get(pathQ: String): String =
      http.send(HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:$port$pathQ")).GET().build(),
        HttpResponse.BodyHandlers.ofString()).body()
    def postSql(q: String, sql: String): String =
      http.send(HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:$port/sql$q"))
        .POST(HttpRequest.BodyPublishers.ofString(sql)).build(),
        HttpResponse.BodyHandlers.ofString()).body()
    println(s"[demo] REST catalog @ :$port -> ${get("/")}")
    println("[demo] GET /solar_extrapolation?select=ts,tennet_mw&limit=2 -> " +
      get("/solar_extrapolation?select=ts,tennet_mw&order=ts&limit=2"))
    val panel =
      """SELECT $__timeGroupAlias(ts,$__interval),
        |  avg(hertz50_mw) AS "50hertz"
        |FROM solar_extrapolation WHERE $__timeFilter(ts)
        |GROUP BY 1 ORDER BY 1 LIMIT 2""".stripMargin
    println("[demo] POST /sql (Grafana panel, macro-expanded) -> " +
      postSql("?from=2024-01-01%2000:00:00&to=2024-01-03%2000:00:00" +
        "&interval=12h", panel))
    server.stop()
    println("[demo] walkthrough complete")
    spark.stop()
  }
}
