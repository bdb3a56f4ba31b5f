package perfbench

import java.nio.file.Path
import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.LocaleFuncs
import graft.ingest.{ContinuousAggregate, IngestDataset, Watermark}
import graft.sources.CsvDialects

/** `crawl`: a single writer runs crawl cycles over seeded vendor-dialect
  * CSV files, one file per crawled day overlapping the previous day.
  * A cycle parses, resumes from the watermark, appends, and refreshes
  * an hourly rollup; every [[RevisionEvery]]-th cycle (from cycle 1)
  * also re-crawls a revision window; cycle 0 adds a column; the run
  * ends with compaction. One operation is a cycle. */
object Crawl {

  val Series = 32
  val BackfillDays = 3 // landed at set-up, before the first cycle
  val RevisionEvery = 3
  val RevisionDays = 2
  /** Cycles run as warm-up: the schema change (cycle 0), two revisions
    * (1 and 4) and two plain cycles, so every code path of a measured
    * cycle has run and been compiled; with fewer, the JIT's CPU still
    * falls into the measured cycles and spreads them. */
  val WarmCycles = 5

  /** Measured cycles for a run of `seconds`: one revision period (a
    * revision and two plain cycles, about 5 s on a 4-core machine) per
    * 5 s asked for. A fixed count, not a deadline, so the sample, and
    * with it the per-cycle figure, does not depend on machine speed. */
  def measuredCycles(seconds: Double): Int =
    RevisionEvery * math.max(1, math.round(seconds / 5).toInt)

  /** Safety limit on the measured cycles' wall time: past it no further
    * cycle starts, so a run on a much slower machine still ends. */
  def safetyS(seconds: Double): Double = math.max(60.0, 8 * seconds)

  private def dayStart(day: Int): Timestamp =
    Timestamp.valueOf(Gen.dayDate(day).atStartOfDay())

  /** Vendor CSV → typed batch: the dialect scanner, the German number
    * parser and the zone-labelled timestamp composer. */
  def parse(spark: SparkSession, path: String, withQuality: Boolean): DataFrame = {
    val raw = CsvDialects.germanCsv(spark, path)
    val cols = Seq(
      LocaleFuncs.composeUtcTimestamp(col("Datum"), col("von"), col("Zeitzone von")).as("ts"),
      col("Serie").as("series"),
      LocaleFuncs.germanDouble(col("Wert (MW)")).as("value_mw")) ++
      (if (withQuality) Seq(col("Qualität").as("quality")) else Nil)
    raw.select(cols: _*)
  }

  /** A crawler's landing state: the dataset, its rollup, and what the
    * source has published for every landed day (revision, and whether
    * the file carried the quality column). */
  final class Site(spark: SparkSession, val root: Path, seed: Long) {
    val ingest = new IngestDataset(spark, root.resolve("warehouse").toString, "crawl")
    val rollup = new ContinuousAggregate(ingest, "readings", "readings_hourly",
      "ts", "hour", Seq("series"),
      Seq(avg("value_mw").as("avg_mw"), count("value_mw").as("n"),
        max("value_mw").as("max_mw")))
    val published = mutable.Map.empty[Int, (Int, Boolean)]
    var csvBytes = 0L
    var rowsLanded = 0L
    private val files = root.resolve("files")

    /** Initial backfill of days [0, BackfillDays). */
    def backfill(): Unit = {
      val f = Gen.revisionFile(files, seed, Series, -1,
        0 until BackfillDays, 0, withQuality = false)
      csvBytes += f.bytes
      ingest.append("readings", parse(spark, f.path.toString, withQuality = false),
        partitionTs = Some("ts"), pk = Seq("series", "ts"))
      rollup.refresh(dayStart(0), dayStart(BackfillDays))
      (0 until BackfillDays).foreach(d => published(d) = (0, false))
      rowsLanded += f.rows
    }

    /** Crawl cycle `i` (0-based after the backfill), traced through `tr`;
      * `timed` receives its wall and process CPU milliseconds. Input
      * files are generated before the cycle's clocks start. */
    def cycle(i: Int, tr: Tracer, timed: (Double, Double) => Unit,
        opName: String = "crawl.cycle"): Unit = {
      val day = BackfillDays + i
      val q = hasQuality(day)
      val f = Gen.crawlFile(files, seed, Series, day, q)
      val revise = i % RevisionEvery == 1
      val revDays = (day - RevisionDays until day).toSeq
      val rf = if (revise)
        Some(Gen.revisionFile(files, seed, Series, day, revDays, day, q)) else None
      val (t0, c0) = (System.nanoTime(), Bench.cpuNs())
      tr.op(opName) {
        val batch = tr.span("sources.csv_open")(parse(spark, f.path.toString, q))
        val wm = tr.span("ingest.watermark")(Watermark.maxTs(ingest, "readings", "ts"))
        val fresh = wm.fold(batch)(w => batch.filter(col("ts") > lit(w)))
        if (i == 0)
          tr.span("ingest.evolve")(ingest.appendEvolve("readings", fresh, Some("ts")))
        else tr.span("ingest.append")(ingest.append("readings", fresh,
          partitionTs = Some("ts"), pk = Seq("series", "ts")))
        tr.span("ingest.rollup_refresh")(rollup.refresh(dayStart(day), dayStart(day + 1)))
        rf.foreach { r =>
          val rb = tr.span("sources.csv_open")(parse(spark, r.path.toString, q))
          tr.span("ingest.replace_window")(ingest.replaceWindow("readings", rb, "ts",
            dayStart(revDays.head), dayStart(day)))
          tr.span("ingest.rollup_refresh")(rollup.refresh(dayStart(revDays.head), dayStart(day)))
        }
      }
      timed((System.nanoTime() - t0) / 1e6, (Bench.cpuNs() - c0) / 1e6)
      published(day) = (0, q)
      rf.foreach(_ => revDays.foreach(d => published(d) = (day, q)))
      csvBytes += f.bytes + rf.map(_.bytes).getOrElse(0L)
      rowsLanded += Series.toLong * Gen.SlotsPerDay
    }

    def compact(tr: Tracer): Int = tr.op("crawl.compact") {
      tr.span("ingest.compact")(ingest.compact("readings", maxFilesPerPartition = 1))
    }

    /** What the source published for every landed point, from the
      * generator: (epoch ms, series) -> (value, quality). */
    def expected(): Map[(Long, String), (Option[Double], Option[String])] =
      published.toSeq.flatMap { case (day, (rev, q)) =>
        for (slot <- 0 until Gen.SlotsPerDay; s <- 0 until Series) yield
          (dayStart(day).getTime + slot * 15L * 60000L, Gen.seriesName(s)) -> (
            Gen.pointCents(seed, s, day, slot, rev).map(_ / 100.0),
            if (q) Some(Gen.quality(seed, s, day, slot)) else None)
      }.toMap

    /** Failed checks: the table equals the published source exactly;
      * the rollup equals a recompute from that source (averages to a
      * relative 1e-9, counts and maxima exactly). */
    def check(log: String => Unit): Int = {
      val want = expected()
      val rows = ingest.read("readings").select("ts", "series", "value_mw", "quality")
        .collect().map(r => (r.getTimestamp(0).getTime, r.getString(1)) -> (
          Option(r.get(2)).map(_.asInstanceOf[Double]), Option(r.getString(3))))
      var bad = 0
      val got = rows.toMap
      if (rows.length != got.size || got != want) {
        log(s"crawl table: ${rows.length} rows (${got.size} keys), " +
          s"${want.size} published, ${want.count { case (k, v) => !got.get(k).contains(v) }} differ")
        bad += 1
      }
      val buckets = want.groupBy { case ((ts, s), _) => (s, ts - Math.floorMod(ts, 3600000L)) }
      val have = rollup.read().select("series", "bucket", "avg_mw", "n", "max_mw").collect()
      val wrong = have.count { r =>
        buckets.get((r.getString(0), r.getTimestamp(1).getTime)) match {
          case None => true
          case Some(pts) =>
            val vs = pts.values.flatMap(_._1).toSeq
            val avgOk = if (vs.isEmpty) r.isNullAt(2)
              else !r.isNullAt(2) && math.abs(r.getDouble(2) - vs.sum / vs.size) <= math.abs(vs.sum / vs.size) * 1e-9
            !(avgOk && r.getLong(3) == vs.size && Option(r.get(4)) == vs.maxOption)
        }
      } + math.abs(buckets.size - have.length)
      if (wrong > 0) { log(s"crawl rollup: $wrong buckets differ from a recompute"); bad += 1 }
      bad
    }
  }

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    val reps = (0 until 3).map { r =>
      Bench.timed {
        val site = new Site(spark, ctx.dir(s"crawl-site-$r"), ctx.seed)
        site.backfill()
        site
      }
    }
    val site = reps.last._1
    val off = new Tracer(false)
    val tr = new Tracer(ctx.trace)
    val clock = new Report.Clock
    val probe = new Probe(spark)
    if (ctx.trace) probe.start()
    // warm-up: the first cycles, which carry the schema change and two
    // revisions; a traced run traces them, as the schema change happens
    // only there
    val (_, warmWall, warmCpu) = Bench.timed {
      (0 until WarmCycles).foreach(i => site.cycle(i, tr, (_, _) => (), "crawl.warm"))
    }
    val setupS = ctx.sessionCpuS + Stats.median(reps.map(_._3)) + warmCpu
    ctx.log(f"setup CPU s: session ${ctx.sessionCpuS}%.2f, backfill ${reps.map(r => f"${r._3}%.2f").mkString(",")}, warm $warmCpu%.2f; " +
      f"wall s: backfill ${reps.map(r => f"${r._2}%.2f").mkString(",")}, warm $warmWall%.2f")

    val out = new Stats.Outcome
    val cg0 = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
    val lat = mutable.ArrayBuffer.empty[Double]
    val cpu = mutable.ArrayBuffer.empty[Double]
    val csv0 = site.csvBytes
    val rows0 = site.rowsLanded
    val start = System.nanoTime()
    val stop = start + (safetyS(ctx.seconds) * 1e9).toLong
    val last = WarmCycles + measuredCycles(ctx.seconds)
    var i = WarmCycles
    var failedHard = false
    while (i < last && !failedHard && System.nanoTime() < stop) {
      try { site.cycle(i, tr, (w, c) => { lat += w; cpu += c }); out.attempt(true) }
      catch { case e: Exception =>
        ctx.log(s"cycle $i failed: $e"); out.attempt(false); failedHard = true }
      i += 1
    }
    val compactOk = try { site.compact(tr); true }
      catch { case e: Exception => ctx.log(s"compact failed: $e"); false }
    if (i < last && !failedHard)
      ctx.log(f"safety limit of ${safetyS(ctx.seconds)}%.0f s reached after ${i - WarmCycles} cycles")
    val wall = (System.nanoTime() - start) / 1e9
    val cg1 = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
    val bad = (if (compactOk && !failedHard) site.check(ctx.log) else 1)
    if (bad > 0) out.invalidate(out.attempted)
    ctx.log(f"cycles ${lat.size}: ${lat.map(x => f"$x%.0f").mkString(",")} ms; wall $wall%.2f s")

    if (!ctx.trace) {
      val heap = Bench.liveHeapMb()
      ctx.log(f"CPU per cycle ${cpu.map(x => f"$x%.0f").mkString(",")} ms; wall: cycle p50 ${Stats.median(lat.toSeq)}%.0f ms, ${(site.rowsLanded - rows0) / wall}%.0f rows/s; " +
        Stats.describeTail(lat.toSeq))
      Result(out.attempted, out.failed, bad == 0 && out.failed == 0, Seq(
        ("cpu_ms_per_op", cpu.sum / math.max(1, cpu.size), "ms"),
        ("live_heap_mb", heap, "MB"),
        ("setup_s", setupS, "s")))
    } else {
      // the CSV scan on its own: re-parse the last crawled files to a
      // noop sink (inside a cycle the parse is fused into the append)
      val files = (i - 3 until i).map(j => BackfillDays + j)
      files.foreach { d =>
        val p = site.root.resolve(f"files/crawl_$d%04d.csv").toString
        tr.op("crawl.parse")(tr.span("sources.csv_parse")(
          parse(spark, p, hasQuality(d)).write.format("noop").mode("overwrite").save()))
      }
      // as many further cycles untraced: the tracing overhead compares
      // cycles without a revision on both sides
      val plain = mutable.ArrayBuffer.empty[(Int, Double)]
      (i until i + lat.size).foreach(j => site.cycle(j, off, (t, _) => plain += (j -> t)))
      def normal(xs: Seq[(Int, Double)]) =
        xs.filter(x => x._1 % RevisionEvery != 1).map(_._2)
      // the expressions layer, which no crawl step reaches: kernel-only
      // passes over seeded vectors
      val kernels = Kernels.run(spark, ctx.seed, ctx.cores, tr, out, ctx.log)
      probe.quiesce()
      probe.stop()
      val spans = Trace.nest(tr.spans, Report.phaseSpans(tr, clock, probe))
      val cycles = spans.filter(s => s.parent == 0 && s.name == "crawl.cycle")
        .sortBy(_.startNs)
      val wmByCycle = cycles.map(c =>
        spans.filter(s => s.op == c.op && s.name == "ingest.watermark").map(_.durNs).sum.toDouble)
      val tenth = math.max(1, wmByCycle.size / 10)
      val growth = wmByCycle.takeRight(tenth).sum / math.max(1.0, wmByCycle.take(tenth).sum)
      // the split covers the workload's own operations; the kernel
      // passes are reported by their expressions.* metrics instead
      val split = Report.layerSplit(spans, Set("crawl.cycle", "crawl.compact"))
      Report.predict(ctx.log, split, "ingest plus sources are most of crawl",
        Seq("ingest", "sources"))
      val written = Report.bytesWritten(
        spans.filter(s => s.parent == 0 && (s.name == "crawl.cycle" || s.name == "crawl.compact")),
        clock, probe)
      Result(out.attempted, out.failed, bad == 0 && out.failed == 0,
        Report.sparkMetrics(cycles, clock, probe, cg1 - cg0, ctx.cores) ++
        split ++ kernels ++ Report.reconcile(spans, "crawl.cycle", normal(plain.toSeq), ctx.log,
          op => !spans.exists(x => x.op == op.op && x.name == "ingest.replace_window")) ++ Seq(
          ("sources.csv_parse_s", Report.meanMs(spans, "sources.csv_parse") / 1e3, "s"),
          ("ingest.append_s", Report.meanMs(spans, "ingest.append") / 1e3, "s"),
          ("ingest.watermark_s", Report.meanMs(spans, "ingest.watermark") / 1e3, "s"),
          ("ingest.rollup_refresh_s", Report.meanMs(spans, "ingest.rollup_refresh") / 1e3, "s"),
          ("ingest.replace_window_s", Report.meanMs(spans, "ingest.replace_window") / 1e3, "s"),
          ("ingest.evolve_s", Report.meanMs(spans, "ingest.evolve") / 1e3, "s"),
          ("ingest.compact_s", Report.meanMs(spans, "ingest.compact") / 1e3, "s"),
          ("ingest.watermark_growth", growth, "ratio"),
          ("ingest.write_amplification", written.toDouble / math.max(1L, site.csvBytes - csv0), "ratio"),
          ("ingest.files_per_partition",
            Report.filesPerPartition(java.nio.file.Paths.get(site.ingest.tablePath("readings"))), "count"),
          ("spark.leaked_mb", Bench.heldStorageMb(spark), "MB")))
    }
  }

  /** Files from the first crawled day on carry the quality column. */
  private def hasQuality(day: Int): Boolean = day >= BackfillDays
}
