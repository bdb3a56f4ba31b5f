package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.LocalDate

/** Seeded input generator for the benchmark's workloads.
  *
  * Every value is a pure function of (seed, coordinates) through a
  * SplitMix64 finalizer, so a file's bytes never depend on generation
  * order, thread count or how many files were generated before it. The
  * generator writes only plain text files under the directory it is
  * given; landing them into parquet is the workloads' job.
  */
object Gen {

  /** SplitMix64 finalizer over a seed and up to four coordinates. */
  def mix(seed: Long, a: Long, b: Long = 0L, c: Long = 0L,
      d: Long = 0L): Long = {
    var z = seed * 0x9E3779B97F4A7C15L
    for (v <- Seq(a, b, c, d)) {
      z += v + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z = z ^ (z >>> 31)
    }
    z
  }

  /** Uniform double in [0, 1) from a mixed value. */
  def unit(h: Long): Double = (h >>> 11).toDouble / (1L << 53).toDouble

  private def write(path: Path, text: String): Long = {
    Files.createDirectories(path.getParent)
    val bytes = text.getBytes(StandardCharsets.UTF_8)
    Files.write(path, bytes)
    bytes.length.toLong
  }

  val SlotsPerDay = 96 // 15-minute resolution
  val Epoch: LocalDate = LocalDate.of(2024, 1, 1)

  def seriesName(s: Int): String = f"s$s%03d"

  /** Value of one 15-minute point in hundredths, or None for an `N.A.`
    * gap. `rev` is the revision a re-crawl publishes: each revision
    * shifts the value by a seeded amount, so a stale row never equals
    * its revised replacement. */
  def pointCents(seed: Long, series: Int, day: Int, slot: Int,
      rev: Int): Option[Long] = {
    val h = mix(seed, series, day, slot, 0)
    if (h % 61 == 0) None
    else {
      val base = 20000L + (mix(seed, series, 7, 7, 7) >>> 40) % 300000L
      val daily = (math.sin(2 * math.Pi * slot / SlotsPerDay) * base / 4).toLong
      val noise = (h >>> 44) % 5000L - 2500L
      val bump = rev.toLong * (1 + (mix(seed, series, day, slot, rev) >>> 50) % 977L)
      Some(math.max(0L, base + daily + noise + bump))
    }
  }

  /** German rendering: thousands dots, decimal comma (`12.345,67`). */
  def germanNumber(cents: Long): String = {
    val whole = cents / 100
    val frac = f"${cents % 100}%02d"
    val s = whole.toString
    val grouped = s.reverse.grouped(3).mkString(".").reverse
    s"$grouped,$frac"
  }

  def dayDate(day: Int): LocalDate = Epoch.plusDays(day.toLong)

  /** Quality flag carried by files written after the schema change. */
  def quality(seed: Long, series: Int, day: Int, slot: Int): String =
    if (mix(seed, series, day, slot, 99) % 17 == 0) "est" else "ok"

  val CsvHeader = "Datum;von;Zeitzone von;Serie;Wert (MW)"

  /** One vendor-dialect CSV (`;`, decimal comma, `N.A.` nulls) holding
    * whole days `days` for `series` series at revision `rev`. */
  def energyCsv(seed: Long, series: Int, days: Seq[Int], rev: Int,
      withQuality: Boolean): String = {
    val sb = new StringBuilder
    sb.append(CsvHeader)
    if (withQuality) sb.append(";Qualität")
    sb.append('\n')
    for (day <- days) {
      val d = dayDate(day)
      val datum = f"${d.getDayOfMonth}%02d.${d.getMonthValue}%02d.${d.getYear}%d"
      for (slot <- 0 until SlotsPerDay; s <- 0 until series) {
        sb.append(datum).append(';')
          .append(f"${slot / 4}%02d:${slot % 4 * 15}%02d").append(";UTC;")
          .append(seriesName(s)).append(';')
          .append(pointCents(seed, s, day, slot, rev).map(germanNumber)
            .getOrElse("N.A."))
        if (withQuality) sb.append(';').append(quality(seed, s, day, slot))
        sb.append('\n')
      }
    }
    sb.toString
  }

  final case class CrawlFile(path: Path, bytes: Long, rows: Long)

  /** Crawl file for `cycle`: the crawled day plus the previous one
    * (the overlap the watermark must skip). */
  def crawlFile(dir: Path, seed: Long, series: Int, cycle: Int,
      withQuality: Boolean): CrawlFile = {
    val days = Seq(cycle - 1, cycle).filter(_ >= 0)
    val p = dir.resolve(f"crawl_$cycle%04d.csv")
    CrawlFile(p, write(p, energyCsv(seed, series, days, 0, withQuality)),
      days.length.toLong * SlotsPerDay * series)
  }

  /** Revised re-crawl of whole days `days` at revision `rev`. */
  def revisionFile(dir: Path, seed: Long, series: Int, cycle: Int,
      days: Seq[Int], rev: Int, withQuality: Boolean): CrawlFile = {
    val p = dir.resolve(f"revision_$cycle%04d.csv")
    CrawlFile(p, write(p, energyCsv(seed, series, days, rev, withQuality)),
      days.length.toLong * SlotsPerDay * series)
  }

  /** Embedding-like vector `row`: `dim` floats in [0, 1), so every
    * cosine and dot product of two of them is positive. */
  def vector(seed: Long, row: Int, dim: Int): Array[Float] =
    Array.tabulate(dim)(k => unit(mix(seed, row, k, 0, 0x7ec)).toFloat)

  val Regions: IndexedSeq[String] = IndexedSeq("north", "east", "south", "west")

  def regionOf(seed: Long, series: Int): String =
    Regions((mix(seed, series, 11) >>> 33).toInt % Regions.length)

  /** Dashboard history (one CSV export of all days) plus the region
    * dimension. */
  def dashboardFiles(dir: Path, seed: Long, series: Int,
      days: Int): Seq[Path] = {
    val hist = dir.resolve("history/history.csv")
    write(hist, energyCsv(seed, series, 0 until days, 0, withQuality = false))
    val regions = dir.resolve("regions/regions.csv")
    write(regions, "Serie;Region;Name\n" + (0 until series).map { s =>
      s"${seriesName(s)};${regionOf(seed, s)};Messpunkt $s\n"
    }.mkString)
    Seq(hist, regions)
  }
}
