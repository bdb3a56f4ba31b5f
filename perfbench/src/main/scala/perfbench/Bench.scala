package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

import graft.GraftExtensions

/** What a workload hands back: operations attempted/failed, whether
  * every output check passed, and its metrics in print order. */
final case class Result(attempted: Long, failed: Long, correct: Boolean,
    metrics: Seq[(String, Double, String)])

/** Everything a workload needs from the harness. */
final case class Ctx(spark: SparkSession, work: Path, seed: Long,
    seconds: Double, trace: Boolean, cores: Int, sessionCpuS: Double) {
  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  /** Fresh directory under the run's scratch area. */
  def dir(name: String): Path = {
    val d = work.resolve(name)
    Bench.deleteTree(d)
    Files.createDirectories(d)
  }
}

object Bench {

  val Workloads: Map[String, Ctx => Result] = Map(
    "crawl" -> Crawl.run,
    "dashboard" -> Dashboard.run)

  /** Metrics of an untraced run, in print order. Times are process CPU
    * time, not wall time: on a shared host the wall clock also counts
    * the time other tenants take the processor, which moves run to run
    * by more than any bound worth setting (see meta.json). */
  val EndToEnd: Seq[(String, String)] = Seq(
    "cpu_ms_per_op" -> "ms", "live_heap_mb" -> "MB", "setup_s" -> "s")

  /** CPU time the whole JVM has used so far, in nanoseconds. */
  def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Run `body`; return its value, wall seconds and process CPU seconds. */
  def timed[T](body: => T): (T, Double, Double) = {
    val (w, c) = (System.nanoTime(), cpuNs())
    val v = body
    (v, (System.nanoTime() - w) / 1e9, (cpuNs() - c) / 1e9)
  }

  /** Metrics of a traced run. Every traced run prints all of them; a
    * layer a workload does not reach reads 0 there. */
  val PerLayer: Seq[(String, String)] = Seq(
    "sources.csv_parse_s" -> "s", "sources.table_open_ms" -> "ms",
    "sources.files_scanned" -> "count", "sources.bytes_scanned_per_row" -> "B",
    "functions.macro_expand_us" -> "us",
    "ingest.append_s" -> "s", "ingest.watermark_s" -> "s",
    "ingest.rollup_refresh_s" -> "s", "ingest.replace_window_s" -> "s",
    "ingest.evolve_s" -> "s", "ingest.compact_s" -> "s",
    "ingest.watermark_growth" -> "ratio", "ingest.write_amplification" -> "ratio",
    "ingest.files_per_partition" -> "count",
    "operators.rest_plan_ms" -> "ms",
    "expressions.cosine_ns_per_pair" -> "ns", "expressions.cosine_pairs" -> "count",
    "expressions.cosine_mb" -> "MB", "expressions.decimalfold_ns_per_term" -> "ns",
    "expressions.decimalfold_terms" -> "count", "expressions.decimalfold_mb" -> "MB",
    "serving.queue_wait_ms" -> "ms", "serving.overhead_ms" -> "ms",
    "serving.scale_4v1" -> "ratio",
    "spark.analysis_ms" -> "ms", "spark.optimization_ms" -> "ms",
    "spark.planning_ms" -> "ms", "spark.codegen_compile_ms" -> "ms",
    "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.driver_gap_s" -> "s",
    "spark.task_s" -> "s", "spark.busy_share" -> "share",
    "spark.shuffle_write_mb" -> "MB", "spark.fetch_wait_s" -> "s",
    "spark.spill_mb" -> "MB", "spark.peak_task_mem_mb" -> "MB", "spark.gc_s" -> "s",
    "spark.leaked_mb" -> "MB") ++
    Report.Layers.map(l => s"split.${l}_share" -> "share") ++ Seq(
    "trace.overhead_ms" -> "ms", "trace.unattributed_ms" -> "ms")

  /** Order a workload's metrics by the published list, fill layers it
    * does not reach with 0, and refuse names or units not in the list. */
  def complete(r: Result, trace: Boolean): Result = {
    val want = if (trace) PerLayer else EndToEnd
    val units = want.toMap
    r.metrics.foreach { case (n, _, u) =>
      require(units.get(n).contains(u), s"metric $n [$u] is not published")
    }
    val got = r.metrics.map(m => m._1 -> m._2).toMap
    if (!trace) require(want.forall(w => got.contains(w._1)),
      s"missing end-to-end metrics: ${want.map(_._1).filterNot(got.contains)}")
    r.copy(metrics = want.map { case (n, u) => (n, got.getOrElse(n, 0.0), u) })
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
      finally s.close()
    }

  /** The session a library caller builds: one local executor with a
    * task thread per core, UTC, shuffle partitions equal to the core
    * count, the library's extensions, and no `spark.graft.*` switch. */
  def session(work: Path, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Heap still reachable after a forced collection, in MiB. */
  def liveHeapMb(): Double = {
    val mx = ManagementFactory.getMemoryMXBean
    for (_ <- 0 until 3) { System.gc(); Thread.sleep(50) }
    mx.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  /** Block storage the session still holds, in MiB. */
  def heldStorageMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / (1024.0 * 1024.0)

  def json(r: Result): String = {
    def num(v: Double): String =
      if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
    val ms = r.metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${num(v)}, "unit": "$u"}"""
    }.mkString(", ")
    s"""{"correct": ${r.correct}, "attempted": ${r.attempted}, """ +
      s""""failed": ${r.failed}, "metrics": {$ms}}"""
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def need(k: String) = opts.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    val workload = need("workload")
    val body = Workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload '$workload'"))
    val work = Paths.get(need("work")).toAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors()
    deleteTree(work)
    Files.createDirectories(work)
    val spark = session(work, cores)
    // CPU since the JVM started: its own start-up plus the session's
    val ctx = Ctx(spark, work, need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", cores, cpuNs() / 1e9)
    val r = try body(ctx) finally {
      spark.stop()
      deleteTree(work)
    }
    println(json(complete(r, ctx.trace)))
  }
}
