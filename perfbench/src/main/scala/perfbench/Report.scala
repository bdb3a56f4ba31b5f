package perfbench

/** Turns recorded spans and engine events into per-layer metrics. */
object Report {

  type Metrics = Seq[(String, Double, String)]

  /** Clock bridge: listener events carry wall-clock milliseconds, spans
    * carry `System.nanoTime`. */
  final class Clock {
    private val wallMs0 = System.currentTimeMillis()
    private val nano0 = System.nanoTime()
    def ns(ms: Long): Long = nano0 + (ms - wallMs0) * 1000000L
  }

  /** The library modules the workloads call, the engine under them,
    * and the benchmark's own glue between calls. */
  val Layers: Seq[String] = Seq("sources", "functions", "ingest",
    "operators", "expressions", "serving", "spark", "bench")

  /** The engine's driver phases of every action, as loose spans to be
    * nested under the traced spans that issued them. */
  def phaseSpans(tr: Tracer, clock: Clock, probe: Probe): Seq[Span] = {
    import scala.jdk.CollectionConverters._
    probe.actions.asScala.toSeq.flatMap { a =>
      a.phases.toSeq.collect {
        case (p, (s, e)) if Set("analysis", "optimization", "planning")(p) =>
          Span(tr.nextId(), 0L, 0L, s"spark.$p", clock.ns(s), clock.ns(e))
      }
    }
  }

  /** Share of the traced operations' time spent in each layer's own
    * code (self time), over the operations whose top-level span name
    * is in `opNames`. Engine driver phases count as `spark`. */
  def layerSplit(all: Seq[Span], opNames: Set[String]): Metrics = {
    val ops = all.filter(s => s.parent == 0 && opNames(s.name))
    val opIds = ops.map(_.op).toSet
    val inOps = all.filter(s => opIds(s.op))
    val self = Trace.layerSelf(inOps.map(s =>
      if (s.parent == 0) s.copy(name = "bench." + s.name) else s))
    val total = math.max(1L, ops.map(_.durNs).sum)
    Layers.map { l =>
      (s"split.${l}_share", self.getOrElse(l, 0L).toDouble / total, "share")
    }
  }

  /** Engine metrics per operation over the given top-level spans.
    * An action, job or task belongs to the operation whose interval
    * contains its end. */
  def sparkMetrics(ops: Seq[Span], clock: Clock, probe: Probe,
      codegenNs: Long, cores: Int): Metrics = {
    import scala.jdk.CollectionConverters._
    val n = math.max(1, ops.size).toDouble
    def within(ms: Long): Boolean = {
      val t = clock.ns(ms)
      ops.exists(o => o.startNs <= t && t <= o.endNs)
    }
    val acts = probe.actions.asScala.toSeq.filter(a => within(a.endMs))
    val jobs = probe.jobs.asScala.toSeq.filter(j => within(j.endMs))
    val tasks = probe.tasks.asScala.toSeq.filter(t => within(t.finishMs))
    def phase(p: String) = acts.map(a =>
      a.phases.get(p).map(x => x._2 - x._1).getOrElse(0L)).sum / n
    val gapMs = acts.map { a =>
      val inA = jobs.filter(j => j.startMs >= a.startMs && j.endMs <= a.endMs)
      (a.endMs - a.startMs) - Trace.unionLength(inA.map(j => (j.startMs, j.endMs)))
    }.sum
    val wallS = ops.map(_.durNs).sum / 1e9
    val taskS = tasks.map(_.runMs).sum / 1000.0
    val mb = 1024.0 * 1024.0
    val files = acts.map(_.files).sum
    val rows = acts.map(_.rows).sum
    Seq(
      ("spark.analysis_ms", phase("analysis"), "ms"),
      ("spark.optimization_ms", phase("optimization"), "ms"),
      ("spark.planning_ms", phase("planning"), "ms"),
      ("spark.codegen_compile_ms", codegenNs / 1e6 / n, "ms"),
      ("spark.jobs", jobs.size / n, "count"),
      ("spark.tasks", tasks.size / n, "count"),
      ("spark.driver_gap_s", gapMs / 1000.0 / n, "s"),
      ("spark.task_s", taskS / n, "s"),
      ("spark.busy_share", if (wallS > 0) taskS / (wallS * cores) else 0.0, "share"),
      ("spark.shuffle_write_mb", tasks.map(_.shuffleWrite).sum / mb / n, "MB"),
      ("spark.fetch_wait_s", tasks.map(_.fetchWaitMs).sum / 1000.0 / n, "s"),
      ("spark.spill_mb", tasks.map(_.spill).sum / mb / n, "MB"),
      ("spark.peak_task_mem_mb",
        if (tasks.isEmpty) 0.0 else tasks.map(_.peakMem).max / mb, "MB"),
      ("spark.gc_s", tasks.map(_.gcMs).sum / 1000.0 / n, "s"),
      ("sources.files_scanned", files / n, "count"),
      ("sources.bytes_scanned_per_row",
        if (rows > 0) acts.map(_.bytes).sum.toDouble / rows else 0.0, "B"))
  }

  /** Bytes the engine's tasks wrote inside the given operations. */
  def bytesWritten(ops: Seq[Span], clock: Clock, probe: Probe): Long = {
    import scala.jdk.CollectionConverters._
    probe.tasks.asScala.toSeq.filter { t =>
      val x = clock.ns(t.finishMs)
      ops.exists(o => o.startNs <= x && x <= o.endNs)
    }.map(_.written).sum
  }

  /** Tracing overhead and reconciliation over the top-level spans
    * named `opName` that `include` keeps: the overhead is their mean
    * duration minus the mean untraced latency of operations of the same
    * kind; the unattributed time is the mean part of an operation that
    * its spans' self times do not add up to (zero when every span nests
    * inside its parent), so self times plus it equal the untraced
    * latency plus the overhead. */
  def reconcile(spans: Seq[Span], opName: String, untracedMs: Seq[Double],
      log: String => Unit, include: Span => Boolean = _ => true): Metrics = {
    val ops = spans.filter(s => s.parent == 0 && s.name == opName && include(s))
    val n = math.max(1, ops.size)
    val self = Trace.selfTimes(spans.filter(s => ops.exists(_.op == s.op)))
    val tracedMs = ops.map(_.durNs).sum / 1e6 / n
    val selfMs = self.values.sum / 1e6 / n
    val plainMs = if (untracedMs.isEmpty) 0.0 else untracedMs.sum / untracedMs.size
    log(f"reconcile $opName over ${ops.size} traced and ${untracedMs.size} untraced: " +
      f"self times $selfMs%.1f ms/op, untraced $plainMs%.1f ms/op, " +
      f"overhead ${tracedMs - plainMs}%.1f ms/op, unattributed ${tracedMs - selfMs}%.3f ms/op")
    Seq(("trace.overhead_ms", tracedMs - plainMs, "ms"),
      ("trace.unattributed_ms", tracedMs - selfMs, "ms"))
  }

  /** Log a predicted layer split against the measured one. */
  def predict(log: String => Unit, split: Metrics, claim: String,
      layers: Seq[String]): Unit = {
    val share = split.filter(m => layers.exists(l => m._1 == s"split.${l}_share")).map(_._2).sum
    log(f"prediction '$claim': ${layers.mkString(" + ")} = ${share * 100}%.1f%% -> " +
      (if (share > 0.5) "holds" else "fails"))
  }

  /** Mean data files per `date=` partition of a landed table. */
  def filesPerPartition(table: java.nio.file.Path): Double = {
    import scala.jdk.CollectionConverters._
    def list(d: java.nio.file.Path) = {
      val s = java.nio.file.Files.list(d)
      try s.iterator().asScala.toList finally s.close()
    }
    val parts = list(table).filter(_.getFileName.toString.startsWith("date="))
    parts.map(p => list(p).count(_.getFileName.toString.endsWith(".parquet")))
      .sum.toDouble / math.max(1, parts.size)
  }

  /** Mean duration in ms of the spans named `name` (0 when absent). */
  def meanMs(spans: Seq[Span], name: String): Double = {
    val xs = spans.filter(_.name == name)
    if (xs.isEmpty) 0.0 else xs.map(_.durNs).sum / 1e6 / xs.size
  }
}
