package graft

import org.apache.spark.sql.SparkSession

/** The one local-session factory: Verify, Bench, Demo, every spec and
  * every test-tree rig build their session here, so what a rig
  * measures is configured exactly like what the bench and the oracle
  * run. The engine's extensions go in through `withExtensions` — the
  * same single injection point a `spark.sql.extensions` user gets.
  *
  * `getOrCreate` semantics: in a JVM that already holds a session the
  * existing one is returned, with only the runtime confs of
  * `overrides` applied.
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, else 4. */
  private def defaultCpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.trim.toInt)

  def local(cpus: Int = defaultCpus,
      overrides: Map[String, String] = Map.empty): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Generated-class cache (static conf, default 100 entries): a
      // 300-query suite generates thousands of codegen'd classes, so at
      // the default size every query's classes are evicted long before
      // its re-run — and an EVICTED class is recompiled as a FRESH
      // class with cold JIT state, which is what made q203 run 2.6×
      // slower in-suite than back-to-back with q183 (r14 regression:
      // the two share their truth-pass subtree's generated code). Sized
      // to hold the whole suite's classes; same knob a production
      // cluster running a wide query mix should raise.
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .withExtensions(new GraftExtensions)
    overrides.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
