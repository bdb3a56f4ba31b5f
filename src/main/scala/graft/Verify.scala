package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.local(overrides = Map(
      // micros (not INT96) so the dumped timestamps carry the same
      // logical type/resolution as the DuckDB oracle's output
      "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS"))
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY=q70_dup_clusters — optional comma-separated
    // filter for local iteration (driver runs unfiltered); the oracle
    // dump is filtered too so scripts/check.py checks the same subset
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    def keep(name: String): Boolean = only.forall(_.contains(name))
    // Failures must be LOUD: a query that throws still gets (a) its
    // output dir created EMPTY — so any consumer globbing for part
    // files sees "no spark output", never a silent omission — and (b)
    // a row in _errors.json. Round 8 proved the cost of the quiet
    // path: 94 erroring queries simply vanished from the correctness
    // file and a 44 % outage looked green.
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries.filter(q => keep(q._1)).foreach { case (name, fn) =>
      try {
        var df = fn(spark, sfDir)
        // Dump instant timestamps as NTZ: session TZ is UTC so values
        // are unchanged, and the parquet logical type then matches the
        // DuckDB oracle's naive TIMESTAMP (isAdjustedToUTC=false).
        df.schema.fields.foreach { f =>
          if (f.dataType == org.apache.spark.sql.types.TimestampType)
            df = df.withColumn(f.name,
              df.col(f.name).cast(org.apache.spark.sql.types.TimestampNTZType))
        }
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        errors(name) = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}"
        val d = new java.io.File(s"$outDir/$name")
        // wipe any stale part files from a previous run, keep the dir
        if (d.exists()) d.listFiles().foreach(f => if (f.isFile) f.delete())
        d.mkdirs()
      }
      // each result is fully on disk before the next query runs, so
      // dropping all session storage (the operators' caches and
      // checkpoints) between queries is safe and keeps the 334-query
      // dump from accumulating block storage
      operators.CacheOps.sweep(spark, blocking = false)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(o => keep(o._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_errors.json"), errJson)
    if (errors.nonEmpty)
      System.err.println(
        s"[verify] ${errors.size} queries FAILED: ${errors.keys.mkString(", ")}")
    spark.stop()
  }
}
