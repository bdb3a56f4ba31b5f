package graft.sources

import org.apache.spark.sql.DataFrame

/** Adaptive repair of INPUT parallelism for row-local-heavy operators
  * (round 19; optimization guide §2.5 "input skew" / §6 "input split
  * size").
  *
  * The failure mode: a parquet scan's effective parallelism is the
  * number of row groups, not the number of byte-range splits — a
  * single-file, single-row-group table runs as ONE task, and every
  * expression pipelined onto that scan (shingle explode + md5, codec
  * decode in mapPartitions, per-row distance kernels) runs serially
  * while the rest of the cluster idles. Measured at sf0.1/local[32]:
  * the dedup family's shingle stage is 1.40 s serial vs 0.22 s spread
  * (6.4×), the full q70 pair pipeline 2.0–2.7 s vs 0.95 s.
  *
  * The repair is the guide's "repartition immediately after the read",
  * made SCALE-ADAPTIVE so it never fires where input parallelism
  * already exists: spread only when the scan's file count is below the
  * session's default parallelism AND the byte-derived split estimate
  * (Σ ceil(file bytes / maxPartitionBytes)) still falls short. At
  * 100 TB (thousands of files / row groups) both gates pass and this
  * is the identity — no shuffle is ever added to a corpus that scans
  * wide. The added exchange on the small-input side moves only the
  * columns the downstream plan needs (the optimizer projects below a
  * repartition), and round-robin repartition keeps Spark's
  * sort-before-repartition determinism (retried tasks reproduce the
  * same placement).
  *
  * Non-file frames (in-memory fixtures, post-shuffle intermediates)
  * and single-core sessions pass through untouched.
  */
object ScanSpread {

  /** Presentation sort for a map-only pipeline over a narrow scan
    * (round 19 §3): `sortedSpread(df, keys)(heavy…)` ≡
    * `df.select(keys ++ heavy…).orderBy(keys)` in rows AND order, but
    *  - the range partitioner's boundary SAMPLE pass touches only the
    *    raw child, never the heavy projection (a plain orderBy above
    *    the projection re-executes it once per sample pass), and
    *  - the range partition count is EXPLICIT (default parallelism),
    *    which AQE respects — a plain orderBy's exchange gets coalesced
    *    to one partition at small volumes and serializes the heavy
    *    projection that sits above it.
    * The count derives from the session (scale-adaptive), not a
    * constant; at cluster scale it is the executor core count — the
    * same magnitude AQE would pick for a result-sized sort. */
  def sortedSpread(df: DataFrame,
      keys: org.apache.spark.sql.Column*): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    if (par <= 1) df.orderBy(keys: _*)
    else df.repartitionByRange(par, keys: _*)
      .sortWithinPartitions(keys: _*)
  }

  /** `df`, repartitioned to the session's default parallelism iff its
    * backing file layout cannot reach that parallelism on its own. */
  def spread(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val par = spark.sparkContext.defaultParallelism
    if (par <= 1) return df
    val files =
      try df.inputFiles
      catch { case scala.util.control.NonFatal(_) => Array.empty[String] }
    // no backing files (in-memory / already-shuffled frames), or
    // enough file-level parallelism already: identity.
    // Both identity gates are byte/file-count PROXIES with known blind
    // spots where the repair fails to fire (perf-only, never wrong
    // results): (a) `files.length >= par` can pass for many tiny files
    // that FileSourceScanExec then bin-packs (maxPartitionBytes /
    // openCostInBytes) into fewer than `par` tasks; (b) the split
    // estimate below passes for one huge file whose actual parquet
    // parallelism is its ROW-GROUP count — a single-row-group multi-GB
    // file still scans serially. The exact planned partition count
    // would need df.rdd.getNumPartitions (a physical planning pass per
    // call site); the proxies are free and correct for every layout in
    // the corpus, so the residual risk is accepted and documented.
    if (files.isEmpty || files.length >= par) return df
    // bounded driver work: at most (par - 1) file statuses
    val conf = spark.sessionState.newHadoopConf()
    val maxPB = spark.sessionState.conf.filesMaxPartitionBytes
    val splits = files.iterator.map { f =>
      try {
        val p = new org.apache.hadoop.fs.Path(f)
        val len = p.getFileSystem(conf).getFileStatus(p).getLen
        math.max(1L, (len + maxPB - 1) / maxPB)
      } catch { case scala.util.control.NonFatal(_) => 1L }
    }.sum
    if (splits >= par) df else df.repartition(par)
  }
}
