package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Abs, Length, LessThanOrEqual, Subtract}
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.functions._

/** The factory's contract, and the guards that keep it the only one:
  * every session under `src/` is built by [[GraftSession.local]], and
  * the main tree reads no `spark.graft.*` switch. The
  * two optimizer-rule checks use inputs stock Spark leaves alone, so
  * each fails when its rule is missing from the session. */
class GraftSessionSpec extends SparkSpec {
  import spark.implicits._

  private def sources(root: String): Seq[Path] = {
    val s = Files.walk(Paths.get(root))
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally s.close()
  }

  private def text(p: Path): String = new String(Files.readAllBytes(p), "UTF-8")

  test("a factory session has UTC, its core count, the codegen cache " +
      "and the three SQL functions") {
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.sparkContext.defaultParallelism == 4)
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "10000")
    Seq("cosine_similarity", "hamming_distance", "nfc_normalize").foreach { f =>
      assert(spark.sessionState.functionRegistry
        .functionExists(FunctionIdentifier(f)), s"$f not registered")
    }
  }

  test("PushTimestampConversionBounds puts a raw-nanos bound into the scan") {
    // legacy raw-long events layout: Tables.load converts it with
    // timestamp_micros(ts div 1000), which stock Catalyst cannot push
    val dir = Files.createTempDirectory("graft-rawnanos")
    try {
      val base = 1704067200000000L // 2024-01-01T00:00:00Z in micros
      (0 until 240).map(i => ((base + i * 3600000000L) * 1000L, 1.0))
        .toDF("ts", "value")
        .write.parquet(s"$dir/events.parquet")
      val since = java.time.Instant.parse("2024-01-10T00:00:00Z")
      val df = Tables.load(spark, dir.toString, "events")
        .filter(col("ts") >= lit(since))
      val plan = df.queryExecution.executedPlan.toString
      // t·1000 − 999: sound for truncating AND floor division
      assert(plan.contains("GreaterThanOrEqual(ts,1704844799999999001)"),
        s"raw bound not derived:\n$plan")
      assert(df.count() == 240 - 9 * 24)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }

  test("LevenshteinLengthBound conjoins the length-difference bound") {
    val dir = Files.createTempDirectory("graft-lev")
    try {
      Seq(("kitten", "sitten"), ("kitten", "sitting"), ("a", "abc"))
        .toDF("a", "b").write.parquet(s"$dir/pairs.parquet")
      val df = spark.read.parquet(s"$dir/pairs.parquet")
        .filter(levenshtein(col("a"), col("b")) <= 1)
      val bounds = df.queryExecution.optimizedPlan.collect {
        case f: Filter => f.condition.collect {
          case LessThanOrEqual(Abs(Subtract(_: Length, _: Length, _), _), _) =>
            true
        }
      }.flatten
      assert(bounds.nonEmpty,
        s"no length bound:\n${df.queryExecution.optimizedPlan}")
      assert(df.as[(String, String)].collect().toSeq ==
        Seq(("kitten", "sitten")))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }

  test("GraftSession.scala is the only session builder under src/") {
    val builder = "SparkSession" + ".builder"
    val hits = sources("src").filter(p => text(p).contains(builder))
      .map(_.getFileName.toString)
    assert(hits == Seq("GraftSession.scala"), hits)
  }

  test("src/main names no spark.graft.* key") {
    // a key, not the org.apache.spark.graft package
    val key = """(?<![\w.])spark\.graft\.[a-z][\w.]*[\w]""".r
    val keys = sources("src/main").flatMap(p => key.findAllIn(text(p)))
      .toSet
    assert(keys.isEmpty, keys)
  }
}
