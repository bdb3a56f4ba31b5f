package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.CacheOps

/** Shared local session for specs (one per JVM, lazy), built by the
  * same factory Verify/Bench use — 4 cores, 4 shuffle partitions. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local(4)

  lazy val sf: String = "/root/testdata/sf0.001"

  /** Runs `body` with session confs temporarily set, restoring (or
    * unsetting) each one after — the session is JVM-shared across
    * suites, so a conf a test sets must never leak into the next. */
  protected def withConf[T](confs: (String, String)*)(body: => T): T = {
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Executed-plan string of a registry query; the caches its
    * operators leave are swept after. */
  protected def plan(name: String): String =
    try queries.Registry.queries(name)(spark, sf)
      .queryExecution.executedPlan.toString
    finally CacheOps.sweep(spark)
}
