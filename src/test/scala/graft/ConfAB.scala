package graft

/** The A/B rig: same-JVM alternating A/B over an arbitrary session
  * conf (e.g. `spark.sql.adaptive.enabled`, any `spark.sql.*` runtime
  * conf). Runs each named query `reps`× with the conf at <aValue> and
  * at <bValue>, interleaved after one warm-up per arm, and prints
  * per-arm medians. The session is [[GraftSession.local]]'s — the
  * configuration Bench measures.
  *
  * `sbt "Test/runMain graft.ConfAB <dir> <q,[q...]> <confKey> <aValue> <bValue> [reps]"`
  */
object ConfAB {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val names = args(1).split(",").map(_.trim).toSeq
    val key = args(2)
    val aVal = args(3)
    val bVal = args(4)
    val reps = if (args.length > 5) args(5).toInt else 3
    val spark = GraftSession.local()

    def once(name: String): Double = {
      graft.operators.CacheOps.sweep(spark, blocking = true)
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

    names.foreach { name =>
      spark.conf.set(key, aVal); once(name)
      spark.conf.set(key, bVal); once(name)
      val a = scala.collection.mutable.ArrayBuffer[Double]()
      val b = scala.collection.mutable.ArrayBuffer[Double]()
      for (_ <- 1 to reps) {
        spark.conf.set(key, aVal)
        a += once(name)
        spark.conf.set(key, bVal)
        b += once(name)
      }
      println(f"AB $name%-40s $key a[$aVal]=${median(a.toSeq)}%6.3f " +
        f"b[$bVal]=${median(b.toSeq)}%6.3f  ratio=${
          median(a.toSeq) / median(b.toSeq)}%5.2f  " +
        f"(a: ${a.map(x => f"$x%.2f").mkString(",")} | " +
        f"b: ${b.map(x => f"$x%.2f").mkString(",")})")
    }
    spark.stop()
  }
}
