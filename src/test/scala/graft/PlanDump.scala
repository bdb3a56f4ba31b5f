package graft

/** Plan dump for registered queries — the committed plan evidence
  * behind OPTIMIZATION_r*.md and the tool for cross-scale plan diffs
  * (e.g. "did AQE flip a join strategy between 10x and 100x?").
  *
  * `sbt "Test/runMain graft.PlanDump <dir> <q[,q...]> [<outDir> <suffix>]"`
  *
  * Each query first runs through the noop sink, so AQE's final
  * decisions are visible in the AdaptiveSparkPlan. The FORMATTED plan
  * then goes to `<outDir>/<query>_<suffix>.txt`, or to stdout when no
  * `outDir` is given, followed by every INTERMEDIATE SQL execution the
  * query ran (captured via a QueryExecutionListener): iterative
  * operators truncate lineage with `localCheckpoint`, so the final
  * plan shows only `Scan ExistingRDD` and the interesting stages (the
  * dedup family's spread exchange, the CC round shape) would be
  * invisible otherwise. Each checkpoint/collect materialization goes
  * through `SQLExecution.withNewExecutionId`, so the listener sees its
  * full pre-truncation plan. Last comes one `AUDIT <query> <counts>`
  * line on stdout ([[PlanAudit]] over the final plan).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val names = args(1).split(",").map(_.trim).toSeq
    val out = args.lift(2).map(d => (d, args(3)))
    val spark = GraftSession.local()
    out.foreach(o =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(o._1)))

    // every SQL execution during the query body, in completion order
    val execs = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    spark.listenerManager.register(
      new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            durationNs: Long): Unit =
          execs.add((funcName, qe.explainString(
            org.apache.spark.sql.execution.FormattedMode)))
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            exception: Exception): Unit = ()
      })

    names.foreach { name =>
      execs.clear()
      val df = SparkEntry.queries(name)(spark, dir)
      df.write.format("noop").mode("overwrite").save()
      // the listener bus is async: drain before reading the queue
      org.apache.spark.graft.ListenerBridge.drain(spark.sparkContext, 10000L)
      val finalTxt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      import scala.jdk.CollectionConverters._
      val inner = execs.asScala.toSeq
        // the final noop save's own execution duplicates finalTxt
        .filterNot(_._2 == finalTxt)
      val txt = new StringBuilder(finalTxt)
      inner.zipWithIndex.foreach { case ((fn, plan), i) =>
        txt.append(
          s"\n\n==== intermediate execution #${i + 1} ($fn) ====\n")
        txt.append(plan)
      }
      out match {
        case Some((outDir, suffix)) =>
          java.nio.file.Files.write(
            java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"),
            txt.toString.getBytes("UTF-8"))
          println(s"[plandump] wrote $outDir/${name}_$suffix.txt " +
            s"(${txt.toString.linesIterator.size} lines, " +
            s"${inner.size} intermediate)")
        case None =>
          println(s"==== $name @ $dir ====")
          println(txt)
      }
      println(s"AUDIT $name ${PlanAudit.audit(df.queryExecution.executedPlan)}")
    }
    spark.stop()
  }
}
