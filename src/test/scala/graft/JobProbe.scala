package graft

import org.apache.spark.scheduler._

/** Job-level wall breakdown for a registered query — the measurement
  * companion to [[PlanDump]]: where PlanDump shows the plan SHAPE,
  * this shows where the WALL goes (per-job duration, task
  * count, gaps between jobs = driver-side planning/analysis time).
  *
  * `sbt "Test/runMain graft.JobProbe <dir> <query>[,query...]"`
  * Runs each query once cold (codegen+JIT), once measured; prints per
  * measured job: index, duration ms, #tasks, and the idle gap since
  * the previous job's end (driver/planning time — the part no task
  * executes during).
  */
object JobProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.drop(1).headOption
      .map(_.split(",").map(_.trim).toSeq)
      .getOrElse(Seq("q70_dup_clusters"))
    val spark = GraftSession.local()

    case class J(id: Int, start: Long, var end: Long = 0L,
      var tasks: Int = 0, var stages: Int = 0)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, J]()
    val order = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.put(e.jobId, J(e.jobId, e.time, stages = e.stageIds.size))
        order.add(e.jobId)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val j = jobs.get(e.jobId); if (j != null) j.end = e.time
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = ()
      override def onStageCompleted(
          e: SparkListenerStageCompleted): Unit = {
        // attribute tasks to the job that owns the stage via jobIds
        // not available here; skip — task counts come from stage info
      }
    })

    names.foreach { name =>
      def run(): Double = {
        val df = SparkEntry.queries(name)(spark, dir)
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      spark.sparkContext.setJobDescription(s"$name warm")
      val cold = run()
      spark.catalog.clearCache()
      jobs.clear(); order.clear()
      spark.sparkContext.setJobDescription(s"$name measured")
      val warm = run()
      // drain listener bus so all job-end events landed
      org.apache.spark.graft.ListenerBridge.drain(spark.sparkContext, 10000L)
      println(f"==== $name cold=$cold%.2fs warm=$warm%.2fs ====")
      import scala.jdk.CollectionConverters._
      val js = order.asScala.toSeq.distinct.map(jobs.get)
        .filter(_ != null).sortBy(_.start)
      var prevEnd = 0L
      js.foreach { j =>
        val gap = if (prevEnd == 0) 0 else j.start - prevEnd
        println(f"job ${j.id}%4d dur=${j.end - j.start}%6d ms  " +
          f"stages=${j.stages}%3d  gap=$gap%5d ms")
        prevEnd = math.max(prevEnd, j.end)
      }
      println(f"jobs=${js.size} sumDur=${js.map(j => j.end - j.start).sum}" +
        f" ms sumGap=${js.zip(0L +: js.map(_.end)).map { case (j, pe) =>
          if (pe == 0) 0L else math.max(0L, j.start - pe) }.sum} ms")
    }
    spark.stop()
  }
}
