package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Scratch dev probe — not part of the driver contract. Current shape:
  * per-JOB wall-clock attribution for one query named in args(0)
  * (default ann_ivfpq_topk) at SPARK_GRAFT_SF_DIR, run args(1) times
  * (default 2; run 1 is the primer). Prints every Spark job's
  * duration and description so per-query cost decomposes into its
  * scheduled jobs — the guide §1 "where is the time" instrument for
  * multi-job queries whose data is fixture-sized.
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("ann_ivfpq_topk")
    val reps = if (args.length > 1) args(1).toInt else 2
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.engine.Tables.session()
    spark.sparkContext.setLogLevel("ERROR")
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    @volatile var log = List.empty[(Int, Double, String)]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        starts.put(js.jobId, (System.nanoTime(),
          Option(js.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .getOrElse("")))
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val s = starts.get(je.jobId)
        if (s != null)
          log ::= ((je.jobId, (System.nanoTime() - s._1) / 1e9, s._2))
      }
    })
    val fn = SparkEntry.queries(name)
    for (r <- 1 to reps) {
      log = Nil
      val t0 = System.nanoTime()
      fn(spark, dir).write.format("noop").mode("overwrite").save()
      // wall-clock measured BEFORE the listener drain so the printed
      // total is the query's, not the instrumentation's
      val total = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300) // let the listener bus drain (bus API is private[spark])
      println(f"== $name run $r: $total%.2fs, ${log.size} jobs")
      log.sortBy(_._1).foreach { case (id, sec, desc) =>
        println(f"  job $id%4d $sec%7.3fs  ${desc.take(90)}")
      }
    }
    spark.stop()
  }
}
