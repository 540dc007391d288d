package graft

/** Descriptions of the Spark jobs one block launches on the calling
  * thread, in start order. Jobs are tagged with a per-call local
  * property, so jobs of other threads are not counted; a marker job's
  * end (the bus delivers in order) tells that every earlier event was
  * delivered, as in StreamingSpec's state-store task counter.
  */
private[graft] class JobCounter(spark: org.apache.spark.sql.SparkSession) {
  import org.apache.spark.scheduler._
  import scala.jdk.CollectionConverters._
  private val sc = spark.sparkContext
  private val TagKey = "graft.spec.jobCounter"

  def jobsDuring(f: => Any): Seq[String] = jobsAndValue(f)._1

  def jobsAndValue[A](f: => A): (Seq[String], A) = {
    val tag = java.util.UUID.randomUUID.toString
    val marker = tag + ":marker"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      @volatile private var markerJob = -1
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).foreach { p =>
          val t = p.getProperty(TagKey)
          if (t == tag) seen.add(Option(p.getProperty("spark.job.description")).getOrElse(""))
          else if (t == marker) markerJob = e.jobId
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == markerJob) drained.countDown()
    }
    sc.addSparkListener(listener)
    val prior = sc.getLocalProperty(TagKey)
    try {
      sc.setLocalProperty(TagKey, tag)
      val value = f
      sc.setLocalProperty(TagKey, marker)
      sc.parallelize(Seq(1), 1).count()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS), "listener bus did not drain")
      (seen.iterator().asScala.toList, value)
    } finally {
      sc.setLocalProperty(TagKey, prior)
      sc.removeSparkListener(listener)
    }
  }
}
