package graft

/** Scratch dev probe for the min-label loop family (r12 verdict #1):
  * prints per-JOB wall-clock for dedup_clusters / graph_components at
  * the given fixture so the sf0.1 regression can be attributed to a
  * specific loop phase (relation ingest, hop jobs, truncation,
  * freeze) instead of guessed at. Not part of the driver contract.
  */
object LoopProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.engine.Tables.session()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long, String)]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val site = js.stageInfos.map(si => s"${si.name.takeWhile(_ != '(')}x${si.numTasks}")
          .mkString("+")
        jobs.put(js.jobId, (System.nanoTime(), -1L, site))
      }
      override def onJobEnd(je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        jobs.computeIfPresent(je.jobId, (_, v) => (v._1, System.nanoTime(), v._3))
    })
    if (sys.env.contains("SPARK_GRAFT_HOP_PLAN")) {
      import spark.implicits._
      // components-shaped loop relations: dump hop-1 (unflagged) and
      // hop-2 (flagged) physical plans under the loop's AQE-off regime
      val pairs = graft.operators.Graph.spanPairsLayout(spark, dir)
        .select($"doc_a".as("src"), $"doc_b".as("dst"))
      val nodes = pairs.select($"src".as("doc_id"))
        .union(pairs.select($"dst")).distinct()
      graft.engine.Tables.withAqeOff(spark) {
        val (sym, labels) = graft.operators.Dedup.loopRelations(nodes, pairs)
        println(s"[plan] sym rows=${sym.count()} labels rows=${labels.count()}")
        val h1 = graft.operators.Dedup.hopNext(labels, sym).persist()
        println(s"[plan] hop1 changed=${h1.filter($"__changed").count()}")
        println("[plan] ==== hop1 ====")
        println(h1.queryExecution.executedPlan.toString.linesIterator
          .filter(l => !l.contains("InMemoryRelation") || true).take(40).mkString("\n"))
        val h2 = graft.operators.Dedup.hopNext(h1, sym).persist()
        println(s"[plan] hop2 changed=${h2.filter($"__changed").count()}")
        println("[plan] ==== hop2 ====")
        println(h2.queryExecution.executedPlan.toString.linesIterator.take(40).mkString("\n"))
        sym.unpersist(); labels.unpersist(); h1.unpersist(); h2.unpersist()
      }
      // the final-query shape: what does the ~350ms closing job run?
      val res = graft.operators.Graph.all("graph_components")(spark, dir)
      res.write.format("noop").mode("overwrite").save()
      println("[plan] ==== final ====")
      println(res.queryExecution.executedPlan.toString.linesIterator.take(30).mkString("\n"))
      spark.stop(); return
    }
    val queries: Seq[(String, (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame)] = Seq(
      "dedup_clusters" -> graft.operators.Dedup.all("dedup_clusters"),
      // the LIVE loop (the surfaced graph_components serves the layout
      // since r14 — probing that would measure a parquet scan)
      "components_loop" -> ((s, d) => graft.operators.Graph.componentsLoop(s, d)))
    for ((name, fn) <- queries) {
      // bench methodology: clean heap, ONE priming run (fills session
      // layout caches + JIT), then timed warm runs
      spark.catalog.clearCache(); System.gc()
      fn(spark, dir).write.format("noop").mode("overwrite").save()
      for (rep <- 1 to 2) {
        jobs.clear()
        val t0 = System.nanoTime()
        fn(spark, dir).write.format("noop").mode("overwrite").save()
        val total = (System.nanoTime() - t0) / 1e9
        val done = {
          import scala.jdk.CollectionConverters._
          jobs.asScala.toSeq.sortBy(_._1)
            .map { case (id, (s, e, site)) =>
              (id, if (e < 0) -1.0 else (e - s) / 1e6, site) }
        }
        println(f"== $name rep$rep: $total%.3f s, ${done.size} jobs")
        if (rep == 2)
          done.foreach { case (id, ms, site) => println(f"   job $id%3d  $ms%8.1f ms  $site") }
        val jobSum = done.filter(_._2 > 0).map(_._2).sum / 1000.0
        println(f"   job-covered $jobSum%.3f s; gaps ${total - jobSum}%.3f s")
      }
    }
    spark.stop()
  }
}
