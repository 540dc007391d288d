package graft

/** Dev tool: print plan-shape summaries (or full formatted plans with
  * `-v`) for the named queries — `runMain graft.Explain [-v] [names…]`,
  * no names = every query. This is the `.explain("formatted")` loop the
  * build process runs after each operator lands (builder brief): scans,
  * exchanges, reuse, whole-stage codegen spans, pushed filters.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val verbose = args.contains("-v")
    val names = args.filterNot(_ == "-v")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = graft.engine.Tables.session()
    spark.sparkContext.setLogLevel("ERROR")
    val selected =
      if (names.isEmpty) SparkEntry.queries.toSeq.sortBy(_._1)
      else SparkEntry.queries.filter(kv => names.contains(kv._1)).toSeq.sortBy(_._1)
    selected.foreach { case (name, fn) =>
      try {
        val df = fn(spark, dir)
        // execute first: under AQE the final plan (reused exchanges,
        // coalesced partitions, codegen spans) only exists afterwards
        df.write.format("noop").mode("overwrite").save()
        val qe = df.queryExecution
        val plan = qe.executedPlan.toString
        def n(re: String) = re.r.findAllIn(plan).length
        // NOTE: this is the STATIC plan — AQE stage-level reuse
        // deduplicates canonically-equal exchange subtrees at runtime,
        // so a repeated scan below two identical exchanges executes
        // once (verified with a stage listener: q5b's grand-total
        // branch runs 1 scan stage, not the 2 printed here)
        println(f"== $name%-28s scans=${n("Scan parquet")}" +
          f" exch=${n("Exchange")} reused=${n("ReusedExchange")}" +
          f" wsc=${n("""\*\(\d+\)""")} bhj=${n("BroadcastHashJoin")}" +
          f" smj=${n("SortMergeJoin")} wins=${n("Window")}")
        if (verbose) println(qe.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      } catch {
        case e: Throwable => println(s"== $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
