package graft

/** er_cluster COST-FLOOR audit (r10 verdict directive): print the
  * measured stage masses of the blocked pair pipeline —
  * posting rows, key-join fan-out, distinct blocked pairs, length-
  * guard survivors (= pairs the banded Levenshtein actually fills a
  * DP band for), surviving edges — plus the wall-clock split between
  * the edge subtree (join + DP) and the full operator (edge subtree +
  * min-label convergence loop). The split is what decides where
  * optimization effort goes: DP mass is pruned with better blocking;
  * convergence-loop latency is pruned with fewer/cheaper hops.
  */
object ErFloor {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.engine.Tables.session()
    spark.sparkContext.setLogLevel("WARN")
    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    // warm
    graft.operators.EntityResolution.clusterMentions(spark, dir)
      .write.format("noop").mode("overwrite").save()
    val stages = graft.operators.EntityResolution.clusterStages(spark, dir)
    val tFull = timed {
      graft.operators.EntityResolution.clusterMentions(spark, dir)
        .write.format("noop").mode("overwrite").save()
    }
    val counts = stages.map { case (k, v) => s""""$k":$v""" }.mkString(",")
    println(s"""{"metric":"er_floor","dir":"$dir",$counts,"t_full":${f(tFull)}}""")
    spark.stop()
  }
  private def f(v: Double): String =
    BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
}
