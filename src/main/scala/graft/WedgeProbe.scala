package graft

import org.apache.spark.sql.functions._

/** WEDGE-MASS probe for the triangle enumerator's scale
  * characterization: for each fixture dir on the command line, print
  * one JSON line with the span-pair count, the ORIENTED wedge mass
  * `Σ_v C(outdeg_v, 2)` — exactly the row count of
  * [[graft.operators.Graph.trianglesOverDeg]]'s wedge self-join, the
  * term that actually drives the operator's cost — and the triangle
  * row count. ScaleBench gives the TIME ratio at amplified fixtures;
  * this probe gives the WORK ratio at the same fixtures, so
  * time-vs-wedge exponents stop being an inference (the r12 verdict's
  * ×8.81-at-×10 entry was plausibly wedge-linear but unmeasured).
  */
object WedgeProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.engine.Tables.session()
    spark.sparkContext.setLogLevel("WARN")
    args.foreach { dir =>
      import spark.implicits._
      val pd = graft.engine.Layouts.spanPairsWithStats(spark, dir)
        .select($"doc_a", $"doc_b", $"deg_a", $"deg_b")
        .localCheckpoint()
      val nPairs = pd.count()
      val wedges = graft.operators.Graph.orientPairs(pd)
        .groupBy($"src").agg(count(lit(1)).as("d"))
        .agg(sum(expr("(d * (d - 1)) div 2")).as("w"))
        .collect()(0).getLong(0)
      val nTri = graft.operators.Graph.trianglesOverDeg(pd)
        .agg(coalesce(sum($"n_triangles"), lit(0L)).as("s"))
        .collect()(0).getLong(0) / 3L
      println(s"""{"metric":"wedge_probe","dir":"$dir","pairs":$nPairs,"wedges":$wedges,"triangles":$nTri}""")
    }
    spark.stop()
  }
}
