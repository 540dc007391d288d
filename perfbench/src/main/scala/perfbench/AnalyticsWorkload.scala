package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** `analytics`: a fixed slice of the operator inventory
  * (`SparkEntry.queries`), one untimed pass that also writes every
  * result for the oracle check and one more untimed pass, then timed
  * passes into a noop sink: at least six, and more while `--seconds`
  * have not passed.
  * Each query's wall splits into construction (the eager checkpoints,
  * collects and loops that run while its frame is built) and execution of
  * the final plan.
  */
object AnalyticsWorkload {
  /** ROADMAP item 3's first construction target (`emb_principal_dir`:
    * a means pass, a checkpoint, one collect per power round) and the
    * query with the most jobs (`dq_fk_orphans`). */
  val Slice: Seq[String] = Seq("emb_principal_dir", "dq_fk_orphans")
  /** The JIT keeps speeding the queries up for about twenty passes, so a
    * run times a fixed number of passes (more only when they end before
    * `--seconds`): a time-bounded count would take its median at a
    * different point of that curve on a faster or slower host. */
  val WarmPasses = 2
  val MinPasses = 6

  /** Drop cached frames and orphaned checkpoint blocks between queries
    * and collect the garbage, as the library's own `graft.Bench` does. */
  private def clean(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    graft.engine.Tables.dropOrphanRdds(spark)
    System.gc()
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val out = new Outcome
    val tr = ctx.tracer
    val data = ctx.opts.data
    require(new java.io.File(data, "lineitem.parquet").exists, s"no star-schema data at $data")
    val slice = Slice
    val queries = SparkEntry.queries
    val oracle = SparkEntry.oracleSql
    val missing = slice.filterNot(q => queries.contains(q) && oracle.contains(q))
    require(missing.isEmpty, s"slice queries missing from SparkEntry: $missing")

    val results = ctx.dir("results")
    val oracleJson = Json.obj(slice.map(q => q -> Json.str(oracle(q))))
    java.nio.file.Files.write(ctx.opts.work.resolve("oracle_sql.json"), oracleJson.getBytes("UTF-8"))

    tr.span("analytics.warm") {
      slice.foreach { q =>
        out.attempted += 1
        try queries(q)(spark, data).write.mode("overwrite").parquet(results.resolve(q).toString)
        catch { case e: Throwable => out.fail(s"$q (warm): ${e.getMessage}") }
        clean(spark)
      }
      // the steepest part of the JIT warm-up stays out of the timings
      (1 until WarmPasses).foreach(_ => slice.foreach { q =>
        try ctx.noop(queries(q)(spark, data)) catch { case _: Throwable => () }
        clean(spark)
      })
    }
    out.e2e("setup_s") = ctx.sinceStart()
    ctx.heap.mark()

    ctx.setPhase("timed")
    val wall = slice.map(_ -> ArrayBuffer.empty[Double]).toMap
    val cons = slice.map(_ -> ArrayBuffer.empty[Double]).toMap
    val spans = slice.map(_ -> ArrayBuffer.empty[(Long, Long)]).toMap
    val passStartMs = Clock.millis()
    val start = System.nanoTime()
    var passes = 0
    while (passes < MinPasses || Clock.secondsSince(start) < ctx.opts.seconds) {
      tr.span("analytics.pass") {
        slice.foreach { q =>
          out.attempted += 1
          try {
            val t0 = System.nanoTime()
            val df = tr.span(s"operators.$q.construct") {
              val id = ctx.tracer.current
              val df = queries(q)(spark, data)
              (id, df)
            }
            val t1 = System.nanoTime()
            val execId = tr.span(s"operators.$q.exec") { ctx.noop(df._2); ctx.tracer.current }
            val t2 = System.nanoTime()
            wall(q) += (t2 - t0) / 1e9
            cons(q) += (t1 - t0) / 1e9
            spans(q) += (df._1 -> execId)
          } catch { case e: Throwable => out.fail(s"$q: ${e.getMessage}") }
          ctx.setPhase("clean")
          clean(spark)
          ctx.setPhase("timed")
        }
      }
      passes += 1
    }
    val passEndMs = Clock.millis()
    ctx.setPhase("after")
    ctx.heap.mark()

    val perQuery = slice.filter(q => wall(q).nonEmpty).map(q => Stats.median(wall(q).toSeq))
    if (perQuery.isEmpty) sys.error("every analytics query failed")
    val total = perQuery.sum
    out.e2e("latency_p50_s") = Stats.median(perQuery)
    out.e2e("latency_p90_s") = Stats.quantile(perQuery, 0.9)
    out.e2e("op_geomean_s") = Stats.geomean(perQuery)
    out.e2e("throughput_per_s") = perQuery.size / total
    out.extra("passes") = passes.toString
    out.extra("total_s") = Json.num(total)
    out.extra("walls_s") = Json.obj(slice.map(q => q -> wall(q).map(Json.num).mkString("[", ",", "]")))
    out.extra("results") = Json.str(results.toString)
    out.extra("data") = Json.str(data)

    if (ctx.opts.trace) {
      ctx.drainListeners()
      val jobs = ctx.jobs.allJobs
      val n = passes.toDouble
      var jc = 0L; var je = 0L; var gap = 0.0
      slice.foreach { q =>
        if (wall(q).nonEmpty) {
          out.layer(s"operators.$q.wall_s") = Stats.median(wall(q).toSeq)
          val ids = spans(q).map(_._1).toSet
          val eids = spans(q).map(_._2).toSet
          val cj = jobs.filter(j => ids(j.span))
          val ej = jobs.filter(j => eids(j.span))
          out.layer(s"operators.$q.jobs") = (cj.size + ej.size) / n
          jc += cj.size; je += ej.size
          // construction time no job covers: construct wall minus the
          // union of its jobs' intervals
          val covered = cj.filter(_.end >= 0).map(j => (j.start, j.end)).sortBy(_._1)
            .foldLeft((0L, Long.MinValue)) { case ((acc, reach), (s, e)) =>
              if (e <= reach) (acc, reach)
              else (acc + (e - math.max(s, reach)), e)
            }._1
          gap += math.max(0.0, cons(q).sum - covered / 1e3)
        }
      }
      out.layer("operators.construct_s") = slice.map(q => cons(q).sum).sum / n
      out.layer("operators.exec_s") = slice.map(q => wall(q).sum - cons(q).sum).sum / n
      out.layer("operators.jobs_construct") = jc / n
      out.layer("operators.jobs_exec") = je / n
      out.layer("operators.driver_gap_s") = gap / n
      ctx.catalystLayer(out, passStartMs, passEndMs, n)
      ctx.sparkLayer(out, n)
      out.layer("trace.latency_p50_s") = out.e2e("latency_p50_s")
    }
    out
  }
}
