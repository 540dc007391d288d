package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame

import graft.engine.{VotingQueries => VQ, VotingTables}
import graft.sources.VotingGen

/** `dashboard`: one client refreshing the Streamlit page back to back
  * (a closed loop). A refresh runs the reference's eleven dashboard
  * calls, each into a noop sink, over a seeded electorate written to
  * parquet during set-up.
  */
object DashboardWorkload {
  val SetupReps = 3

  def calls(t: VotingTables, first: String, last: String): Seq[(String, () => DataFrame)] = Seq(
    "totalVotes" -> (() => VQ.totalVotes(t)),
    "votesByCandidate" -> (() => VQ.votesByCandidate(t)),
    "historicalTrends" -> (() => VQ.historicalTrends(t)),
    "votesByState" -> (() => VQ.votesByState(t)),
    "leadingPartyByState" -> (() => VQ.leadingPartyByState(t)),
    "genderDistribution" -> (() => VQ.genderDistribution(t)),
    "ageDistribution" -> (() => VQ.ageDistribution(t)),
    "candidateInfo" -> (() => VQ.candidateInfo(t)),
    "stateVotingDetails" -> (() => VQ.stateVotingDetails(t)),
    "candidateImage" -> (() => VQ.candidateImage(t, first, last)),
    "generatorStats" -> (() => VQ.generatorStats(t)))

  /** Generate the electorate and write it to `dir` as three parquet tables. */
  def writeElectorate(ctx: Ctx, nVoters: Int, dir: java.nio.file.Path): Unit = {
    val g = VotingGen.generate(ctx.spark, nVoters = nVoters, seed = ctx.opts.seed)
    g.candidate.write.mode("overwrite").parquet(dir.resolve("candidate").toString)
    g.voter.write.mode("overwrite").parquet(dir.resolve("voter").toString)
    g.vote.write.mode("overwrite").parquet(dir.resolve("vote").toString)
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val out = new Outcome
    val tr = ctx.tracer
    val nVoters = if (ctx.opts.tiny) 3000 else 100000
    val dir = ctx.dir("electorate")

    val genS = (1 to SetupReps).map { _ =>
      val t0 = System.nanoTime()
      tr.span("sources.generate")(writeElectorate(ctx, nVoters, dir))
      Clock.secondsSince(t0)
    }
    val read = (n: String) => spark.read.parquet(dir.resolve(n).toString)
    val t = VotingTables(read("candidate"), read("voter"), read("vote"))
    val cand = t.candidate.orderBy("candidate_id").head()
    val (first, last) = (cand.getAs[String]("first_name"), cand.getAs[String]("last_name"))
    val surface = calls(t, first, last)

    // warm refresh: writes every call's result for the correctness check
    val results = ctx.dir("results")
    tr.span("dashboard.warm") {
      surface.foreach { case (name, f) =>
        out.attempted += 1
        try f().write.mode("overwrite").parquet(results.resolve(name).toString)
        catch { case e: Throwable => out.fail(s"$name (warm): ${e.getMessage}") }
      }
    }
    // set-up = JVM start to now, with the repeated generation step
    // counted once, at its median
    out.e2e("setup_s") = ctx.sinceStart() - genS.sum + Stats.median(genS)
    out.layer("sources.gen_s") = Stats.median(genS)
    ctx.heap.mark()

    ctx.setPhase("timed")
    val callWall = ArrayBuffer.empty[Double]
    val perCall = surface.map(_._1).map(_ -> ArrayBuffer.empty[Double]).toMap
    val construct = ArrayBuffer.empty[Double]
    val exec = ArrayBuffer.empty[Double]
    val refreshWall = ArrayBuffer.empty[Double]
    val loopStartMs = Clock.millis()
    val loopStart = System.nanoTime()
    val minRefreshes = 3
    while (refreshWall.size < minRefreshes || Clock.secondsSince(loopStart) < ctx.opts.seconds) {
      val r0 = System.nanoTime()
      var c = 0.0
      var x = 0.0
      tr.span("dashboard.refresh") {
        surface.foreach { case (name, f) =>
          out.attempted += 1
          try {
            val q0 = System.nanoTime()
            val df = tr.span(s"engine.$name.construct")(f())
            val q1 = System.nanoTime()
            tr.span(s"engine.$name.exec")(ctx.noop(df))
            val q2 = System.nanoTime()
            c += (q1 - q0) / 1e9
            x += (q2 - q1) / 1e9
            callWall += (q2 - q0) / 1e9
            perCall(name) += (q2 - q1) / 1e9
          } catch { case e: Throwable => out.fail(s"$name: ${e.getMessage}") }
        }
      }
      refreshWall += Clock.secondsSince(r0)
      construct += c
      exec += x
    }
    val loopS = Clock.secondsSince(loopStart)
    val loopEndMs = Clock.millis()
    ctx.setPhase("after")
    ctx.heap.mark()

    out.e2e("latency_p50_s") = Stats.median(refreshWall.toSeq)
    out.e2e("latency_p90_s") = Stats.quantile(callWall.toSeq, 0.9)
    out.e2e("op_geomean_s") = Stats.geomean(callWall.toSeq)
    out.e2e("throughput_per_s") = callWall.size / loopS
    out.extra("refreshes") = refreshWall.size.toString
    out.extra("calls") = callWall.size.toString
    out.extra("image_first_name") = Json.str(first)
    out.extra("image_last_name") = Json.str(last)
    out.extra("results") = Json.str(results.toString)
    out.extra("electorate") = Json.str(dir.toString)

    if (ctx.opts.trace) {
      ctx.drainListeners()
      val n = refreshWall.size.toDouble
      out.layer("engine.construct_s") = Stats.median(construct.toSeq)
      out.layer("engine.exec_s") = Stats.median(exec.toSeq)
      perCall.foreach { case (name, xs) =>
        out.layer(s"engine.$name.exec_s") = if (xs.isEmpty) 0.0 else Stats.median(xs.toSeq)
      }
      ctx.catalystLayer(out, loopStartMs, loopEndMs, n)
      ctx.sparkLayer(out, n)
      out.layer("trace.latency_p50_s") = out.e2e("latency_p50_s")
    }
    out
  }
}
