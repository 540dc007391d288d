package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.time.Instant
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, concat_ws}
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, StreamingQueryProgress}

import graft.engine.{VotingQueries => VQ}
import graft.sources.VotingGen
import graft.streaming.EventStreams

/** `vote_stream`: an open loop of votes at a fixed rate through the
  * library's streaming topology. A generator thread drops one JSON-lines
  * file (the Kafka value shape) every tick; three checkpointed queries
  * read the files — a deduplicated vote log (parquet append), the
  * per-candidate tally upserted into a rollup, and turnout by state
  * joined against the voter table (upserted too) — while a reader
  * serves the leaderboard from the rollup once a second.
  *
  * Phases: a backlog lands, the topology starts on fresh checkpoints and
  * drains it (catch-up, timed from a cold start), then the timed live
  * phase on the warmed queries.
  */
object VoteStreamWorkload {
  val TickMs = 100
  val PerTick = 20                 // messages per tick: 200 votes/s
  val RedeliverShare = 0.03        // at-least-once redeliveries of earlier messages
  val RedeliverHorizonTicks = 50
  val JitterMs = 60000             // event-time jitter, well inside the 10-minute watermark
  val BacklogVotes = 4000
  val CommitTimeout = 90.0         // seconds to wait for the three queries to commit a target
  val IdleTimeout = 15.0

  final case class Sizes(backlogTicks: Int, liveTicks: Int) {
    def total: Int = backlogTicks + liveTicks
  }

  /** The seeded input: every tick's lines, drawn from a `VotingGen`
    * electorate (one fresh voter per new vote) with redeliveries and
    * event-time jitter. The program only ever sees these files. */
  final class Feed(val ticks: IndexedSeq[IndexedSeq[String]]) {
    def count(from: Int, until: Int): Long = (from until until).map(ticks(_).size.toLong).sum
  }

  def makeFeed(spark: SparkSession, seed: Long, sizes: Sizes, votersPath: String): Feed = {
    val nVoters = sizes.total * PerTick
    val g = VotingGen.generate(spark, nVoters = nVoters, seed = seed)
    g.voter.write.mode("overwrite").parquet(votersPath)
    val cands = g.candidate.collect().map { r =>
      r.getAs[String]("candidate_id") ->
        (s"${r.getAs[String]("first_name")} ${r.getAs[String]("last_name")}", r.getAs[String]("party"))
    }.toMap
    val voterName = g.voter.collect().map(r =>
      r.getAs[String]("voter_id") -> s"${r.getAs[String]("first_name")} ${r.getAs[String]("last_name")}").toMap
    val votes = g.vote.collect().map(r =>
      (r.getAs[String]("vote_id"), r.getAs[String]("voter_id"), r.getAs[String]("candidate_id")))
    val rnd = new Random(seed ^ 0x5eedL)
    val base = Instant.parse("2024-05-01T08:00:00Z").toEpochMilli
    val history = ArrayBuffer.empty[IndexedSeq[String]]
    var next = 0
    val ticks = (0 until sizes.total).map { k =>
      val lines = (0 until PerTick).map { _ =>
        val recent = history.takeRight(RedeliverHorizonTicks)
        if (recent.nonEmpty && rnd.nextDouble() < RedeliverShare) {
          val t = recent(rnd.nextInt(recent.size))
          t(rnd.nextInt(t.size))
        } else {
          val (voteId, voterId, candId) = votes(next)
          next += 1
          val (candName, party) = cands(candId)
          val ts = Instant.ofEpochMilli(base + k.toLong * TickMs - rnd.nextInt(JitterMs))
          s"""{"vote_id":"$voteId","voter_id":"$voterId","voter_name":"${voterName(voterId)}",""" +
            s""""candidate_id":"$candId","candidate_name":"$candName","party":"$party",""" +
            s""""voted_at":"$ts","vote":1}"""
        }
      }
      history += lines
      lines
    }
    new Feed(ticks)
  }

  /** Where one run of the topology keeps its files. */
  final class Dirs(root: Path) {
    private def d(n: String) = { val p = root.resolve(n); Files.createDirectories(p); p }
    val votes: Path = d("votes")
    val stage: Path = d("stage")
    val ckpt: Path = d("checkpoints")
    val dedupLog: String = root.resolve("dedup_log").toString
    val rollup: String = root.resolve("rollup").toString
    val turnout: String = root.resolve("turnout").toString
    val voters: String = root.resolve("voters").toString
  }

  def writeTick(dirs: Dirs, feed: Feed, k: Int): Unit = {
    val name = f"tick_$k%06d.json"
    val tmp = dirs.stage.resolve(name)
    Files.write(tmp, String.join("\n", feed.ticks(k): _*).getBytes("UTF-8"))
    Files.move(tmp, dirs.votes.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }

  /** One started query of the topology. */
  final case class Running(name: String, q: StreamingQuery, spanId: Long, startUs: Long)

  def start(spark: SparkSession, dirs: Dirs, tracer: Tracer): Seq[Running] = {
    val src = () => EventStreams.fileVoteSource(spark, dirs.votes.toString)
    val voters = spark.read.parquet(dirs.voters)
    def ck(n: String) = dirs.ckpt.resolve(n).toString
    def go(name: String)(f: => StreamingQuery): Running = {
      val id = tracer.newId()
      val t = Clock.micros()
      Running(name, tracer.attributing(id)(f), id, t)
    }
    Seq(
      go("dedup") {
        EventStreams.checkpointedWriter(EventStreams.dedupVotes(src()), ck("dedup"), OutputMode.Append())
          .format("parquet").option("path", dirs.dedupLog).start()
      },
      go("tally") {
        val agg = EventStreams.votesPerCandidate(src())
          .withColumn("rollup_key", concat_ws("|", col("window_start").cast("string"), col("candidate_id")))
        EventStreams.foreachBatchUpsert(agg, dirs.rollup, key = "rollup_key",
          versionCol = "vote_count", checkpointDir = ck("tally"))
      },
      go("turnout") {
        val agg = EventStreams.turnoutByLocation(src(), voters)
          .withColumn("turnout_key", concat_ws("|", col("window_start").cast("string"), col("address_state")))
        EventStreams.foreachBatchUpsert(agg, dirs.turnout, key = "turnout_key",
          versionCol = "turnout", checkpointDir = ck("turnout"))
      })
  }

  def stop(qs: Seq[Running], tracer: Tracer, streams: StreamStats): Unit = qs.foreach { r =>
    r.q.stop()
    tracer.record(r.spanId, 0L, s"streaming.${r.name}", r.startUs, Clock.micros())
    streams.forRun(r.q.runId).foreach { p =>
      val s = commitStartMs(p) * 1000L
      tracer.record(tracer.newId(), r.spanId, s"streaming.${r.name}.batch", s, s + duration(p, "triggerExecution") * 1000L)
    }
  }

  def duration(p: StreamingQueryProgress, k: String): Long =
    Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
  def commitStartMs(p: StreamingQueryProgress): Long = Instant.parse(p.timestamp).toEpochMilli
  def commitEndMs(p: StreamingQueryProgress): Long = commitStartMs(p) + duration(p, "triggerExecution")

  /** Commit time of the first batch of this run by which the query has
    * consumed at least `rows` input rows, if it has. */
  def committedAt(streams: StreamStats, r: Running, rows: Long): Option[Long] = {
    var cum = 0L
    streams.forRun(r.q.runId).sortBy(_.batchId).iterator.map { p =>
      cum += p.numInputRows
      (cum, p)
    }.collectFirst { case (c, p) if c >= rows => commitEndMs(p) }
  }

  /** Wait until every query has committed `rows` input rows this run;
    * returns the latest commit time in epoch ms, or None on timeout. */
  def awaitCommitted(streams: StreamStats, qs: Seq[Running], rows: Long, timeoutS: Double): Option[Long] = {
    val t0 = System.nanoTime()
    while (Clock.secondsSince(t0) < timeoutS) {
      qs.foreach(r => r.q.exception.foreach(e => throw e))
      val at = qs.map(committedAt(streams, _, rows))
      if (at.forall(_.isDefined)) return Some(at.flatten.max)
      Thread.sleep(20)
    }
    None
  }

  /** Wait (at most `IdleTimeout` s) until every query has run a batch
    * with no input after consuming `rows` rows this run. */
  def awaitIdle(streams: StreamStats, qs: Seq[Running], rows: Long): Unit = {
    val t0 = System.nanoTime()
    def idle(r: Running) = {
      val ps = streams.forRun(r.q.runId).sortBy(_.batchId)
      val done = ps.scanLeft(0L)(_ + _.numInputRows).indexWhere(_ >= rows)
      done > 0 && ps.drop(done).exists(_.numInputRows == 0)
    }
    while (!qs.forall(idle) && Clock.secondsSince(t0) < IdleTimeout) Thread.sleep(20)
  }

  /** Land the backlog, start the topology on fresh checkpoints and time
    * the drain. Returns the queries, their start time (epoch ms) and the
    * per-query commit times of the backlog. */
  def catchUp(spark: SparkSession, dirs: Dirs, feed: Feed, sizes: Sizes, tracer: Tracer,
      streams: StreamStats, beforeStart: () => Unit): (Seq[Running], Long, Seq[Option[Long]]) = {
    (0 until sizes.backlogTicks).foreach(writeTick(dirs, feed, _))
    beforeStart()
    val startMs = Clock.millis()
    val qs = start(spark, dirs, tracer)
    val backlog = feed.count(0, sizes.backlogTicks)
    if (awaitCommitted(streams, qs, backlog, CommitTimeout).isEmpty) sys.error("backlog did not drain")
    (qs, startMs, qs.map(committedAt(streams, _, backlog)))
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val out = new Outcome
    val tr = ctx.tracer
    val sizes =
      if (ctx.opts.tiny) Sizes(backlogTicks = 25, liveTicks = 20)
      else Sizes(backlogTicks = BacklogVotes / PerTick, liveTicks = ctx.opts.seconds * 1000 / TickMs)
    val dirs = new Dirs(ctx.opts.work.resolve("stream"))

    val g0 = System.nanoTime()
    val feed = tr.span("sources.generate")(makeFeed(spark, ctx.opts.seed, sizes, dirs.voters))
    val genS = Clock.secondsSince(g0)
    val backlogRows = feed.count(0, sizes.backlogTicks)
    System.err.println(s"[perfbench] inputs generated at ${ctx.sinceStart()} s")
    val (qs, startMs, backlogAt) = catchUp(spark, dirs, feed, sizes, tr, ctx.streams, () => {
      out.e2e("setup_s") = ctx.sinceStart()
      out.layer("sources.gen_s") = genS
      ctx.heap.mark()
      ctx.setPhase("timed")
    })
    val catchupS = (backlogAt.flatten.max - startMs) / 1e3
    System.err.println(s"[perfbench] caught up at ${ctx.sinceStart()} s (catch-up $catchupS s)")
    out.e2e("throughput_per_s") = backlogRows / catchupS
    qs.zip(backlogAt).foreach { case (r, at) =>
      out.layer(s"streaming.${r.name}.catchup_rows_per_s") = backlogRows / ((at.get - startMs) / 1e3)
    }

    // the backlog moved the watermark: let each query finish the no-data
    // batch that follows, so the live phase starts on idle queries
    awaitIdle(ctx.streams, qs, backlogRows)

    // live phase: generator and leaderboard reader on their own threads
    val liveFirst = sizes.backlogTicks
    val liveStartMs = Clock.millis() + 200
    val lateMax = new AtomicLong(0)
    val generator = new Thread(() => {
      (0 until sizes.liveTicks).foreach { i =>
        val due = liveStartMs + i.toLong * TickMs
        val wait = due - Clock.millis()
        if (wait > 0) Thread.sleep(wait)
        lateMax.accumulateAndGet(Clock.millis() - due, math.max)
        writeTick(dirs, feed, liveFirst + i)
      }
    }, "perfbench-generator")
    val readLatency = ArrayBuffer.empty[Double]
    val readExec = ArrayBuffer.empty[Double]
    var retries = 0
    val nReads = math.max(1, sizes.liveTicks * TickMs / 1000)
    val reader = new Thread(() => {
      ctx.setPhase("timed")
      (0 until nReads).foreach { j =>
        val due = liveStartMs + 500 + j * 1000L
        val wait = due - Clock.millis()
        if (wait > 0) Thread.sleep(wait)
        out.synchronized(out.attempted += 1)
        var attempt = 0
        var done = false
        while (!done && attempt < 3) {
          attempt += 1
          try {
            val t0 = System.nanoTime()
            val rows = tr.span("engine.leaderboard_rollup") {
              VQ.leaderboardFromRollup(spark.read.parquet(dirs.rollup).drop("rollup_key")).collect()
            }
            readExec += Clock.secondsSince(t0)
            readLatency += (Clock.millis() - due) / 1e3
            if (rows.length != 3 || rows.exists(_.getAs[Long]("vote_count") <= 0))
              out.fail(s"leaderboard read $j returned ${rows.length} rows")
            done = true
          } catch { case _: Throwable => retries += 1 }
        }
        if (!done) out.fail(s"leaderboard read $j failed $attempt times")
      }
    }, "perfbench-reader")
    generator.start(); reader.start()
    generator.join()
    val genEndMs = Clock.millis()
    val liveRows = feed.count(liveFirst, sizes.total)
    val finished = awaitCommitted(ctx.streams, qs, backlogRows + liveRows, CommitTimeout)
    reader.join()
    System.err.println(s"[perfbench] live phase committed at ${ctx.sinceStart()} s")
    stop(qs, tr, ctx.streams)
    ctx.setPhase("after")
    ctx.heap.mark()

    // vote-to-result latency per live tick: from its due time until all
    // three queries committed a batch containing it
    val latency = ArrayBuffer.empty[Double]
    var cum = backlogRows
    (0 until sizes.liveTicks).foreach { i =>
      cum += feed.ticks(liveFirst + i).size
      out.attempted += 1
      val at = qs.map(committedAt(ctx.streams, _, cum))
      if (at.exists(_.isEmpty)) out.fail(s"tick ${liveFirst + i} never committed")
      else latency += (at.flatten.max - (liveStartMs + i.toLong * TickMs)) / 1e3
    }
    if (finished.isEmpty) out.extra("timeout") = "true"
    if (latency.isEmpty) sys.error("no live tick committed")
    out.e2e("latency_p50_s") = Stats.median(latency.toSeq)
    out.e2e("latency_p90_s") = Stats.quantile(latency.toSeq, 0.9)
    out.e2e("op_geomean_s") = if (readLatency.isEmpty) Double.NaN else Stats.geomean(readLatency.toSeq)
    out.extra("live_ticks") = sizes.liveTicks.toString
    out.extra("tick_latency_s") = latency.map(Json.num).mkString("[", ",", "]")
    out.extra("reads") = readLatency.size.toString
    out.extra("read_p50_s") = Json.num(if (readLatency.isEmpty) Double.NaN else Stats.median(readLatency.toSeq))

    checkAgainstBatchTwins(spark, dirs, out, ctx.opts.fault)
    System.err.println(s"[perfbench] batch twins checked at ${ctx.sinceStart()} s")

    if (ctx.opts.trace) {
      ctx.drainListeners()
      val inputRows = feed.count(0, sizes.total)
      val kept = spark.read.parquet(dirs.dedupLog).count()
      out.layer("engine.leaderboard_rollup.exec_s") = if (readExec.isEmpty) 0.0 else Stats.median(readExec.toSeq)
      var empty = 0; var all = 0
      qs.foreach { r =>
        val ps = ctx.streams.forRun(r.q.runId).filter(p => commitStartMs(p) >= liveStartMs)
        val data = ps.filter(_.numInputRows > 0)
        empty += ps.size - data.size; all += ps.size
        def p50(f: StreamingQueryProgress => Double) = if (data.isEmpty) 0.0 else Stats.median(data.map(f))
        val n = s"streaming.${r.name}"
        out.layer(s"$n.batches") = ps.size.toDouble
        out.layer(s"$n.rows_per_batch_p50") = p50(_.numInputRows.toDouble)
        out.layer(s"$n.trigger_ms_p50") = p50(duration(_, "triggerExecution").toDouble)
        out.layer(s"$n.addBatch_ms_p50") = p50(duration(_, "addBatch").toDouble)
        out.layer(s"$n.source_ms_p50") = p50(p => (duration(p, "getBatch") + duration(p, "latestOffset")).toDouble)
        out.layer(s"$n.planning_ms_p50") = p50(duration(_, "queryPlanning").toDouble)
        out.layer(s"$n.commit_ms_p50") = p50(p => (duration(p, "walCommit") + duration(p, "commitOffsets")).toDouble)
        val last = ctx.streams.forRun(r.q.runId).lastOption
        out.layer(s"$n.state_rows_end") = last.map(_.stateOperators.map(_.numRowsTotal).sum.toDouble).getOrElse(0.0)
        out.layer(s"$n.state_mem_bytes_end") = last.map(_.stateOperators.map(_.memoryUsedBytes).sum.toDouble).getOrElse(0.0)
      }
      out.layer("streaming.dedup.kept_share") = kept.toDouble / inputRows
      out.layer("streaming.empty_batch_share") = if (all == 0) 0.0 else empty.toDouble / all
      // messages generated but not yet committed by the slowest query
      // when the generator finished
      val committedAtEnd = qs.map { r =>
        ctx.streams.forRun(r.q.runId).filter(commitEndMs(_) <= genEndMs).map(_.numInputRows).sum
      }.min
      out.layer("streaming.backlog_end_votes") = math.max(0L, backlogRows + liveRows - committedAtEnd).toDouble
      out.layer("sources.gen_late_max_s") = lateMax.get / 1e3
      out.layer("sinks.rollup_bytes_end") = dirBytes(java.nio.file.Paths.get(dirs.rollup)).toDouble
      out.layer("sinks.read_retries") = retries.toDouble
      ctx.catalystLayer(out, startMs, Clock.millis(), 1.0)
      ctx.sparkLayer(out, 1.0)
      out.layer("trace.latency_p50_s") = out.e2e("latency_p50_s")
    }
    out
  }

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else { val s = Files.walk(p); try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum finally s.close() }

  /** Stream outputs against their batch twins over the same files. */
  def checkAgainstBatchTwins(spark: SparkSession, dirs: Dirs, out: Outcome, fault: Boolean): Unit = {
    val all = EventStreams.parseVotes(spark.read.text(dirs.votes.toString)).cache()
    val voters = spark.read.parquet(dirs.voters)
    def same(name: String, stream: DataFrame, batch: DataFrame): Unit = {
      out.attempted += 1
      val cols = batch.columns.toSeq
      val s = stream.select(cols.map(col): _*)
      val extra = s.exceptAll(batch).count()
      val miss = batch.exceptAll(s).count()
      if (extra + miss > 0) out.fail(s"$name: $extra extra / $miss missing rows against the batch twin")
    }
    val rollup = spark.read.parquet(dirs.rollup)
    // a deliberately wrong result: one rollup row lost
    same("tally", if (fault) rollup.exceptAll(rollup.limit(1)) else rollup, EventStreams.votesPerCandidate(all))
    same("turnout", spark.read.parquet(dirs.turnout), EventStreams.turnoutByLocation(all, voters))
    out.attempted += 1
    val log = spark.read.parquet(dirs.dedupLog)
    val n = log.count()
    val ids = log.select("vote_id").distinct().count()
    val vs = log.select("voter_id").distinct().count()
    val expect = all.select("vote_id").distinct().count()
    if (!(n == ids && n == vs && n == expect))
      out.fail(s"dedup log: $n rows, $ids vote_ids, $vs voter_ids, $expect distinct input votes")
  }
}
