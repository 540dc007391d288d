package graft

import java.nio.file.Files
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQueryProgress}

import graft.streaming.EventStreams

/** Structured Streaming behavior: batch/stream parity, JSON boundary
  * parsing, dedup, late-data handling under watermark, and
  * checkpoint-restart recovery (the report's §3.3 claims).
  */
class StreamingSpec extends SparkSpec {

  private def ckpt(): String =
    Files.createTempDirectory("graft-ckpt").toString

  private def voteJson(voteId: String, voterId: String, candidateId: String,
      name: String, party: String, at: String): String =
    s"""{"vote_id":"$voteId","voter_id":"$voterId","voter_name":"V $voterId",
       |"candidate_id":"$candidateId","candidate_name":"$name","party":"$party",
       |"voted_at":"$at","vote":1}""".stripMargin.replaceAll("\n", "")

  test("kafka-shaped JSON parses through the declared message schema") {
    import spark.implicits._
    val df = Seq(voteJson("t1", "v1", "c1", "Alice Smith", "Management Party",
      "2024-05-01 10:05:00")).toDF("value")
    val parsed = EventStreams.parseVotes(df).collect()(0)
    assert(parsed.getAs[String]("vote_id") === "t1")
    assert(parsed.getAs[String]("party") === "Management Party")
    assert(parsed.getAs[Timestamp]("voted_at") === Timestamp.valueOf("2024-05-01 10:05:00"))
    assert(parsed.getAs[Int]("vote") === 1)
  }

  test("corrupt payloads and tombstones are dropped at the parse boundary") {
    import spark.implicits._
    val df = Seq(
      voteJson("t1", "v1", "c1", "A", "P", "2024-05-01 10:05:00"),
      "{not json at all",
      """{"vote_id":"t2","voted_at":"not-a-timestamp"}""",
      null.asInstanceOf[String]).toDF("value")
    val parsed = EventStreams.parseVotes(df).collect()
    assert(parsed.map(_.getAs[String]("vote_id")).toSeq === Seq("t1"))
  }

  test("streaming votesPerCandidate equals its batch twin on the same bounded input") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val msgs = (0 until 50).map { i =>
      voteJson(s"t$i", s"v$i", s"c${i % 3}", s"Cand ${i % 3}", s"P${i % 3}",
        f"2024-05-01 ${10 + i / 20}%02d:${(i * 3) % 60}%02d:00")
    }
    val stream = MemoryStream[String]
    stream.addData(msgs)
    val agg = EventStreams.votesPerCandidate(
      EventStreams.parseVotes(stream.toDF()))
    val q = EventStreams.runToMemory(agg, "vpc", ckpt())
    val streamed = spark.table("vpc")
      .orderBy("window_start", "candidate_id").collect().toSeq.map(_.toSeq)
    q.stop()
    val batch = EventStreams.votesPerCandidate(
      EventStreams.parseVotes(msgs.toDF("value")))
      .orderBy("window_start", "candidate_id").collect().toSeq.map(_.toSeq)
    assert(streamed === batch)
    assert(streamed.map(_(5).asInstanceOf[Long]).sum === 50L)
  }

  test("turnoutByLocation joins the static voter dimension into the stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val voters = Seq(("v1", "Texas"), ("v2", "Texas"), ("v3", "Ohio"))
      .toDF("voter_id", "address_state")
    val stream = MemoryStream[String]
    stream.addData(Seq(
      voteJson("t1", "v1", "c1", "A", "P", "2024-05-01 10:05:00"),
      voteJson("t2", "v2", "c1", "A", "P", "2024-05-01 10:15:00"),
      voteJson("t3", "v3", "c2", "B", "Q", "2024-05-01 10:25:00")))
    val agg = EventStreams.turnoutByLocation(
      EventStreams.parseVotes(stream.toDF()), voters)
    val q = EventStreams.runToMemory(agg, "turnout", ckpt())
    val rows = spark.table("turnout").orderBy("address_state")
      .select("address_state", "turnout").collect().map(_.toSeq).toSeq
    q.stop()
    assert(rows === Seq(Seq("Ohio", 1L), Seq("Texas", 2L)))
  }

  test("dedupVotes drops redelivered vote_ids and enforces unique_voter") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[String]
    stream.addData(Seq(
      voteJson("t1", "v1", "c1", "A", "P", "2024-05-01 10:05:00"),
      voteJson("t1", "v1", "c1", "A", "P", "2024-05-01 10:05:00"), // kafka redelivery
      voteJson("t2", "v1", "c2", "B", "Q", "2024-05-01 10:06:00"), // same voter, 2nd vote
      voteJson("t3", "v2", "c1", "A", "P", "2024-05-01 10:07:00")))
    val deduped = EventStreams.dedupVotes(EventStreams.parseVotes(stream.toDF()))
    val q = deduped.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("dedup").option("checkpointLocation", ckpt()).start()
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("dedup").select("voter_id").collect().map(_.getString(0)).sorted
    assert(rows.toSeq === Seq("v1", "v2"))
  }

  test("streaming incremental dedup drops store hits and in-stream redeliveries") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val store = Seq("seen before").toDF("text").select(md5($"text").as("fingerprint"))
    val stream = MemoryStream[(Long, Timestamp, String)]
    val docs = stream.toDF().toDF("doc_id", "ingest_ts", "text")
    val q = EventStreams.dedupDocsAgainstStore(docs, store)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("incdedup")
      .option("checkpointLocation", ckpt()).start()
    stream.addData(Seq(
      (1L, Timestamp.valueOf("2024-05-01 10:00:00"), "fresh one"),
      (2L, Timestamp.valueOf("2024-05-01 10:00:10"), "seen before"),  // in store → dropped
      (3L, Timestamp.valueOf("2024-05-01 10:00:20"), "fresh two")))
    q.processAllAvailable()
    stream.addData(Seq(
      (4L, Timestamp.valueOf("2024-05-01 10:01:00"), "fresh one"),   // in-stream dup → dropped
      (5L, Timestamp.valueOf("2024-05-01 10:01:10"), "fresh three")))
    q.processAllAvailable()
    q.stop()
    val kept = spark.table("incdedup").select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept.toSeq === Seq(1L, 3L, 5L))
  }

  test("bloom-prefiltered streaming dedup keeps exactly the unprefiltered twin's survivors") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val store = Seq("seen before", "also historical").toDF("text")
      .select(md5($"text").as("fingerprint"))
    val bloom = graft.operators.Dedup.bloomWords(store)
    val stream = MemoryStream[(Long, Timestamp, String)]
    val docs = stream.toDF().toDF("doc_id", "ingest_ts", "text")
    val q = EventStreams.dedupDocsWithBloom(docs, bloom, store)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("bloomdedup")
      .option("checkpointLocation", ckpt()).start()
    stream.addData(Seq(
      (1L, Timestamp.valueOf("2024-05-01 10:00:00"), "fresh one"),
      (2L, Timestamp.valueOf("2024-05-01 10:00:10"), "seen before"),      // store hit → dropped
      (3L, Timestamp.valueOf("2024-05-01 10:00:20"), "fresh two"),
      (4L, Timestamp.valueOf("2024-05-01 10:00:30"), "also historical"))) // store hit → dropped
    q.processAllAvailable()
    stream.addData(Seq(
      (5L, Timestamp.valueOf("2024-05-01 10:01:00"), "fresh one"),        // in-stream dup → dropped
      (6L, Timestamp.valueOf("2024-05-01 10:01:10"), "fresh three")))
    q.processAllAvailable()
    q.stop()
    val kept = spark.table("bloomdedup").select("doc_id").collect().map(_.getLong(0)).sorted
    // identical to what dedupDocsAgainstStore keeps on this feed
    assert(kept.toSeq === Seq(1L, 3L, 6L))
  }

  test("streaming ingest pipeline gates quality before dedup state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val store = Seq("already ingested doc").toDF("text")
      .select(md5($"text").as("fingerprint"))
    val stream = MemoryStream[(Long, Timestamp, String)]
    val docs = stream.toDF().toDF("doc_id", "ingest_ts", "text")
    val q = EventStreams.ingestDocs(docs, store, minTokens = 3)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("ingest")
      .option("checkpointLocation", ckpt()).start()
    stream.addData(Seq(
      (1L, Timestamp.valueOf("2024-05-01 10:00:00"), "a good fresh document"),
      (2L, Timestamp.valueOf("2024-05-01 10:00:05"), "too short"),           // quality-gated
      (3L, Timestamp.valueOf("2024-05-01 10:00:10"), "already ingested doc"), // store hit
      (4L, Timestamp.valueOf("2024-05-01 10:00:15"), "a good fresh document"))) // stream dup
    q.processAllAvailable()
    q.stop()
    val kept = spark.table("ingest")
      .select("doc_id", "n_tokens").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(kept.toSeq === Seq((1L, 4L)))
  }

  test("streaming quality gate matches batch filterDocs on the whole fixture and a stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // 1. projection form ≡ aggregate form over every fixture doc
    val dir = "/root/testdata/sf0.001"
    val batch = graft.operators.TextAnalysis.filterDocs(spark, dir)
      .select("doc_id", "verdict").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val proj = EventStreams.qualityGate(
      graft.engine.Tables.load(spark, dir, "documents"))
      .select("doc_id", "verdict").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(proj === batch)
    assert(proj.values.toSet.contains("keep"))
    // 2. the same projection executes on a stream, all verdicts covered
    val rows = Seq(
      (1L, "just three words"),
      (2L, Seq.fill(20)("x").mkString(" ")),
      (3L, "a b a b a b c d e f g h i j k l m n o p"),
      (4L, ('a' to 't').map(c => s"w$c").mkString(" ")),
      (5L, "solo"))
    val stream = MemoryStream[(Long, String)]
    val q = EventStreams.qualityGate(stream.toDF().toDF("doc_id", "text"))
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("qgate")
      .option("checkpointLocation", ckpt()).start()
    stream.addData(rows)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("qgate").select("doc_id", "verdict", "keep").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getBoolean(2))).sortBy(_._1).toSeq
    assert(got === Seq((1L, "too_short", false), (2L, "repetitive", false),
      (3L, "boilerplate", false), (4L, "keep", true), (5L, "too_short", false)))
  }

  test("streaming temperature gate admits exactly the batch gate's docs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    // the batch-computed per-source rate table a live ingest would load
    val rates = graft.operators.Corpus.temperature(spark, dir)
      .select("source", "rate_ppm")
    val batch = graft.operators.Corpus.temperatureGateBatch(spark, dir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(batch.nonEmpty)
    // replay the fixture docs through the streaming gate
    val docs = graft.engine.Tables.load(spark, dir, "documents")
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val stream = MemoryStream[(Long, String, String)]
    val q = EventStreams.temperatureGate(
        stream.toDF().toDF("doc_id", "source", "text"), rates)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("tgate")
      .option("checkpointLocation", ckpt()).start()
    stream.addData(docs.toSeq)
    // an unknown source must be dropped, not passed or crashed
    stream.addData(Seq((-1L, "no-such-source", "some text")))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("tgate").select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(got === batch)
  }

  test("streaming ER enrichment matches exactly the batch full-catalog matcher") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val batch = graft.operators.EntityResolution.matchFull(spark, dir)
      .select("mention_id", "matched_id", "dist").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(batch.nonEmpty)
    // the frozen catalog shard a serving tier would pin per executor
    val cat = graft.engine.Tables.load(spark, dir, "part")
      .groupBy($"p_name").agg(org.apache.spark.sql.functions.min($"p_partkey").as("id"))
      .orderBy($"id").collect().map(r => (r.getLong(1), r.getString(0))).toSeq
    // replay the planted mentions through the stateless stream matcher
    val mentions = graft.operators.EntityResolution.matchFull(spark, dir)
      .select("mention_id", "mention").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val stream = MemoryStream[(Long, String)]
    val q = graft.operators.EntityResolution.erEnrich(
        stream.toDF().toDF("mention_id", "mention"), cat)
      .select("mention_id", "matched_id", "dist")
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("erenrich")
      .option("checkpointLocation", ckpt()).start()
    stream.addData(mentions.toSeq)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("erenrich").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === batch)
  }

  test("streaming PQ encoder assigns exactly the batch encoder's sub-codes") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    // the frozen serving model a live ingest would load
    val (mns, mxs, books) = graft.operators.Similarity.trainedPqModel(spark, dir)
    val vecs = graft.engine.Tables.load(spark, dir, "embeddings")
      .select($"vec_id", graft.functions.Vectors.toDouble($"embedding").as("emb"))
    val batch = graft.operators.Similarity.pqEncodeWith(vecs, mns, mxs, books)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(batch.nonEmpty)
    // replay the same vectors through the streaming encoder
    val rows = vecs.collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    val stream = MemoryStream[(Long, Seq[Double])]
    val q = EventStreams.encodeVectorStream(
        stream.toDF().toDF("vec_id", "emb"), mns, mxs, books)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("pqenc")
      .option("checkpointLocation", ckpt()).start()
    stream.addData(rows.toSeq)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("pqenc").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === batch)
    // every vector carries exactly one code per subspace
    assert(got.size === rows.length * graft.operators.Similarity.PqSubspaces)
  }

  test("streaming transitions equal the batch matrix when users arrive in order") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val batch = graft.operators.WindowedEvents.eventTransitions(spark, dir)
      .select("src_type", "dst_type", "n_trans").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(batch.nonEmpty)
    // feed the fixture in global (ts, event_id) order, split across
    // two batches — the per-user cross-batch order a user-keyed
    // Kafka partition guarantees
    val rows = graft.engine.Tables.load(spark, dir, "events")
      .select($"user_id",
        expr("unix_micros(CAST(ts AS TIMESTAMP))").as("tsu"),
        $"event_id", $"event_type")
      .orderBy($"tsu", $"event_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val (b1, b2) = rows.splitAt(rows.length / 2)
    val stream = MemoryStream[(Long, Long, Long, String)]
    val src = stream.toDF().toDF("user_id", "tsu", "event_id", "event_type")
      .select($"user_id",
        expr("timestampadd(MICROSECOND, tsu, TIMESTAMP_NTZ '1970-01-01')").as("ts"),
        $"event_id", $"event_type")
    val q = EventStreams.transitionStream(src)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("trans")
      .option("checkpointLocation", ckpt()).start()
    stream.addData(b1.toSeq)
    q.processAllAvailable()
    stream.addData(b2.toSeq)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("trans").groupBy("src_type", "dst_type").count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got === batch)
  }

  test("streaming IVF assigner routes exactly the batch index's list populations") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val cents = graft.operators.Similarity.trainIvfCentroids(spark, dir)
    val batch = graft.operators.Similarity.ivfBalance(spark, dir)
      .select("cent_id", "n_vecs").collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val rows = graft.engine.Tables.load(spark, dir, "embeddings")
      .select($"vec_id", graft.functions.Vectors.toDouble($"embedding").as("emb"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    val stream = MemoryStream[(Long, Seq[Double])]
    val q = EventStreams.assignVectorStream(
        stream.toDF().toDF("vec_id", "emb"), cents)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("ivfassign")
      .option("checkpointLocation", ckpt()).start()
    stream.addData(rows.toSeq)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("ivfassign").groupBy("cent_id").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    // every vector routed exactly once, to the batch index's list
    assert(got.values.sum === rows.length.toLong)
    batch.filter(_._2 > 0).foreach { case (c, n) =>
      assert(got.getOrElse(c, 0L) === n, s"list $c population")
    }
  }

  test("streaming compliance scan matches the batch piiScan row for row") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      (1L, "contact bob@example.com at 10.1.2.3"),
      (2L, "phone +1-555-0199 twice +1-555-0200"),
      (3L, "nothing sensitive here"))
    val stream = MemoryStream[(Long, String)]
    val docs = stream.toDF().toDF("doc_id", "text")
    val q = EventStreams.scanDocs(docs)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("ccscan")
      .option("checkpointLocation", ckpt()).start()
    stream.addData(rows)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("ccscan")
      .select("doc_id", "n_emails", "n_ips", "n_phones", "redacted_md5", "has_pii")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4), r.getBoolean(5)))
      .sortBy(_._1)
    val batch = graft.operators.Redaction
      .piiScan(rows.toDF("doc_id", "text"), Seq("doc_id"), "text")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
      .sortBy(_._1)
    assert(got.map(t => (t._1, t._2, t._3, t._4, t._5)).toSeq === batch.toSeq)
    assert(got.map(t => (t._1, t._6)).toSeq ===
      Seq((1L, true), (2L, true), (3L, false)))
    // the streaming output keeps the original document columns too
    assert(spark.table("ccscan").columns.contains("text"))
  }

  test("streaming OHLC candles elect open/close deterministically, ties included") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Timestamp, String, Double)]
    val events = stream.toDF().toDF("event_id", "ts", "event_type", "value")
    val q = EventStreams.ohlcCandles(events, watermark = "0 seconds")
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("candles")
      .option("checkpointLocation", ckpt()).start()
    stream.addData(Seq(
      // two events at the SAME timestamp open the hour: the lower
      // event_id must win the open election in both engines
      (2L, Timestamp.valueOf("2024-05-01 10:00:00"), "click", 5.00),
      (1L, Timestamp.valueOf("2024-05-01 10:00:00"), "click", 7.00),
      (3L, Timestamp.valueOf("2024-05-01 10:30:00"), "click", 1.00),
      (4L, Timestamp.valueOf("2024-05-01 10:59:59"), "click", 3.00)))
    stream.addData(Seq((5L, Timestamp.valueOf("2024-05-01 12:30:00"), "click", 9.00)))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("candles")
      .selectExpr("event_type", "open_cents", "high_cents", "low_cents",
        "close_cents", "volume", "total_cents", "window.start AS ws")
      .collect()
    val hour10 = rows.find(_.getTimestamp(7) == Timestamp.valueOf("2024-05-01 10:00:00"))
    assert(hour10.isDefined, "10:00 window must be closed by the 12:30 watermark advance")
    val r = hour10.get
    assert(r.getLong(1) === 700L, "open = event_id 1 (tie broken by id), not event_id 2")
    assert(r.getLong(2) === 700L && r.getLong(3) === 100L)
    assert(r.getLong(4) === 300L, "close = 10:59:59 event")
    assert(r.getLong(5) === 4L && r.getLong(6) === 1600L)
  }

  test("streaming drift cells + shared TV rollup match a hand-computed drift row") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Timestamp, String, Double)]
    val events = stream.toDF().toDF("event_id", "ts", "event_type", "value")
    val q = EventStreams.driftCells(events, watermark = "0 seconds")
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("drift_cells")
      .option("checkpointLocation", ckpt()).start()
    stream.addData(Seq(
      (1L, Timestamp.valueOf("2024-05-01 10:00:00"), "click", 1.0),
      (2L, Timestamp.valueOf("2024-05-01 10:10:00"), "click", 1.7),
      (3L, Timestamp.valueOf("2024-05-01 10:20:00"), "click", 2.5),
      (4L, Timestamp.valueOf("2024-05-01 10:30:00"), "click", 2.9)))
    // later events both advance the watermark (closing hour 10) and
    // contribute to the baseline the monitor compares against
    stream.addData(Seq(
      (5L, Timestamp.valueOf("2024-05-01 12:30:00"), "click", 1.2),
      (6L, Timestamp.valueOf("2024-05-01 12:40:00"), "click", 5.5)))
    q.processAllAvailable()
    q.stop()
    val cells = spark.table("drift_cells")
    assert(cells.count() === 2, "hour 10 closes into two bucket cells")
    // baseline over ALL six events: bucket 1 -> 3/6, 2 -> 2/6, 5 -> 1/6
    val baseline = Seq(("click", 1L, 500000L), ("click", 2L, 333333L),
      ("click", 5L, 166666L)).toDF("event_type", "bucket", "base_ppm")
    val got = EventStreams.tvAgainstBaseline(cells, baseline).collect()
    assert(got.length === 1)
    val r = got.head
    // hour 10: buckets (1 -> 2/4 = 500000, 2 -> 2/4 = 500000);
    // TV = (|500000-500000| + |500000-333333| + unseen 166666) div 2
    assert(r.getAs[String]("event_type") === "click")
    assert(r.getAs[Long]("n_events") === 4L)
    assert(r.getAs[Long]("tv_ppm") === 166666L)
  }

  test("streaming trending top-k over closed windows equals the batch twin's ranking") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Timestamp, String)]
    val events = stream.toDF().toDF("event_id", "ts", "event_type")
    val q = EventStreams.trendingCounts(events, watermark = "0 seconds")
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("trend_counts")
      .option("checkpointLocation", ckpt()).start()
    val hour10 = Seq(
      // 4 types with distinct counts plus a tie (click=scroll=2):
      // the rank must break the tie alphabetically in both paths
      "view", "view", "view", "view", "click", "click", "scroll", "scroll", "buy")
      .zipWithIndex.map { case (t, i) =>
        (i.toLong, Timestamp.valueOf(s"2024-05-01 10:0${i % 10}:00"), t) }
    stream.addData(hour10)
    // advance the watermark past hour 10 so its windows close
    stream.addData(Seq((99L, Timestamp.valueOf("2024-05-01 12:30:00"), "view")))
    q.processAllAvailable()
    q.stop()
    val closed = spark.table("trend_counts")
    val streamed = EventStreams.rankClosedWindows(closed)
      .filter($"window_start" === Timestamp.valueOf("2024-05-01 10:00:00"))
      .select("event_type", "cnt", "rnk").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._3)
    assert(streamed.toSeq === Seq(("view", 4L, 1L), ("click", 2L, 2L), ("scroll", 2L, 3L)),
      "top-3 with the click/scroll tie broken alphabetically")
    // batch twin over the same bounded rows ranks identically
    val batchRanked = EventStreams.rankClosedWindows(
      (hour10 :+ ((99L, Timestamp.valueOf("2024-05-01 12:30:00"), "view")))
        .toDF("event_id", "ts", "event_type")
        .groupBy(window($"ts", "1 hour"), $"event_type")
        .agg(count(lit(1)).as("cnt"))
        .select($"window.start".as("window_start"), $"window.end".as("window_end"),
          $"event_type", $"cnt"))
      .filter($"window_start" === Timestamp.valueOf("2024-05-01 10:00:00"))
      .select("event_type", "cnt", "rnk").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._3)
    assert(batchRanked.toSeq === streamed.toSeq, "live ranking == backfill ranking")
  }

  test("late rows beyond the watermark are dropped from append-mode windows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[String]
    val agg = EventStreams.votesPerCandidate(
      EventStreams.parseVotes(stream.toDF()), watermark = "10 minutes")
    val q = agg.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("late").option("checkpointLocation", ckpt()).start()
    // batch 1: events in hour 10; advance event time far past hour 10 + watermark
    stream.addData(Seq(
      voteJson("t1", "v1", "c1", "A", "P", "2024-05-01 10:05:00"),
      voteJson("t2", "v2", "c1", "A", "P", "2024-05-01 12:30:00")))
    q.processAllAvailable()
    // batch 2: a straggler for hour 10 — watermark (12:30 - 10min) closed that window
    stream.addData(Seq(voteJson("t9", "v9", "c1", "A", "P", "2024-05-01 10:06:00")))
    q.processAllAvailable()
    // batch 3: advance time so hour-12 window also emits
    stream.addData(Seq(voteJson("t4", "v4", "c1", "A", "P", "2024-05-01 14:00:00")))
    q.processAllAvailable()
    q.stop()
    val counts = spark.table("late")
      .select("window_start", "vote_count").collect()
      .map(r => r.getTimestamp(0).toString -> r.getLong(1)).toMap
    // hour-10 window emitted exactly 1 (the straggler was dropped)
    assert(counts("2024-05-01 10:00:00.0") === 1L)
    assert(counts("2024-05-01 12:00:00.0") === 1L)
  }

  test("checkpoint restart resumes counts exactly once (report §3.3 recovery)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val checkpoint = ckpt()
    val out = Files.createTempDirectory("graft-out").toString
    val stream = MemoryStream[String]
    def agg(s: MemoryStream[String]) =
      EventStreams.votesPerCandidate(EventStreams.parseVotes(s.toDF()))
    val q1 = agg(stream).writeStream.outputMode(OutputMode.Append())
      .format("parquet").option("path", out)
      .option("checkpointLocation", checkpoint).start()
    stream.addData(Seq(voteJson("t1", "v1", "c1", "A", "P", "2024-05-01 10:05:00")))
    stream.addData(Seq(voteJson("t2", "v2", "c1", "A", "P", "2024-05-01 13:00:00")))
    q1.processAllAvailable()
    q1.stop()
    // restart from the same checkpoint with a fresh source continuing the offsets
    val stream2 = MemoryStream[String]
    stream2.addData(Seq(voteJson("t1", "v1", "c1", "A", "P", "2024-05-01 10:05:00")))
    stream2.addData(Seq(voteJson("t2", "v2", "c1", "A", "P", "2024-05-01 13:00:00")))
    stream2.addData(Seq(voteJson("t3", "v3", "c1", "A", "P", "2024-05-01 16:00:00")))
    val q2 = agg(stream2).writeStream.outputMode(OutputMode.Append())
      .format("parquet").option("path", out)
      .option("checkpointLocation", checkpoint).start()
    q2.processAllAvailable()
    q2.stop()
    val result = spark.read.parquet(out)
    // hour-10 and hour-13 windows each closed exactly once despite replay
    assert(result.filter("vote_count <> 1").count() === 0)
    assert(result.select("window_start").distinct().count() === result.count())
  }

  test("foreachBatch upsert keeps the newest row per key across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val out = Files.createTempDirectory("graft-upsert").toString + "/table"
    val stream = MemoryStream[String]
    val q = EventStreams.foreachBatchUpsert(
      EventStreams.parseVotes(stream.toDF()), out,
      key = "voter_id", versionCol = "voted_at", checkpointDir = ckpt())
    stream.addData(Seq(
      voteJson("t1", "v1", "c1", "A", "P", "2024-05-01 10:00:00"),
      voteJson("t2", "v2", "c1", "A", "P", "2024-05-01 10:01:00")))
    q.processAllAvailable()
    // second batch: v1 re-votes (newer) — upsert must replace, not append
    stream.addData(Seq(voteJson("t3", "v1", "c2", "B", "Q", "2024-05-01 11:00:00")))
    q.processAllAvailable()
    q.stop()
    val rows = spark.read.parquet(out)
      .select("voter_id", "vote_id").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(rows === Map("v1" -> "t3", "v2" -> "t2"))
  }

  test("file vote source streams JSON-lines files end to end") {
    val srcDir = Files.createTempDirectory("graft-filesrc").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(srcDir, "b1.json"),
      (1 to 20).map(i => voteJson(s"t$i", s"v$i", s"c${i % 2}", "C", "P",
        f"2024-05-01 10:${i % 60}%02d:00")).mkString("\n").getBytes)
    val agg = EventStreams.votesPerCandidate(EventStreams.fileVoteSource(spark, srcDir))
    val q = EventStreams.runToMemory(agg, "filesrc", ckpt())
    val total = spark.table("filesrc")
      .agg(org.apache.spark.sql.functions.sum("vote_count")).collect()(0).getLong(0)
    q.stop()
    assert(total === 20L)
  }

  test("Q2 leaderboard served from the stream-maintained rollup equals the raw-vote query") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val out = Files.createTempDirectory("graft-rollup").toString + "/rollup"
    // distinct per-candidate totals (11/12/7) so every rank is
    // unambiguous, and ONLY c1 occupies the latest hour so the
    // reference's unpinned single-row change CTE is deterministic too
    def msg(i: Int, cand: Int, hour: Int) =
      voteJson(s"t$i", s"v$i", s"c$cand", s"Cand $cand", s"P$cand",
        f"2024-05-01 $hour%02d:${i % 60}%02d:00")
    val batch1 = (0 until 24).map { i =>
      val cand = if (i < 9) 0 else if (i < 17) 1 else 2
      msg(i, cand, 10 + i % 2)
    }
    // batch2 REVISES an existing (hour-11, c0) rollup key — the upsert
    // path, not just appends — and adds the hour-12 c1 rows
    val batch2 = (24 until 28).map(i => msg(i, 1, 12)) ++
      (28 until 30).map(i => msg(i, 0, 11))
    val stream = MemoryStream[String]
    val agg = EventStreams.votesPerCandidate(EventStreams.parseVotes(stream.toDF()))
      .withColumn("rollup_key", concat_ws("|", col("window_start"), col("candidate_id")))
    val q = EventStreams.foreachBatchUpsert(agg, out,
      key = "rollup_key", versionCol = "vote_count", checkpointDir = ckpt())
    stream.addData(batch1)
    q.processAllAvailable()
    stream.addData(batch2)
    q.processAllAvailable()
    q.stop()
    val served = graft.engine.VotingQueries
      .leaderboardFromRollup(spark.read.parquet(out).drop("rollup_key"))
      .collect().toSeq.map(_.toSeq)
    // raw-vote reference over the same 30 votes
    val all = EventStreams.parseVotes((batch1 ++ batch2).toDF("value"))
    val candidates = (0 until 3).map(k => (s"c$k", "Cand", s"$k", s"P$k"))
      .toDF("candidate_id", "first_name", "last_name", "party")
    val tables = graft.engine.VotingTables(candidates,
      spark.emptyDataFrame, all.select("vote_id", "voter_id", "candidate_id", "voted_at", "vote"))
    val reference = graft.engine.VotingQueries.votesByCandidate(tables)
      .select(concat_ws(" ", col("first_name"), col("last_name")).as("candidate_name"),
        col("party"), col("vote_count"), col("percentage"), col("rank"), col("hourly_change"))
      .collect().toSeq.map(_.toSeq)
    assert(served === reference)
    assert(served.map(_(2).asInstanceOf[Long]).sum === 30L)
  }

  test("rollup serving survives a crash between batches: restart, upsert, serve") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val out = Files.createTempDirectory("graft-rollup-restart").toString + "/rollup"
    val checkpoint = ckpt()
    def msg(i: Int, cand: Int, hour: Int) =
      voteJson(s"t$i", s"v$i", s"c$cand", s"Cand $cand", s"P$cand",
        f"2024-05-01 $hour%02d:${i % 60}%02d:00")
    val batch1 = (0 until 24).map { i =>
      val cand = if (i < 9) 0 else if (i < 17) 1 else 2
      msg(i, cand, 10 + i % 2)
    }
    // batch2 revises existing (hour, candidate) rollup keys, so serving
    // correctness after restart depends on BOTH the restored aggregation
    // state and the idempotent upsert merge
    val batch2 = (24 until 28).map(i => msg(i, 1, 12)) ++
      (28 until 30).map(i => msg(i, 0, 11))
    def upsert(stream: MemoryStream[String]) = {
      val agg = EventStreams.votesPerCandidate(EventStreams.parseVotes(stream.toDF()))
        .withColumn("rollup_key", concat_ws("|", col("window_start"), col("candidate_id")))
      EventStreams.foreachBatchUpsert(agg, out,
        key = "rollup_key", versionCol = "vote_count", checkpointDir = checkpoint)
    }
    val stream1 = MemoryStream[String]
    val q1 = upsert(stream1)
    stream1.addData(batch1)
    q1.processAllAvailable()
    q1.stop() // crash between batches
    // the partial rollup already serves a consistent leaderboard
    val mid = graft.engine.VotingQueries
      .leaderboardFromRollup(spark.read.parquet(out).drop("rollup_key"))
    assert(mid.agg(sum("vote_count")).collect()(0).getLong(0) === 24L)
    // restart from the same checkpoint: a fresh source recreates the
    // committed offset, then continues with batch2
    val stream2 = MemoryStream[String]
    stream2.addData(batch1)
    val q2 = upsert(stream2)
    stream2.addData(batch2)
    q2.processAllAvailable()
    q2.stop()
    val served = graft.engine.VotingQueries
      .leaderboardFromRollup(spark.read.parquet(out).drop("rollup_key"))
      .collect().toSeq.map(_.toSeq)
    val all = EventStreams.parseVotes((batch1 ++ batch2).toDF("value"))
    val candidates = (0 until 3).map(k => (s"c$k", "Cand", s"$k", s"P$k"))
      .toDF("candidate_id", "first_name", "last_name", "party")
    val tables = graft.engine.VotingTables(candidates,
      spark.emptyDataFrame, all.select("vote_id", "voter_id", "candidate_id", "voted_at", "vote"))
    val reference = graft.engine.VotingQueries.votesByCandidate(tables)
      .select(concat_ws(" ", col("first_name"), col("last_name")).as("candidate_name"),
        col("party"), col("vote_count"), col("percentage"), col("rank"), col("hourly_change"))
      .collect().toSeq.map(_.toSeq)
    assert(served === reference)
    assert(served.map(_(2).asInstanceOf[Long]).sum === 30L)
  }

  /** A rollup table of (candidate, hour, count) cells in the shape
    * `foreachBatchUpsert` keeps, read back with its declared schema. */
  private def rollupTable(cells: Seq[(String, Int, Long)]): DataFrame = {
    import spark.implicits._
    def hour(h: Int) = Timestamp.valueOf(f"2024-05-01 $h%02d:00:00")
    val df = cells.map { case (cand, h, n) => (hour(h), hour(h + 1), cand, s"Cand $cand", s"P$cand", n) }
      .toDF("window_start", "window_end", "candidate_id", "candidate_name", "party", "vote_count")
    val out = Files.createTempDirectory("graft-rollup-cells").toString + "/rollup"
    df.write.parquet(out)
    spark.read.schema(df.schema).parquet(out)
  }

  private val servedCells = Seq(("c0", 10, 4L), ("c1", 10, 6L), ("c2", 10, 2L), ("c0", 11, 3L))

  private def served(rollup: DataFrame): Seq[Seq[Any]] =
    graft.engine.VotingQueries.leaderboardFromRollup(rollup).collect().toSeq.map(_.toSeq)

  test("a rollup leaderboard read runs one Spark job") {
    val rollup = rollupTable(servedCells)
    val (jobs, rows) = new JobCounter(spark).jobsAndValue(served(rollup))
    assert(jobs.size === 1, jobs)
    assert(rows === Seq(
      Seq("Cand c0", "Pc0", 7L, 46.67, 1, -1L),
      Seq("Cand c1", "Pc1", 6L, 40.0, 2, 0L),
      Seq("Cand c2", "Pc2", 2L, 13.33, 3, 0L)))
  }

  test("a rollup leaderboard read passes the global-window guard") {
    val rollup = rollupTable(servedCells)
    val key = graft.plans.ScaleGuard.FailOnGlobalWindow
    spark.conf.set(key, "true")
    try assert(served(rollup).map(_(4)) === Seq(1, 2, 3))
    finally spark.conf.unset(key)
  }

  test("a rollup leaderboard pins the ties the reference leaves open") {
    // every candidate has a cell in the latest hour, and c0 and c1 tie
    // on their totals: the change goes to the smallest candidate_id in
    // the latest hour, and equal totals rank by candidate_id
    val rollup = rollupTable(Seq(("c2", 10, 1L), ("c1", 10, 2L), ("c0", 10, 5L),
      ("c1", 11, 4L), ("c2", 11, 3L), ("c0", 11, 1L)))
    val first = served(rollup)
    assert(served(rollup) === first)
    assert(first === Seq(
      Seq("Cand c0", "Pc0", 6L, 37.5, 1, -4L),
      Seq("Cand c1", "Pc1", 6L, 37.5, 2, 0L),
      Seq("Cand c2", "Pc2", 4L, 25.0, 3, 0L)))
  }

  test("an empty rollup serves an empty leaderboard of the same schema") {
    val empty = graft.engine.VotingQueries.leaderboardFromRollup(rollupTable(Nil))
    assert(empty.collect().isEmpty)
    assert(empty.schema ===
      graft.engine.VotingQueries.leaderboardFromRollup(rollupTable(servedCells)).schema)
  }

  test("dedup then tally composes in one query and equals its batch twin") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def msg(i: Int) = voteJson(s"t$i", s"v$i", s"c${i % 3}", s"Cand ${i % 3}",
      s"P${i % 3}", f"2024-05-01 10:${i % 8}%02d:00")
    // redeliveries inside a batch and across the batch boundary, all
    // within the watermark so the batch twin drops exactly the same rows
    val batch1 = (0 until 30).map(msg) ++ Seq(msg(3), msg(7))
    val batch2 = (30 until 50).map(msg) ++ Seq(msg(3), msg(31), msg(31))
    val stream = MemoryStream[String]
    stream.addData(batch1)
    val q = EventStreams.runToMemory(EventStreams.votesPerCandidate(
      EventStreams.dedupVotes(EventStreams.parseVotes(stream.toDF()))), "dedup_tally", ckpt())
    stream.addData(batch2)
    q.processAllAvailable()
    val streamed = spark.table("dedup_tally")
      .orderBy("window_start", "candidate_id").collect().toSeq.map(_.toSeq)
    q.stop()
    // batch twin: within-watermark dedup is stream-only; on a bounded
    // input inside the watermark it is plain dropDuplicates
    val batch = EventStreams.votesPerCandidate(
      EventStreams.parseVotes((batch1 ++ batch2).toDF("value"))
        .dropDuplicates("vote_id").dropDuplicates("voter_id"))
      .orderBy("window_start", "candidate_id").collect().toSeq.map(_.toSeq)
    assert(streamed === batch)
    assert(streamed.map(_(5).asInstanceOf[Long]).sum === 50L)
  }

  test("dedup then voterSessions composes in one query and equals sessions over deduped rows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val batch1 = Seq(
      voteJson("t1", "v1", "c1", "A", "P", "2024-05-01 10:00:00"),
      voteJson("t2", "v2", "c1", "A", "P", "2024-05-01 10:05:00"))
    // t1 redelivered in the next batch: without the dedup state v1's
    // session would count it twice
    val batch2 = Seq(
      voteJson("t1", "v1", "c1", "A", "P", "2024-05-01 10:00:00"),
      voteJson("t3", "v3", "c2", "B", "Q", "2024-05-01 10:20:00"))
    // a vote a day later moves the watermark past every session above
    val closer = Seq(voteJson("t9", "v9", "c1", "A", "P", "2024-05-02 10:00:00"))
    def sessions(name: String, batches: Seq[Seq[String]], pipeline: DataFrame => DataFrame) = {
      val stream = MemoryStream[String]
      val q = pipeline(EventStreams.parseVotes(stream.toDF()))
        .writeStream.outputMode(OutputMode.Append())
        .format("memory").queryName(name).option("checkpointLocation", ckpt()).start()
      batches.foreach { b => stream.addData(b); q.processAllAvailable() }
      q.stop()
      spark.table(name).orderBy("voter_id", "session_start")
        .collect().toSeq.map(_.toSeq)
    }
    val composed = sessions("dedup_sessions", Seq(batch1, batch2, closer),
      v => EventStreams.voterSessions(EventStreams.dedupVotes(v)).toDF())
    val overDeduped = sessions("deduped_sessions", Seq(batch1, batch2.tail, closer),
      v => EventStreams.voterSessions(v).toDF())
    assert(composed === overDeduped)
    assert(composed.map(r => (r(0), r(3))) === Seq(("v1", 1L), ("v2", 1L), ("v3", 1L)))
  }

  /** Runs two data batches through a `foreachBatchUpsert` rollup under
    * a fresh [[StateStoreTaskCounter]], drains it and returns it with
    * the query's id and progress. */
  private def countedUpsert(): (StateStoreTaskCounter, String, Seq[StreamingQueryProgress]) = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def msg(i: Int, hour: Int) = voteJson(s"t$i", s"v$i", s"c${i % 3}", s"Cand ${i % 3}",
      s"P${i % 3}", f"2024-05-01 $hour%02d:${i % 60}%02d:00")
    val counter = new StateStoreTaskCounter
    spark.sparkContext.addSparkListener(counter)
    try {
      val stream = MemoryStream[String]
      val agg = EventStreams.votesPerCandidate(EventStreams.parseVotes(stream.toDF()))
        .withColumn("rollup_key", concat_ws("|", col("window_start"), col("candidate_id")))
      val q = EventStreams.foreachBatchUpsert(agg,
        Files.createTempDirectory("graft-upsert-once").toString + "/rollup",
        key = "rollup_key", versionCol = "vote_count", checkpointDir = ckpt())
      stream.addData((0 until 20).map(msg(_, 10)))
      q.processAllAvailable()
      stream.addData((20 until 30).map(msg(_, 12)))
      q.processAllAvailable()
      val progress = q.recentProgress.toSeq
      q.stop()
      counter.drain(spark)
      (counter, q.id.toString, progress)
    } finally spark.sparkContext.removeSparkListener(counter)
  }

  test("a data batch through foreachBatchUpsert runs its stateful stage exactly once") {
    val (counter, queryId, progress) = countedUpsert()
    val partitions = progress.last.stateOperators.head.numShufflePartitions.toInt
    val perBatch = counter.tasksByBatch(queryId)
    val dataBatches = progress.filter(_.numInputRows > 0).map(_.batchId)
    assert(dataBatches.size === 2)
    dataBatches.foreach(b => assert(perBatch.get(b) === Some(partitions),
      s"batch $b state-store tasks ${perBatch.get(b)} vs $partitions partitions"))
    // watermark-only batches take the same single pass
    assert(perBatch.values.forall(_ == partitions), perBatch)
  }

  test("a data batch through foreachBatchUpsert runs one job: its merge write") {
    val (counter, queryId, progress) = countedUpsert()
    val perBatch = counter.jobsByBatch(queryId)
    val dataBatches = progress.filter(_.numInputRows > 0).map(_.batchId)
    assert(dataBatches.size === 2)
    // the row count is observed during the write, and the second batch
    // reads the stored table with the batch's schema: no count job and
    // no schema-inference job
    dataBatches.foreach(b => assert(perBatch.get(b) === Some(1), s"batch $b jobs $perBatch"))
  }

  /** Regular files under `dir`, relative path -> modification time. */
  private def fileTimes(dir: String): Map[String, java.nio.file.attribute.FileTime] = {
    val root = java.nio.file.Paths.get(dir)
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => root.relativize(p).toString -> Files.getLastModifiedTime(p)).toMap
    finally walk.close()
  }

  private def upsertSiblings(out: String): Seq[String] =
    Seq("__stage", "__prev").map(out + _).filter(p => Files.exists(java.nio.file.Paths.get(p)))

  test("a watermark-only batch through foreachBatchUpsert leaves the table untouched") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def msg(i: Int, hour: Int) = voteJson(s"t$i", s"v$i", s"c${i % 3}", s"Cand ${i % 3}",
      s"P${i % 3}", f"2024-05-01 $hour%02d:${i % 60}%02d:00")
    val out = Files.createTempDirectory("graft-upsert-tick").toString + "/rollup"
    val stream = MemoryStream[String]
    val agg = EventStreams.votesPerCandidate(EventStreams.parseVotes(stream.toDF()))
      .withColumn("rollup_key", concat_ws("|", col("window_start"), col("candidate_id")))
    val q = EventStreams.foreachBatchUpsert(agg, out,
      key = "rollup_key", versionCol = "vote_count", checkpointDir = ckpt())
    val progress = try {
      stream.addData((0 until 20).map(msg(_, 10)))
      q.processAllAvailable()
      // the second data batch moves the watermark past hour 10, so a
      // batch with no input evicts that window and emits no row
      stream.addData((20 until 30).map(msg(_, 12)))
      q.processAllAvailable()
      q.recentProgress.toSeq
    } finally q.stop()
    val lastData = progress.filter(_.numInputRows > 0).map(_.batchId).max
    val ticks = progress.filter(p => p.batchId > lastData && p.numInputRows == 0)
    assert(ticks.nonEmpty, progress.map(p => (p.batchId, p.numInputRows)))
    // every file of the table was last written before the first tick
    // started: the tick neither rewrote nor swapped the table
    val tickStart = java.time.Instant.parse(ticks.map(_.timestamp).min).toEpochMilli
    val times = fileTimes(out)
    assert(times.nonEmpty)
    times.foreach { case (f, t) => assert(t.toMillis <= tickStart, s"$f written at $t") }
    assert(upsertSiblings(out).isEmpty)
    assert(spark.read.parquet(out).agg(sum("vote_count")).head().getLong(0) === 30L)
  }

  test("a first foreachBatchUpsert batch with no rows and no table completes without a table") {
    import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
    import org.scalatest.time.SpanSugar._
    implicit val signaler: Signaler = ThreadSignaler
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val out = Files.createTempDirectory("graft-upsert-empty").toString + "/table"
    val stream = MemoryStream[(Int, Int)]
    val q = EventStreams.foreachBatchUpsert(stream.toDF().toDF("k", "v").filter($"v" > 100),
      out, key = "k", versionCol = "v", checkpointDir = ckpt())
    try {
      // the filter leaves the first batch without a row
      stream.addData((0 until 5).map(k => (k, k)))
      TimeLimits.failAfter(60.seconds)(q.processAllAvailable())
      assert(q.recentProgress.count(_.numInputRows > 0) === 1)
      assert(!Files.exists(java.nio.file.Paths.get(out)))
      assert(upsertSiblings(out).isEmpty)
      // and the next batch with rows creates the table
      stream.addData(Seq((7, 107), (8, 108)))
      TimeLimits.failAfter(60.seconds)(q.processAllAvailable())
    } finally q.stop()
    assert(spark.read.parquet(out).as[(Int, Int)].collect().toSeq.sorted === Seq((7, 107), (8, 108)))
  }

  test("a failing foreachBatchUpsert merge write fails the batch and keeps the table") {
    import org.apache.spark.sql.streaming.StreamingQueryException
    import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
    import org.scalatest.time.SpanSugar._
    implicit val signaler: Signaler = ThreadSignaler
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val out = Files.createTempDirectory("graft-upsert-fail").toString + "/table"
    val stream = MemoryStream[(Int, Int)]
    // a negative version raises inside the merge write, the batch's
    // only job
    val rows = stream.toDF().toDF("k", "v")
      .withColumn("v", when($"v" < 0, raise_error(lit("negative version"))).otherwise($"v"))
    val q = EventStreams.foreachBatchUpsert(rows, out, key = "k", versionCol = "v",
      checkpointDir = ckpt())
    try {
      stream.addData(Seq((1, 1), (2, 1)))
      q.processAllAvailable()
      stream.addData(Seq((1, 2), (3, -1)))
      val e = intercept[StreamingQueryException](
        TimeLimits.failAfter(60.seconds)(q.processAllAvailable()))
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(c => Option(c.getMessage).exists(_.contains("negative version"))), e)
      assert(!q.isActive)
    } finally q.stop()
    assert(spark.read.parquet(out).as[(Int, Int)].collect().toSeq.sorted === Seq((1, 1), (2, 1)))
  }

  test("a foreachBatchUpsert merge writes as many files as the stored table's size needs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def parts(dir: String) = fileTimes(dir).keys.count(f => f.startsWith("part-") && f.endsWith(".parquet"))
    def run(maxPartitionBytes: Option[String]): Int = {
      val key = "spark.sql.files.maxPartitionBytes"
      val out = Files.createTempDirectory("graft-upsert-files").toString + "/table"
      val stream = MemoryStream[(Int, Int)]
      // the stream's session is cloned at start, with this setting
      val before = spark.conf.getOption(key)
      maxPartitionBytes.foreach(spark.conf.set(key, _))
      val q = try EventStreams.foreachBatchUpsert(stream.toDF().toDF("k", "v"), out,
        key = "k", versionCol = "v", checkpointDir = ckpt())
        finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      try (0 until 3).foreach { i =>
        stream.addData((0 until 400).map(k => (k + 100 * i, i)))
        q.processAllAvailable()
      } finally q.stop()
      assert(spark.read.parquet(out).count() === 600L)
      parts(out)
    }
    // a few KB under the default 128 MB: one file, not one per shuffle
    // partition
    assert(run(None) === 1)
    // a table several times the setting spreads over several files
    assert(run(Some("1k")) > 1)
  }

  test("a stateful checkpoint keeps its partition count across a session-profile change") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def msg(i: Int) = voteJson(s"t$i", s"v$i", s"c${i % 3}", s"Cand ${i % 3}",
      s"P${i % 3}", f"2024-05-01 ${10 + i / 20}%02d:${(i * 7) % 60}%02d:00")
    val batch1 = (0 until 25).map(msg)
    val batch2 = (25 until 50).map(msg)
    val checkpoint = ckpt()
    val key = "spark.sql.shuffle.partitions"
    val sessionParts = spark.conf.get(key)
    def tally(s: MemoryStream[String]) =
      EventStreams.votesPerCandidate(EventStreams.parseVotes(s.toDF()))
    // first run under the old fixed profile: 32 state partitions
    spark.conf.set(key, "32")
    try {
      val stream1 = MemoryStream[String]
      stream1.addData(batch1)
      EventStreams.runToMemory(tally(stream1), "ckpt_parts", checkpoint).stop()
    } finally spark.conf.set(key, sessionParts)
    assert(sessionParts.toInt != 32)
    // restart under the session's own count: the offset log's 32 wins
    val stream2 = MemoryStream[String]
    stream2.addData(batch1)
    stream2.addData(batch2)
    val q2 = EventStreams.runToMemory(tally(stream2), "ckpt_parts", checkpoint)
    val restored = q2.lastProgress.stateOperators.head.numShufflePartitions
    val streamed = spark.table("ckpt_parts")
      .orderBy("window_start", "candidate_id").collect().toSeq.map(_.toSeq)
    q2.stop()
    assert(restored === 32L)
    val stateDirs = new java.io.File(s"$checkpoint/state/0").listFiles()
      .filter(_.getName.forall(_.isDigit))
    assert(stateDirs.length === 32)
    val batch = EventStreams.votesPerCandidate(
      EventStreams.parseVotes((batch1 ++ batch2).toDF("value")))
      .orderBy("window_start", "candidate_id").collect().toSeq.map(_.toSeq)
    assert(streamed === batch)
  }

  test("concurrent upsert readers see a committed table or a missing-file error") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val out = Files.createTempDirectory("graft-upsert-readers").toString + "/table"
    val stream = MemoryStream[(Int, Int)]
    val q = EventStreams.foreachBatchUpsert(stream.toDF().toDF("k", "v"), out,
      key = "k", versionCol = "v", checkpointDir = ckpt())
    // batch i upserts keys [0, 5(i+1)) at version i, so the committed
    // table after batch i is exactly those keys, every one at version i
    def batch(i: Int) = (0 until 5 * (i + 1)).map(k => (k, i))
    def committed(rows: Seq[(Int, Int)]): Boolean = rows.nonEmpty && {
      val i = rows.head._2
      rows.sorted == batch(i)
    }
    stream.addData(batch(0))
    q.processAllAvailable()
    val reads = new java.util.concurrent.ConcurrentLinkedQueue[Either[Throwable, Seq[(Int, Int)]]]
    @volatile var reading = true
    val reader = new Thread(() =>
      while (reading) reads.add(
        try Right(spark.read.parquet(out).as[(Int, Int)].collect().toSeq)
        catch { case e: Throwable => Left(e) }))
    reader.start()
    try (1 until 12).foreach { i =>
      stream.addData(batch(i))
      q.processAllAvailable()
    } finally {
      reading = false
      reader.join()
      q.stop()
    }
    // the kind of missing-file error a failed read raised, if it was one
    def missingFile(t: Throwable): Option[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).collectFirst {
        case e: org.apache.spark.SparkThrowable if Option(e.getCondition).exists(c =>
            c.endsWith("FILE_NOT_EXIST") || c == "PATH_NOT_FOUND") => e.getCondition
        case _: java.io.FileNotFoundException => "FileNotFoundException"
      }
    val all = reads.asScala.toSeq
    val failures = all.collect { case Left(e) => e }
    val tables = all.collect { case Right(rows) => rows }
    failures.foreach(e => assert(missingFile(e).isDefined, e))
    info(s"${tables.size} reads returned a table; failed: " +
      failures.groupBy(missingFile(_).get).map { case (k, v) => s"$k x${v.size}" }.mkString(", "))
    tables.foreach(rows => assert(committed(rows), rows.sorted))
    assert(tables.nonEmpty)
    assert(spark.read.parquet(out).as[(Int, Int)].collect().toSeq.sorted === batch(11))
  }

  test("a foreachBatchUpsert data batch forks no process from Hadoop's file system") {
    import java.nio.file.Paths
    import java.nio.file.attribute.PosixFilePermissions
    import jdk.jfr.Recording
    import jdk.jfr.consumer.RecordingFile
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def msg(i: Int, hour: Int) = voteJson(s"t$i", s"v$i", s"c${i % 3}", s"Cand ${i % 3}",
      s"P${i % 3}", f"2024-05-01 $hour%02d:${i % 60}%02d:00")
    val out = Files.createTempDirectory("graft-upsert-forks").toString + "/rollup"
    val checkpoint = ckpt()
    val stream = MemoryStream[String]
    val agg = EventStreams.votesPerCandidate(EventStreams.parseVotes(stream.toDF()))
      .withColumn("rollup_key", concat_ws("|", col("window_start"), col("candidate_id")))
    val q = EventStreams.foreachBatchUpsert(agg, out,
      key = "rollup_key", versionCol = "vote_count", checkpointDir = checkpoint)
    val recording = new Recording()
    val jfr = Files.createTempFile("graft-forks", ".jfr")
    try {
      stream.addData((0 until 20).map(msg(_, 10)))
      q.processAllAvailable()
      // the second data batch reads, merges and swaps the table and
      // commits state, offsets and commits to the checkpoint
      recording.enable("jdk.ProcessStart").withStackTrace()
      recording.start()
      stream.addData((20 until 30).map(msg(_, 12)))
      q.processAllAvailable()
      recording.stop()
      recording.dump(jfr)
    } finally {
      recording.close()
      q.stop()
    }
    val forks = RecordingFile.readAllEvents(jfr).asScala.filter { e =>
      Option(e.getStackTrace).exists(_.getFrames.asScala.exists(
        _.getMethod.getType.getName.startsWith("org.apache.hadoop.fs.")))
    }.map(_.getString("command"))
    assert(forks.isEmpty, s"${forks.size} forks: ${forks.take(5).mkString("; ")}")
    // the same files, modes and checksum sidecars as Hadoop's own
    // local file system writes
    def mode(p: java.nio.file.Path) = PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    val table = Paths.get(out)
    assert(mode(table) === "rwxr-xr-x")
    val parts = Files.list(table).iterator().asScala.toSeq
      .filter(_.getFileName.toString.endsWith(".parquet"))
    assert(parts.nonEmpty)
    parts.foreach { f =>
      assert(mode(f) === "rw-r--r--", f)
      assert(Files.exists(f.resolveSibling(s".${f.getFileName}.crc")), f)
    }
    Seq("offsets", "commits").foreach { log =>
      val last = Paths.get(checkpoint, log, "1")
      assert(mode(last) === "rw-r--r--", last)
      assert(Files.exists(last.resolveSibling(".1.crc")), last)
    }
    assert(spark.read.parquet(out).count() === 6L)
  }

  test("flatMapGroupsWithState sessionizer emits each closed session exactly once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[String]
    val sessions = EventStreams.voterSessions(
      EventStreams.parseVotes(stream.toDF()), gapMinutes = 30)
    val q = sessions.toDF().writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("vsessions").option("checkpointLocation", ckpt()).start()
    // v1: two events 10 min apart, then one 80 min later in the SAME
    // batch — the first fragment must close in-batch (flatMap output)
    stream.addData(Seq(
      voteJson("t1", "v1", "c1", "A", "P", "2024-05-01 10:00:00"),
      voteJson("t2", "v1", "c1", "A", "P", "2024-05-01 10:10:00"),
      voteJson("t3", "v1", "c1", "A", "P", "2024-05-01 11:30:00")))
    q.processAllAvailable()
    // v2 far ahead advances the watermark past v1's open fragment → timeout
    stream.addData(Seq(voteJson("t4", "v2", "c1", "A", "P", "2024-05-01 20:00:00")))
    q.processAllAvailable()
    // advance again so v2's own session times out; v3 stays open
    stream.addData(Seq(voteJson("t5", "v3", "c1", "A", "P", "2024-05-02 10:00:00")))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("vsessions")
      .orderBy("session_start")
      .collect().map(r => (r.getString(0), r.getTimestamp(1).toString,
        r.getTimestamp(2).toString, r.getLong(3))).toSeq
    assert(rows === Seq(
      ("v1", "2024-05-01 10:00:00.0", "2024-05-01 10:10:00.0", 2L),
      ("v1", "2024-05-01 11:30:00.0", "2024-05-01 11:30:00.0", 1L),
      ("v2", "2024-05-01 20:00:00.0", "2024-05-01 20:00:00.0", 1L)))
  }

  test("sessionizer lets an on-time out-of-order event bridge two open fragments") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[String]
    val sessions = EventStreams.voterSessions(
      EventStreams.parseVotes(stream.toDF()), gapMinutes = 30)
    val q = sessions.toDF().writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("bridge").option("checkpointLocation", ckpt()).start()
    // two fragments 31 min apart — NOT closable yet (watermark hasn't
    // passed end + gap), so both must stay open
    stream.addData(Seq(
      voteJson("t1", "v1", "c1", "A", "P", "2024-05-01 12:00:00"),
      voteJson("t2", "v1", "c1", "A", "P", "2024-05-01 12:31:00")))
    q.processAllAvailable()
    // 12:25 is on time (watermark 12:21) and within the gap of BOTH
    // fragments — they must merge into one session, like native
    // session_window would
    stream.addData(Seq(voteJson("t3", "v1", "c1", "A", "P", "2024-05-01 12:25:00")))
    q.processAllAvailable()
    stream.addData(Seq(voteJson("t4", "v2", "c1", "A", "P", "2024-05-02 12:00:00")))
    q.processAllAvailable()
    q.stop()
    val v1 = spark.table("bridge").where("voter_id = 'v1'")
      .collect().map(r => (r.getTimestamp(1).toString, r.getTimestamp(2).toString, r.getLong(3)))
    assert(v1.toSeq === Seq(("2024-05-01 12:00:00.0", "2024-05-01 12:31:00.0", 3L)))
  }

  test("sessionizer extends session_start backward for late in-watermark events") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[String]
    val sessions = EventStreams.voterSessions(
      EventStreams.parseVotes(stream.toDF()), gapMinutes = 30)
    val q = sessions.toDF().writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("latesess").option("checkpointLocation", ckpt()).start()
    stream.addData(Seq(voteJson("t1", "v1", "c1", "A", "P", "2024-05-01 10:00:00")))
    q.processAllAvailable()
    // 09:55 is above the 09:50 watermark and within the gap BELOW the
    // open session — it must extend the session's start, not vanish
    // into it with the start frozen at 10:00
    stream.addData(Seq(voteJson("t2", "v1", "c1", "A", "P", "2024-05-01 09:55:00")))
    q.processAllAvailable()
    stream.addData(Seq(voteJson("t3", "v2", "c1", "A", "P", "2024-05-02 10:00:00")))
    q.processAllAvailable()
    q.stop()
    val v1 = spark.table("latesess").where("voter_id = 'v1'")
      .collect().map(r => (r.getTimestamp(1).toString, r.getTimestamp(2).toString, r.getLong(3)))
    assert(v1.toSeq === Seq(("2024-05-01 09:55:00.0", "2024-05-01 10:00:00.0", 2L)))
  }

  test("native session_window aggregates merge across micro-batches under watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[String]
    val agg = EventStreams.parseVotes(stream.toDF())
      .withWatermark("voted_at", "1 hour")
      .groupBy(session_window($"voted_at", "30 minutes"), $"candidate_id")
      .agg(count(lit(1)).as("n"))
      .select($"session_window.start".as("ws"), $"session_window.end".as("we"),
        $"candidate_id", $"n")
    val q = agg.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("sessions").option("checkpointLocation", ckpt()).start()
    // batch 1: two events 10 min apart (one session), then a far-future
    // event to advance the watermark past session end
    stream.addData(Seq(
      voteJson("t1", "v1", "c1", "A", "P", "2024-05-01 10:00:00"),
      voteJson("t2", "v2", "c1", "A", "P", "2024-05-01 10:10:00")))
    q.processAllAvailable()
    stream.addData(Seq(voteJson("t3", "v3", "c1", "A", "P", "2024-05-01 20:00:00")))
    q.processAllAvailable()
    stream.addData(Seq(voteJson("t4", "v4", "c1", "A", "P", "2024-05-02 10:00:00")))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("sessions").orderBy("ws")
      .collect().map(r => (r.getTimestamp(0).toString, r.getTimestamp(1).toString, r.getLong(3)))
    // first session: 10:00-10:10 merged into one window ending 10:40, n=2
    assert(rows.head === ("2024-05-01 10:00:00.0", "2024-05-01 10:40:00.0", 2L))
  }

  test("Trigger.AvailableNow drains the file backlog exactly and self-terminates (backfill)") {
    import spark.implicits._
    val srcDir = Files.createTempDirectory("graft-avnow-src")
    val msgs = (0 until 30).map { i =>
      voteJson(s"a$i", s"v$i", s"c${i % 2}", s"Cand ${i % 2}", s"P${i % 2}",
        "2024-05-01 10:00:00")
    }
    Files.write(srcDir.resolve("backlog.jsonl"),
      msgs.mkString("\n").getBytes("UTF-8"))
    val agg = EventStreams.votesPerCandidate(
      EventStreams.fileVoteSource(spark, srcDir.toString))
    val q = agg.writeStream
      .outputMode(OutputMode.Complete())
      .format("memory").queryName("avnow")
      .option("checkpointLocation", ckpt())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000), "AvailableNow must terminate on its own")
    val total = spark.table("avnow")
      .agg(org.apache.spark.sql.functions.sum($"vote_count")).collect()(0).getLong(0)
    assert(total == 30L, "every backlog row drained exactly once")
  }

  test("transformWithState tally equals the mapGroupsWithState tally (API parity)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // transformWithState requires the RocksDB state store provider
    EventStreams.withStateStoreProvider(spark) {
      val msgs = (0 until 40).map { i =>
        voteJson(s"w$i", s"v$i", s"c${i % 3}", s"Cand ${i % 3}", s"P${i % 3}",
          f"2024-05-01 10:${i % 60}%02d:00")
      }
      def runTally(name: String,
          f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.Dataset[
            graft.streaming.EventStreams.CandidateTally]): Map[String, (Long, java.sql.Timestamp)] = {
        val stream = MemoryStream[String]
        stream.addData(msgs.take(25))
        val q = f(EventStreams.parseVotes(stream.toDF())).toDF()
          .writeStream.outputMode(OutputMode.Update())
          .format("memory").queryName(name)
          .option("checkpointLocation", ckpt()).start()
        q.processAllAvailable()
        stream.addData(msgs.drop(25))   // second micro-batch exercises state reuse
        q.processAllAvailable()
        q.stop()
        // update mode appends a row per touched key per batch: last wins
        spark.table(name).collect()
          .groupBy(_.getAs[String]("candidate_id"))
          .map { case (k, rs) =>
            val last = rs.maxBy(_.getAs[Long]("total_votes"))
            k -> (last.getAs[Long]("total_votes"), last.getAs[java.sql.Timestamp]("last_voted_at"))
          }.toMap
      }
      val mgws = runTally("tally_mgws", EventStreams.runningTallies)
      val tws = runTally("tally_tws", EventStreams.runningTalliesTws)
      assert(tws == mgws)
      assert(mgws.values.map(_._1).sum == 40L)
    }
  }

  test("dedupVotes on the RocksDB state store matches the default-store contract") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // same inputs as the default-store dedup test: redelivery +
    // second-vote + fresh voter; the scale store must give the exact
    // same survivors (state semantics are provider-independent — this
    // pins that the one-config swap is really drop-in)
    EventStreams.withStateStoreProvider(spark) {
      val stream = MemoryStream[String]
      stream.addData(Seq(
        voteJson("t1", "v1", "c1", "A", "P", "2024-05-01 10:05:00"),
        voteJson("t1", "v1", "c1", "A", "P", "2024-05-01 10:05:00"),
        voteJson("t2", "v1", "c2", "B", "Q", "2024-05-01 10:06:00")))
      val deduped = EventStreams.dedupVotes(EventStreams.parseVotes(stream.toDF()))
      val q = deduped.writeStream.outputMode(OutputMode.Append())
        .format("memory").queryName("dedup_rocks")
        .option("checkpointLocation", ckpt()).start()
      q.processAllAvailable()
      // second micro-batch exercises cross-batch RocksDB state reuse
      stream.addData(Seq(
        voteJson("t2", "v1", "c2", "B", "Q", "2024-05-01 10:06:00"),
        voteJson("t3", "v2", "c1", "A", "P", "2024-05-01 10:07:00")))
      q.processAllAvailable()
      q.stop()
      assert(q.lastProgress.stateOperators.exists(
        _.customMetrics.keySet().toArray.exists(_.toString.startsWith("rocksdb"))),
        "state must actually run on the RocksDB provider")
      val rows = spark.table("dedup_rocks")
        .select("voter_id").collect().map(_.getString(0)).sorted
      assert(rows.toSeq === Seq("v1", "v2"))
    }
  }

  test("session_window on the RocksDB state store merges sessions like the default store") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    EventStreams.withStateStoreProvider(spark) {
      val stream = MemoryStream[String]
      val agg = EventStreams.parseVotes(stream.toDF())
        .withWatermark("voted_at", "1 hour")
        .groupBy(session_window($"voted_at", "30 minutes"), $"candidate_id")
        .agg(count(lit(1)).as("n"))
        .select($"session_window.start".as("ws"), $"session_window.end".as("we"),
          $"candidate_id", $"n")
      val q = agg.writeStream.outputMode(OutputMode.Append())
        .format("memory").queryName("sessions_rocks")
        .option("checkpointLocation", ckpt()).start()
      stream.addData(Seq(
        voteJson("t1", "v1", "c1", "A", "P", "2024-05-01 10:00:00"),
        voteJson("t2", "v2", "c1", "A", "P", "2024-05-01 10:10:00")))
      q.processAllAvailable()
      stream.addData(Seq(voteJson("t3", "v3", "c1", "A", "P", "2024-05-01 20:00:00")))
      q.processAllAvailable()
      stream.addData(Seq(voteJson("t4", "v4", "c1", "A", "P", "2024-05-02 10:00:00")))
      q.processAllAvailable()
      q.stop()
      val rows = spark.table("sessions_rocks").orderBy("ws")
        .collect().map(r => (r.getTimestamp(0).toString, r.getTimestamp(1).toString, r.getLong(3)))
      assert(rows.head === ("2024-05-01 10:00:00.0", "2024-05-01 10:40:00.0", 2L))
    }
  }

  test("file-source restart resumes from the checkpoint and matches the batch twin") {
    import spark.implicits._
    // the MemoryStream restart test pins exactly-once semantics; this
    // one exercises the same recovery over the REAL fixture path — a
    // parquet FileStreamSource whose file log lives in the checkpoint,
    // killed between halves of /root/testdata's events and resumed
    val dir = "/root/testdata/sf0.001"
    val ev = graft.engine.Tables.load(spark, dir, "events")
      .select($"event_id", $"ts".cast("timestamp").as("ts"))
      .localCheckpoint()
    val root = Files.createTempDirectory("graft-filestream").toString
    val in = new java.io.File(s"$root/in"); in.mkdirs()
    // stage the fixture in two halves plus a far-future sentinel whose
    // sole job is pushing the watermark past every real window
    val maxTs = ev.agg(max($"ts")).head.getTimestamp(0)
    val minTs = ev.agg(min($"ts")).head.getTimestamp(0)
    val sentinelTs = new java.sql.Timestamp(maxTs.getTime + 10L * 86400 * 1000)
    // split by TIME, not by id: the halves must arrive in event-time
    // order or the watermark h1 advances to would make all of h2 late
    // (the file source replays files, not a time-ordered log — a real
    // ingest's directory fills chronologically, which this mirrors)
    val midTs = new java.sql.Timestamp((minTs.getTime + maxTs.getTime) / 2)
    def stage(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val st = s"$root/stage_$name"
      df.coalesce(1).write.mode("overwrite").parquet(st)
      new java.io.File(st).listFiles().filter(_.getName.endsWith(".parquet"))
        .zipWithIndex.foreach { case (f, i) =>
          Files.move(f.toPath, java.nio.file.Paths.get(s"$root/in/$name-$i.parquet"))
        }
    }
    stage(ev.filter($"ts" <= midTs), "h1")
    val schema = ev.schema
    val out = s"$root/out"
    val ck = s"$root/ck"
    def start() = spark.readStream.schema(schema).parquet(s"$root/in")
      .withWatermark("ts", "1 hour")
      .groupBy(window($"ts", "1 hour"))
      .agg(count(lit(1)).as("n_events"))
      .select($"window.start".as("window_start"), $"n_events")
      .writeStream.outputMode(OutputMode.Append())
      .format("parquet").option("path", out)
      .option("checkpointLocation", ck).start()
    val q1 = start()
    q1.processAllAvailable()
    q1.stop()                                   // the "kill"
    stage(ev.filter($"ts" > midTs), "h2")
    stage(Seq((-1L, sentinelTs)).toDF("event_id", "ts"), "sentinel")
    val q2 = start()                            // resume from the same checkpoint
    q2.processAllAvailable()
    q2.stop()
    val got = spark.read.parquet(out).collect()
      .map(r => r.getTimestamp(0) -> r.getLong(1))
    // exactly-once across the restart: every window emitted once
    assert(got.map(_._1).distinct.length === got.length,
      "a window was emitted twice across the restart")
    // sink equality with the batch twin over the full fixture (the
    // sentinel's own window stays unemitted — watermark never passes it)
    val want = ev.groupBy(window($"ts", "1 hour"))
      .agg(count(lit(1)).as("n_events"))
      .select($"window.start", $"n_events").collect()
      .map(r => r.getTimestamp(0) -> r.getLong(1))
    assert(got.toMap === want.toMap)
  }

  test("streamed span-layout maintenance: deltas equal sequential batch ingest AND full recompute") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.TextAnalysis
    val dir = "/root/testdata/sf0.001"
    val d = graft.engine.Tables.load(spark, dir, "documents")
      .select($"doc_id", $"text")
    val storeHalf = d.filter($"doc_id" % 2 === 0)
    val b1 = d.filter($"doc_id" % 4 === 1)
    val b2 = d.filter($"doc_id" % 4 === 3)
    val root = java.nio.file.Files.createTempDirectory("graft-spanstream").toString
    val (storeDir, layoutDir) = (s"$root/store", s"$root/layout")
    // nightly state: persisted fingerprint store + materialized layout
    TextAnalysis.winnowOf(storeHalf).write.parquet(s"$storeDir/base")
    TextAnalysis.sharedSpansOf(TextAnalysis.winnowOf(storeHalf))
      .write.parquet(s"$layoutDir/base")

    val stream = MemoryStream[(Long, String)]
    val q = EventStreams.maintainSpanLayout(
        stream.toDF().toDF("doc_id", "text"), storeDir, layoutDir)
      .option("checkpointLocation", ckpt()).start()
    stream.addData(b1.collect().map(r => (r.getLong(0), r.getString(1))).toSeq)
    q.processAllAvailable()
    stream.addData(b2.collect().map(r => (r.getLong(0), r.getString(1))).toSeq)
    q.processAllAvailable()
    q.stop()

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_a", "doc_b", "n_shared_spans").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val got = rows(EventStreams.readSpanLayoutDeltas(spark, layoutDir))
    // stream ≡ sequential batch ingest (the twin the scaladoc claims)
    val store0 = TextAnalysis.winnowOf(storeHalf)
    val seq1 = TextAnalysis.spanPairsIncremental(b1, store0)
    val seq2 = TextAnalysis.spanPairsIncremental(b2,
      store0.unionByName(TextAnalysis.winnowOf(b1)))
    val baseRows = rows(TextAnalysis.sharedSpansOf(store0))
    assert(got === (baseRows ++ rows(seq1) ++ rows(seq2)).sorted)
    // and ≡ the full batch recompute over everything ingested (no
    // span's document frequency crosses MaxSpanDf only in the union
    // on this fixture, so the incremental union is exactly the batch
    // relation — the strongest end-to-end form)
    assert(got === rows(TextAnalysis.sharedSpansOf(TextAnalysis.winnowOf(d))))
    // each pair was emitted by exactly one batch (disjoint deltas)
    assert(got.map(p => (p._1, p._2)).distinct.length === got.length)
  }

  test("span-layout compaction bounds the file count and preserves every row (3 cycles)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.TextAnalysis
    val dir = "/root/testdata/sf0.001"
    val d = graft.engine.Tables.load(spark, dir, "documents")
      .select($"doc_id", $"text")
    val storeHalf = d.filter($"doc_id" % 2 === 0)
    // six micro-batches over three ingest-compact cycles
    val batches = (0 until 6).map(k => d.filter($"doc_id" % 12 === (2 * k + 1)))
    val root = java.nio.file.Files.createTempDirectory("graft-spancompact").toString
    val (storeDir, layoutDir) = (s"$root/store", s"$root/layout")
    TextAnalysis.winnowOf(storeHalf).write.parquet(s"$storeDir/base")
    TextAnalysis.sharedSpansOf(TextAnalysis.winnowOf(storeHalf))
      .write.parquet(s"$layoutDir/base")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_a", "doc_b", "n_shared_spans").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    def parquetFiles(): Int = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(layoutDir))
      try s.iterator().asScala.count(_.toString.endsWith(".parquet"))
      finally s.close()
    }
    // sequential-ingest expectation accumulated alongside the stream
    var expected = rows(TextAnalysis.sharedSpansOf(TextAnalysis.winnowOf(storeHalf)))
    var store = TextAnalysis.winnowOf(storeHalf).localCheckpoint()
    val stream = MemoryStream[(Long, String)]
    val q = EventStreams.maintainSpanLayout(
        stream.toDF().toDF("doc_id", "text"), storeDir, layoutDir)
      .option("checkpointLocation", ckpt()).start()
    for (cycle <- 0 until 3) {
      for (k <- Seq(2 * cycle, 2 * cycle + 1)) {
        val b = batches(k)
        stream.addData(b.collect().map(r => (r.getLong(0), r.getString(1))).toSeq)
        q.processAllAvailable()
        expected = (expected ++ rows(TextAnalysis.spanPairsIncremental(b, store))).sorted
        store = store.unionByName(TextAnalysis.winnowOf(b)).localCheckpoint()
      }
      val pre = rows(EventStreams.readSpanLayoutDeltas(spark, layoutDir))
      assert(pre === expected, s"cycle $cycle pre-compaction rows")
      // 2 fresh deltas ≥ maxDeltas=2 → the compaction must fire
      assert(EventStreams.compactSpanLayout(spark, layoutDir, maxDeltas = 2, files = 2),
        s"cycle $cycle: compaction should have fired")
      assert(rows(EventStreams.readSpanLayoutDeltas(spark, layoutDir)) === pre,
        s"cycle $cycle: compaction must not change the relation")
      // base_0 collapses to the range-write budget; the only other
      // generation is the replay-fenced newest delta (never folded —
      // a possibly-uncommitted batch must keep its own delta to
      // overwrite on replay), so the file count stays FIXED no matter
      // how many batches ever streamed in
      def filesUnder(p: String): Int = {
        val s = java.nio.file.Files.walk(java.nio.file.Paths.get(p))
        try s.iterator().asScala.count(_.toString.endsWith(".parquet"))
        finally s.close()
      }
      assert(filesUnder(s"$layoutDir/base_0") <= 2,
        s"cycle $cycle: base file count must collapse to the range-write budget")
      val dirsNow = {
        val s = java.nio.file.Files.list(java.nio.file.Paths.get(layoutDir))
        try s.iterator().asScala.count(p => java.nio.file.Files.isDirectory(p))
        finally s.close()
      }
      assert(dirsNow === 2,
        s"cycle $cycle: base + the fenced newest delta, nothing else")
      // nothing foldable pending → an immediate second pass is a no-op
      assert(!EventStreams.compactSpanLayout(spark, layoutDir, maxDeltas = 2, files = 2))
    }
    // the BYTES trigger: two more batches on top of the cycle-3 fenced
    // delta = 3 deltas (below a maxDeltas=4 count threshold), but any
    // non-empty delta exceeds a 1-byte budget — size pressure must
    // fire the compaction on its own (two fresh batches, not one: the
    // newest delta is replay-fenced, so a single pending delta is
    // never foldable)
    stream.addData(Seq((9001L, "bytes trigger doc one two three four five six")))
    q.processAllAvailable()
    stream.addData(Seq((9002L, "bytes trigger doc seven eight nine ten eleven")))
    q.processAllAvailable()
    val preBytes = rows(EventStreams.readSpanLayoutDeltas(spark, layoutDir))
    assert(!EventStreams.compactSpanLayout(spark, layoutDir, maxDeltas = 4, files = 2),
      "count trigger must not fire at 3 deltas")
    assert(EventStreams.compactSpanLayout(spark, layoutDir, maxDeltas = 4, files = 2,
      maxDeltaBytes = 1L), "bytes trigger must fire below the count threshold")
    assert(rows(EventStreams.readSpanLayoutDeltas(spark, layoutDir)) === preBytes,
      "bytes-triggered compaction must not change the relation")
    q.stop()
    // the compacted base is range-clustered on doc_a like the nightly
    // layout: each file covers a disjoint doc_a range (min/max pruning)
    val perFile = spark.read.parquet(s"$layoutDir/base_0")
      .groupBy(input_file_name().as("f"))
      .agg(min($"doc_a").as("lo"), max($"doc_a").as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(perFile.sliding(2).forall {
      case Array((_, hi1), (lo2, _)) => hi1 <= lo2
      case _ => true
    }, s"compacted files must cover disjoint doc_a ranges: ${perFile.mkString(",")}")
  }

  // ---- streaming label-store maintenance (incremental CC labels) ----

  private def fullCcLabels(pairs: Seq[(Long, Long)]) = {
    import spark.implicits._
    val e = pairs.toDF("src", "dst")
    val nodes = e.select($"src".as("doc_id")).union(e.select($"dst")).distinct()
    graft.operators.Dedup.clustersOver(nodes, e,
      graft.operators.Dedup.MaintenanceMaxHops)
      .select($"doc_id", $"cluster_id")
  }

  private def labelRows(df: org.apache.spark.sql.DataFrame) =
    df.select("doc_id", "cluster_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq

  test("streamed label-store maintenance equals full recompute after every batch (RocksDB + dedup)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L))
    val storeDir = java.nio.file.Files
      .createTempDirectory("graft-labelstream").toString + "/labels"
    EventStreams.labelStoreInit(fullCcLabels(base), storeDir)
    assert(labelRows(EventStreams.readLabelStore(spark, storeDir))
      === labelRows(fullCcLabels(base)))

    val t0 = Timestamp.valueOf("2024-05-01 00:00:00")
    val stream = MemoryStream[(Long, Long, Timestamp)]
    // the redelivery-hardened shape the scaladoc names: watermark +
    // key dedup upstream of the maintainer, on the RocksDB store
    val q = EventStreams.withStateStoreProvider(spark) {
      EventStreams.maintainLabelStore(
          stream.toDF().toDF("src", "dst", "ts")
            .withWatermark("ts", "10 seconds")
            .dropDuplicatesWithinWatermark("src", "dst"),
          storeDir)
        .option("checkpointLocation", ckpt()).start()
    }
    // batch 1: merge {1,2,3}+{10,11}; batch 2 REDELIVERS that edge and
    // bridges {20,21} to a never-seen node plus a brand-new component
    val batches = Seq(
      Seq((3L, 10L)),
      Seq((3L, 10L), (20L, 40L), (50L, 51L)))
    var soFar = base
    batches.foreach { b =>
      stream.addData(b.map { case (s, d) => (s, d, t0) })
      q.processAllAvailable()
      soFar = soFar ++ b
      assert(labelRows(EventStreams.readLabelStore(spark, storeDir))
        === labelRows(fullCcLabels(soFar)),
        s"store diverged from full recompute after batch $b")
    }
    q.stop()
  }

  test("label-store compaction folds generations, preserves labels, and stays maintainable") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = Seq((1L, 2L), (10L, 11L), (20L, 21L), (30L, 31L))
    val storeDir = java.nio.file.Files
      .createTempDirectory("graft-labelcompact").toString + "/labels"
    EventStreams.labelStoreInit(fullCcLabels(base), storeDir)
    val t0 = Timestamp.valueOf("2024-05-01 00:00:00")
    val stream = MemoryStream[(Long, Long, Timestamp)]
    val q = EventStreams.maintainLabelStore(
        stream.toDF().toDF("src", "dst", "ts").select($"src", $"dst"),
        storeDir)
      .option("checkpointLocation", ckpt()).start()
    def gens(): Int = {
      val s = java.nio.file.Files.list(java.nio.file.Paths.get(storeDir))
      try s.iterator().asScala.count(p =>
        java.nio.file.Files.isDirectory(p)) finally s.close()
    }
    val batches = Seq(Seq((2L, 10L)), Seq((11L, 20L)), Seq((21L, 30L)))
    var soFar = base
    batches.foreach { b =>
      stream.addData(b.map { case (s, d) => (s, d, t0) })
      q.processAllAvailable()
      soFar = soFar ++ b
    }
    val pre = labelRows(EventStreams.readLabelStore(spark, storeDir))
    assert(pre === labelRows(fullCcLabels(soFar)))
    assert(gens() === 4) // base + 3 deltas
    assert(!EventStreams.compactLabelStore(spark, storeDir, maxDeltas = 4),
      "count trigger must not fire below the threshold")
    assert(EventStreams.compactLabelStore(spark, storeDir, maxDeltas = 3))
    assert(gens() === 2,
      "compaction folds to base + the replay-fenced newest delta")
    assert(labelRows(EventStreams.readLabelStore(spark, storeDir)) === pre,
      "compaction must not change the folded labels")
    // the compacted base is range-clustered on cluster_id (the
    // merge-write probe key): files cover disjoint ranges
    val perFile = spark.read.parquet(s"$storeDir/base_0")
      .groupBy(input_file_name().as("f"))
      .agg(min($"cluster_id").as("lo"), max($"cluster_id").as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(perFile.sliding(2).forall {
      case Array((_, hi1), (lo2, _)) => hi1 <= lo2
      case _ => true
    }, s"compacted files must cover disjoint cluster_id ranges: ${perFile.mkString(",")}")
    // maintenance continues against the compacted store
    stream.addData(Seq((31L, 1L, t0)))
    q.processAllAvailable()
    soFar = soFar :+ (31L, 1L)
    assert(labelRows(EventStreams.readLabelStore(spark, storeDir))
      === labelRows(fullCcLabels(soFar)))
    q.stop()
  }
}

/** Counts, per (query id, batch id), the jobs started and the tasks that
  * executed a state store: tasks of stages whose RDDs include a
  * `StateStoreRDD` AND that opened a store. A stage that reads a
  * persisted batch still lists the `StateStoreRDD` among its narrow
  * ancestors, so the second condition — the stateful operator's per-task
  * "number of state store instances" metric update — separates a real
  * execution from a cache read.
  */
private class StateStoreTaskCounter extends org.apache.spark.scheduler.SparkListener {
  import org.apache.spark.scheduler._
  private val stageBatch = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]
  private val tasks = new java.util.concurrent.ConcurrentHashMap[(String, Long), Int]
  private val jobs = new java.util.concurrent.ConcurrentHashMap[(String, Long), Int]
  private val drainJobs = new java.util.concurrent.ConcurrentHashMap[Int, java.util.concurrent.CountDownLatch]
  @volatile private var drainLatch: java.util.concurrent.CountDownLatch = _

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    if (props.exists(_.getProperty(StateStoreTaskCounter.DrainKey) != null))
      drainJobs.put(e.jobId, drainLatch)
    for {
      p <- props
      query <- Option(p.getProperty("sql.streaming.queryId"))
      batch <- Option(p.getProperty("streaming.sql.batchId"))
    } {
      val qb = (query, batch.toLong)
      jobs.merge(qb, 1, Integer.sum)
      e.stageInfos.filter(_.rddInfos.exists(_.name == "StateStoreRDD"))
        .foreach(stage => stageBatch.put(stage.stageId, qb))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageBatch.get(e.stageId)).foreach { qb =>
      if (e.taskInfo.accumulables.exists(_.name.contains("number of state store instances")))
        tasks.merge(qb, 1, Integer.sum)
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(drainJobs.remove(e.jobId)).foreach(_.countDown())

  /** Block until every event posted before this call was delivered:
    * the bus delivers in order, so a marker job's end comes last. */
  def drain(spark: org.apache.spark.sql.SparkSession): Unit = {
    val sc = spark.sparkContext
    drainLatch = new java.util.concurrent.CountDownLatch(1)
    sc.setLocalProperty(StateStoreTaskCounter.DrainKey, "1")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(StateStoreTaskCounter.DrainKey, null)
    assert(drainLatch.await(60, java.util.concurrent.TimeUnit.SECONDS), "listener bus did not drain")
  }

  def tasksByBatch(queryId: String): Map[Long, Int] = byBatch(tasks, queryId)

  def jobsByBatch(queryId: String): Map[Long, Int] = byBatch(jobs, queryId)

  private def byBatch(counts: java.util.concurrent.ConcurrentHashMap[(String, Long), Int],
      queryId: String): Map[Long, Int] =
    counts.asScala.collect { case ((q, b), n) if q == queryId => b -> n }.toMap
}

private object StateStoreTaskCounter {
  val DrainKey = "graft.spec.drain"
}
