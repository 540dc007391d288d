package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.types._

import DeltaTree.{among, notTombstoned}

/** The reference's declared streaming topology (SURVEY §3.3), natively
  * in Structured Streaming: Kafka-shaped JSON votes in, two windowed
  * aggregate streams out (`aggregated_votes_per_candidate`,
  * `aggregated_turnout_by_location`, `README.md:116-118`), with
  * watermarking, `unique_voter` dedup (`src/setup_database.py:105`),
  * and checkpoint-based recovery (report §3.3).
  *
  * Every transform here is source-agnostic: hand it
  * `spark.readStream.format("kafka")...` in production or a
  * MemoryStream-backed frame in tests. Batch/stream parity is the
  * Structured Streaming guarantee the spec suite asserts.
  */
object EventStreams {

  /** The denormalized vote Kafka message (`src/data_generator.py:188-197`):
    * the vote row plus voter_name/candidate_name/party, which is what
    * lets the aggregations run without a stream-dim join.
    */
  val voteMessageSchema: StructType = StructType(Seq(
    StructField("vote_id", StringType),
    StructField("voter_id", StringType),
    StructField("voter_name", StringType),
    StructField("candidate_id", StringType),
    StructField("candidate_name", StringType),
    StructField("party", StringType),
    StructField("voted_at", TimestampType),
    StructField("vote", IntegerType)))

  /** Parse a Kafka-shaped stream (binary `value` holding the JSON
    * message) into typed vote columns — `from_json` at the boundary
    * (`src/data_generator.py:249` produced it with json.dumps).
    *
    * Corrupt payloads and Kafka tombstones (null value on a compacted
    * topic) make `from_json` yield null — those rows are DROPPED here:
    * a null `voted_at` reaching the stateful operators downstream
    * (`runningTallies`, `voterSessions` call `.getTime`) would
    * NPE-crash the whole query on one bad message.
    */
  def parseVotes(kafkaShaped: DataFrame): DataFrame =
    kafkaShaped
      .select(from_json(col("value").cast("string"), voteMessageSchema).as("m"))
      .filter(col("m").isNotNull && col("m.voted_at").isNotNull)
      .select(col("m.*"))

  /** `votes` with an event-time watermark on `voted_at`, unless the
    * column already carries one — the case for an input that went
    * through [[dedupVotes]], so a dedup→tally query composes instead of
    * failing with "Redefining watermark is disallowed". An inherited
    * watermark keeps its own delay; `watermark` applies only to raw
    * input.
    */
  private def votesWatermarked(votes: DataFrame, watermark: String): DataFrame =
    if (votes.schema("voted_at").metadata.contains(EventTimeWatermark.delayKey)) votes
    else votes.withWatermark("voted_at", watermark)

  /** At-least-once delivery dedup (`vote_id`) + the `unique_voter`
    * constraint (`voter_id`).
    *
    * Both default to within-watermark dedup so the state store stays
    * bounded at 100 TB/day rates (plain streaming dropDuplicates on a
    * non-event-time key never evicts). Within-horizon dedup is exact
    * for the reference's workload — its generator never re-votes a
    * voter (`src/data_generator.py:283-292`) — but a voter re-voting
    * after the watermark horizon would NOT be caught; pass
    * `allTimeVoterDedup = true` for the exact-but-unbounded semantics.
    */
  def dedupVotes(votes: DataFrame, watermark: String = "10 minutes",
      allTimeVoterDedup: Boolean = false): DataFrame = {
    val withinWm = votes
      .withWatermark("voted_at", watermark)
      .dropDuplicatesWithinWatermark("vote_id")
    if (allTimeVoterDedup) withinWm.dropDuplicates("voter_id")
    else withinWm.dropDuplicatesWithinWatermark("voter_id")
  }

  /** Streaming INCREMENTAL dedup — the streaming twin of
    * `Dedup.incremental`: an incoming `(doc_id, ingest_ts, text)`
    * document stream is fingerprinted, deduped within the stream by
    * within-watermark state (bounded — the store-backed history makes
    * all-time stream state redundant), then anti-joined against the
    * STATIC fingerprint store of everything already ingested. The
    * static side is re-read per micro-batch, so the nightly compaction
    * that appends yesterday's survivors to the store takes effect
    * without a restart. Survivors are exactly the rows the daily
    * pipeline appends to both corpus and store.
    */
  def dedupDocsAgainstStore(docs: DataFrame, store: DataFrame,
      watermark: String = "10 minutes"): DataFrame =
    docs
      .withColumn("fingerprint", md5(col("text")))
      .withWatermark("ingest_ts", watermark)
      .dropDuplicatesWithinWatermark("fingerprint")
      .join(store.select(col("fingerprint")), Seq("fingerprint"), "left_anti")

  /** [[dedupDocsAgainstStore]] with the bloom PREFILTER in front of
    * the store anti-join — the shape a 100 TB ingest actually wants:
    * the store's bloom bit array (`Dedup.bloomWords`, rebuilt at the
    * same nightly compaction that grows the store) rides into every
    * task as a 256 KB literal, the probe is a stateless map-side
    * projection, and the stream SPLITS on it before any state exists:
    * definite-new fingerprints (any probe bit clear — no false
    * negatives, so skipping the join is safe) never touch the static
    * store at all; only the maybe-seen sliver pays the per-batch
    * store re-read and anti-join. The split branches are disjoint by
    * fingerprint, so the two within-watermark dedup states partition
    * the stream's state rather than doubling it, and the union of the
    * branches equals the unprefiltered twin row-for-row (spec-pinned).
    */
  def dedupDocsWithBloom(docs: DataFrame, bloom: Array[Long],
      store: DataFrame, watermark: String = "10 minutes"): DataFrame = {
    val probed = docs
      .withColumn("fingerprint", md5(col("text")))
      .withColumn("__bloom", lit(bloom))
      .withColumn("__maybe",
        expr(graft.operators.Dedup.bloomHitSql("fingerprint"))
          === lit(graft.operators.Dedup.BloomHashes.toLong))
      .drop("__bloom")
    def dedupWm(d: DataFrame): DataFrame = d
      .withWatermark("ingest_ts", watermark)
      .dropDuplicatesWithinWatermark("fingerprint")
    dedupWm(probed.filter(!col("__maybe")).drop("__maybe"))
      .unionByName(
        dedupWm(probed.filter(col("__maybe")).drop("__maybe"))
          .join(store.select(col("fingerprint")), Seq("fingerprint"), "left_anti"))
  }

  /** Streaming ANN index INGEST: new vectors PQ-encoded map-side
    * against the FROZEN serving model (quantizer bounds + trained
    * sub-codebooks as driver literals — `Similarity.trainedPqModel`'s
    * artifact). Stateless: no watermark, no shuffle, no retraining —
    * each micro-batch's vectors become `(vec_id, m, scode)` rows ready
    * to append to the code relation the ADC scan reads. Batch ≡
    * stream by construction (the encoder is one shared projection;
    * StreamingSpec pins row-set equality), which is the property an
    * always-on index relies on: a vector gets the same codes whether
    * it arrived in the nightly backfill or ten seconds ago.
    */
  def encodeVectorStream(vecs: DataFrame, mns: Seq[Double], mxs: Seq[Double],
      books: IndexedSeq[IndexedSeq[IndexedSeq[Long]]]): DataFrame =
    graft.operators.Similarity.pqEncodeWith(vecs, mns, mxs, books)

  /** Streaming IVF list ROUTING — the coarse half of the index-ingest
    * pair ([[encodeVectorStream]] is the code half): each arriving
    * vector map-side-assigned to its nearest frozen centroid's
    * inverted list. Stateless, shuffle-free, replay-stable — append
    * the (vec_id, cent_id) rows to the assignment relation the probe
    * join reads and the new vector is immediately searchable.
    * Batch ≡ stream by construction (StreamingSpec pins the per-list
    * populations against `Similarity.ivfBalance`).
    */
  def assignVectorStream(vecs: DataFrame, cents: Seq[Seq[Long]]): DataFrame =
    graft.operators.Similarity.ivfAssignWith(vecs, cents)

  /** Streaming document INGEST pipeline — the streaming twin of
    * `graft.Pipeline`'s front half: quality-gate incoming docs by
    * token count (the batch filter's cheap core — a map-only
    * predicate, evaluated before any state exists), then
    * [[dedupDocsAgainstStore]]. Survivors carry fingerprint and token
    * count — exactly what the appender writes to corpus and store.
    */
  def ingestDocs(docs: DataFrame, store: DataFrame,
      minTokens: Int = 3, maxTokens: Int = 100000,
      watermark: String = "10 minutes"): DataFrame =
    dedupDocsAgainstStore(
      docs.withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
        .filter(col("n_tokens").between(minTokens, maxTokens)),
      store, watermark)

  /** STREAMED SPAN-LAYOUT MAINTENANCE — the live twin of
    * `TextAnalysis.spanPairsIncremental` (whose batch form is the
    * daily-ingest path): a `(doc_id, text)` document stream appends to
    * the persisted winnow-fingerprint store AND refreshes the span-pair
    * layout incrementally, completing the derive-once story end-to-end
    * (`Layouts.writeSpanPairs` materializes yesterday's graph; this
    * keeps it current between nightly rebuilds).
    *
    * Shape: `foreachBatch` — the batch pair core IS the per-batch
    * work (two aggregations + a store join are not expressible as
    * bounded append-mode streaming state, and a 100 TB deployment
    * runs exactly this: micro-batch in, incremental index-delta out).
    * Per batch: (a) the persisted store is RE-READ (so nightly
    * compactions take effect without restart — the
    * [[dedupDocsAgainstStore]] contract), (b)
    * `spanPairsIncremental(batch, store)` emits exactly the pair rows
    * this batch adds — new↔store links plus the batch's internal pair
    * core, both [[graft.operators.TextAnalysis.MaxSpanDf]]-capped,
    * (c) pair rows and the batch's fingerprints land in
    * batch-id-named subdirectories with per-directory overwrite, so a
    * replayed micro-batch (the foreachBatch at-least-once case)
    * overwrites its own output instead of double-appending —
    * idempotent without a transactional sink. Every (doc_a, doc_b)
    * pair is emitted by exactly ONE batch (the one ingesting the
    * later endpoint, whose fingerprints are all present by then), so
    * the union of batch outputs is disjoint and complete:
    * read back with [[readSpanLayoutDeltas]], initial layout + deltas
    * ≡ the batch `sharedSpans` over everything ingested
    * (StreamingSpec pins stream ≡ sequential-batch-ingest ≡ full
    * batch recompute).
    */
  def maintainSpanLayout(docs: DataFrame, storeDir: String,
      layoutDir: String): DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applySpanBatch(batch, storeDir, layoutDir, batchId)
      }

  /** One micro-batch of [[maintainSpanLayout]], as a directly callable
    * seam (the other maintainers' pattern) so specs can drive the
    * replay contract. Tombstone-aware at both boundaries (the takedown
    * face, [[takedownSpanDocs]]): the batch itself is gated — a
    * replayed or re-uploaded taken-down id never re-enters either tree
    * — and the store probe never pairs an arriving doc against a
    * taken-down doc's fingerprints (so the [[graft.operators.TextAnalysis.MaxSpanDf]]
    * caps see SURVIVING posting-list sizes, consistent with the batch
    * twin over survivors).
    *
    * The store probe EXCLUDES the batch's own `b<batchId>` store delta
    * (the label maintainer's replay rule, which this tree turned out
    * to need too): a replay after both writes landed but before the
    * checkpoint committed would otherwise probe the batch's own
    * fingerprints — every batch doc self-pairs (doc_a = doc_b) and
    * every intra-batch pair lands TWICE (once from the pair core, once
    * from the store arm), and since layout deltas are counted FACTS,
    * not idempotent upserts, the corrupted overwrite would serve
    * inflated span counts forever. With the exclusion, both replay
    * windows (before/after the store write) reconstruct exactly the
    * pre-batch store and the overwrite is content-identical.
    */
  private[graft] def applySpanBatch(batch: DataFrame, storeDir: String,
      layoutDir: String, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val tombs = DeltaTree.ledgerIds(spark, DeltaTree.ledgerOf(storeDir), "doc_id")
    val b = batch.select(col("doc_id"), col("text"))
      .filter(notTombstoned(col("doc_id"), tombs)).persist()
    try {
      val parts = DeltaTree.parts(storeDir, exclude = _ == s"b$batchId")
      val store = (if (parts.isEmpty)
          spark.range(0).select(col("id").as("doc_id"), col("id").as("fp"))
        else DeltaTree.read(spark, parts: _*))
        .select(col("doc_id"), col("fp"))
        .filter(notTombstoned(col("doc_id"), tombs))
      graft.operators.TextAnalysis.spanPairsIncremental(b, store)
        .write.mode("overwrite").parquet(s"$layoutDir/b$batchId")
      graft.operators.TextAnalysis.winnowOf(b)
        .write.mode("overwrite").parquet(s"$storeDir/b$batchId")
    } finally { b.unpersist(); () }
  }

  /** Read back the maintained span-pair relation: the initial layout
    * plus every micro-batch delta [[maintainSpanLayout]] appended.
    *
    * DEGREE-STALENESS CONTRACT (r14 verdict #4): the maintained tree
    * deliberately carries ONLY `(doc_a, doc_b, n_shared_spans)` —
    * never the `deg_a`/`deg_b`/`str_*` columns of the NIGHTLY layout
    * ([[graft.engine.Layouts.spanPairsWithStats]]). Degrees are a
    * GLOBAL aggregate: every append raises the degrees of already-
    * stored endpoints, so per-row degree columns in an append-only
    * tree are stale the moment the next batch lands (and a compaction
    * could only fix the folded rows, not the fenced delta). Consumers
    * that need degree-ordered orientation
    * ([[graft.operators.Graph.trianglesOverDeg]]) must re-derive
    * degrees from THIS merged view —
    * [[graft.operators.Graph.trianglesOver]] does exactly that, and
    * ServingMaintenanceSpec pins triangles-off-the-maintained-layout
    * ≡ batch recompute at the merge-on-read AND post-compaction
    * states, across appends that change the degree order. The nightly
    * layout may keep its frozen degree columns because it IS the
    * snapshot artifact — rebuilt, never appended to.
    */
  def readSpanLayoutDeltas(spark: org.apache.spark.sql.SparkSession,
      layoutDir: String): DataFrame = {
    // tombstone-aware serving (the takedown face): a taken-down doc's
    // pair rows vanish immediately at read; physical erasure follows
    // at the next compaction. Pair rows are per-pair facts — removing
    // an endpoint never changes a SURVIVING pair's row, so the
    // endpoint filter alone restores batch-over-survivors semantics
    // (modulo the df-cap uncross class takedownSpanDocs reports).
    val tombs = DeltaTree.ledgerIds(spark, DeltaTree.ledgerOf(layoutDir), "doc_id")
    DeltaTree.read(spark, layoutDir)
      .select(col("doc_a"), col("doc_b"), col("n_shared_spans"))
      .filter(notTombstoned(col("doc_a"), tombs) &&
        notTombstoned(col("doc_b"), tombs))
  }

  /** DELTA COMPACTION for the maintained span layout —
    * [[maintainSpanLayout]] appends one `b<batchId>` delta directory
    * per micro-batch forever, and a long-lived stream degrades the
    * read side into the classic streaming-lakehouse failure: thousands
    * of small files, each a task, each a footer fetch. When the delta
    * count passes `maxDeltas`, this rewrites base + deltas into ONE
    * range-clustered base (the [[graft.engine.Layouts.writeSpanPairs]]
    * physical shape: range-partitioned and sorted on `doc_a`, so
    * row-group min/max pruning works on the compacted relation exactly
    * like on the nightly layout). Pure rewrite, no re-aggregation —
    * every (doc_a, doc_b) pair is emitted by exactly one batch, so the
    * union is already duplicate-free.
    *
    * Contract: run BETWEEN micro-batches by the single layout
    * maintainer (the same discipline every lakehouse OPTIMIZE
    * requires). Batch-replay safety does NOT rely on the compactor
    * observing checkpoint commits: the newest delta is fenced out of
    * every fold ([[DeltaTree.compact]]'s replay fence), so even a
    * crash-before-commit → compact → restart replay overwrites its own
    * still-present delta instead of re-appending compacted rows. The
    * swap is staged for no-data-loss and an interrupted one is
    * finished or undone before the next compaction counts deltas (see
    * [[DeltaTree.compact]]).
    *
    * Triggers on delta COUNT (small-file pressure: each delta is at
    * least one task + footer fetch regardless of size) OR on total
    * delta BYTES (`maxDeltaBytes`, default unbounded — a few huge
    * deltas degrade scan locality long before the count trips).
    *
    * Returns true iff a compaction ran. StreamingSpec pins pre ≡ post
    * row equality and a bounded file count under an ingest-compact
    * loop, plus the bytes trigger firing below the count threshold.
    */
  def compactSpanLayout(spark: org.apache.spark.sql.SparkSession,
      layoutDir: String, maxDeltas: Int = 8, files: Int = 8,
      maxDeltaBytes: Long = Long.MaxValue): Boolean = {
    // takedown face: compaction physically erases pair rows touching a
    // taken-down endpoint (the fenced newest delta stays raw until a
    // newer batch unfences it — the shared fence caveat)
    val tombs = DeltaTree.ledgerIds(spark, DeltaTree.ledgerOf(layoutDir), "doc_id")
    DeltaTree.compact(layoutDir, maxDeltas, maxDeltaBytes) { (tmp, parts) =>
      DeltaTree.read(spark, parts: _*)
        .select(col("doc_a"), col("doc_b"), col("n_shared_spans"))
        .filter(notTombstoned(col("doc_a"), tombs) &&
          notTombstoned(col("doc_b"), tombs))
        .repartitionByRange(files, col("doc_a"))
        .sortWithinPartitions(col("doc_a"), col("doc_b"))
        .write.mode("overwrite").parquet(tmp)
    }
  }

  /** Generation compaction for the maintained WINNOW-FINGERPRINT store
    * ([[maintainSpanLayout]]'s `storeDir` side — one `b<batchId>`
    * directory per micro-batch forever, re-read by every batch's
    * store probe): fold base + deltas into one base range-clustered on
    * `fp`, the probe join's key, so the per-batch df-count and
    * fp-equijoin prune row groups. Same single-maintainer,
    * between-batches contract and staged swap as [[compactSpanLayout]];
    * the replay fence keeps the newest delta raw. Tombstoned docs'
    * fingerprint rows are physically erased by the fold (the takedown
    * face). Returns true iff a compaction ran.
    */
  def compactSpanStore(spark: org.apache.spark.sql.SparkSession,
      storeDir: String, maxDeltas: Int = 8, files: Int = 4,
      maxDeltaBytes: Long = Long.MaxValue): Boolean = {
    val tombs = DeltaTree.ledgerIds(spark, DeltaTree.ledgerOf(storeDir), "doc_id")
    DeltaTree.compact(storeDir, maxDeltas, maxDeltaBytes) { (tmp, parts) =>
      DeltaTree.read(spark, parts: _*)
        .filter(notTombstoned(col("doc_id"), tombs))
        .repartitionByRange(files, col("fp"))
        .sortWithinPartitions(col("fp"))
        .write.mode("overwrite").parquet(tmp)
    }
  }

  /** TAKE DOWN documents from a maintained span-tree PAIR
    * ([[maintainSpanLayout]]'s fingerprint store + pair layout) — the
    * span family's delete verb, completing the takedown face across
    * every maintained tree family ([[takedownCascadeDocs]] /
    * [[takedownEmbeddingVecs]] are the cascade/embedding twins). The
    * span trees are structurally the EASY case: pair rows are per-pair
    * facts and the store rows are per-doc facts, so — unlike the label
    * trees — no stored aggregate can be held by a deleted doc (no
    * keeper elections, no cluster names), and read-side endpoint
    * filters alone restore batch-over-survivors semantics. What lands:
    *
    *  1. a `(doc_id)` ledger generation `_tombstones/t<tombId>` under
    *     BOTH trees (each tree's reads gate with its own ledger;
    *     `tombId`s are monotonic across the pair, equal-to-newest =
    *     exact replay — a crash between the two writes is repaired by
    *     the replay, which overwrites both idempotently);
    *  2. every read becomes tombstone-aware — the serving read
    *     ([[readSpanLayoutDeltas]]), the ingest boundary and store
    *     probe ([[applySpanBatch]]), and both compaction folds, where
    *     physical erasure happens.
    *
    * Returns the DF-UNCROSS report, the span twin of
    * [[takedownCascadeDocs]]' cap-uncross face: a fingerprint whose
    * posting list the takedown shrinks from boilerplate-capped
    * (> maxDf docs, pairs dropped wholesale at ingest) back to
    * within-cap now owes its surviving docs pair rows that no ingest
    * ever emitted — a streamed ≡ batch-over-survivors divergence no
    * read-side filter can repair. Non-empty ⇒ WARN loudly naming
    * [[rebuildSpanLayout]] as the restoring pass. Fingerprints left
    * with fewer than 2 surviving docs are not reported (no pair can
    * exist). Sized on the taken-down docs' own fingerprints — a
    * broadcast semi-join map-side scan of the store, never all fps.
    *
    * Single-maintainer contract: run with the ingest stream STOPPED.
    * Replaying the same (docIds, tombId) is idempotent (identical
    * ledger overwrite; reads re-derive the same filtered state).
    */
  def takedownSpanDocs(spark: org.apache.spark.sql.SparkSession,
      storeDir: String, layoutDir: String, docIds: Seq[Long],
      tombId: Long,
      maxDf: Int = graft.operators.TextAnalysis.MaxSpanDf): DataFrame = {
    import spark.implicits._
    require(docIds.nonEmpty, "a takedown names at least one doc_id")
    DeltaTree.appendLedger(tombId, DeltaTree.ledgerOf(storeDir),
      DeltaTree.ledgerOf(layoutDir))(docIds.toDF("doc_id").localCheckpoint())
    val tombs = DeltaTree.ledgerIds(spark, DeltaTree.ledgerOf(storeDir), "doc_id")
    val fpsAll = DeltaTree.read(spark, storeDir)
      .select(col("doc_id"), col("fp"))
    val dFps = fpsAll.filter(col("doc_id").isInCollection(docIds))
      .select(col("fp")).distinct()
    val uncrossed = fpsAll.join(broadcast(dFps), Seq("fp"))
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("n_all"),
        count(when(notTombstoned(col("doc_id"), tombs), lit(1)))
          .as("n_surviving"))
      .filter(col("n_all") > maxDf && col("n_surviving") <= maxDf &&
        col("n_surviving") >= 2)
      .localCheckpoint()
    if (uncrossed.count() > 0) System.err.println(
      s"[span] WARNING: ${uncrossed.count()} fingerprint posting list(s) " +
        s"shrank from boilerplate-capped (> $maxDf docs, pairs dropped " +
        "wholesale at ingest) back to within-cap under this takedown — " +
        "their surviving docs are owed pair rows no ingest ever emitted, " +
        "so the served layout under-reports shared spans vs a batch " +
        "recompute over survivors. Run " +
        "EventStreams.rebuildSpanLayout(storeDir, layoutDir) in the " +
        "nightly window to restore streamed ≡ batch")
    uncrossed
  }

  /** REBUILD the span-pair layout from the (surviving) fingerprint
    * store — the nightly recompute the df-uncross warning
    * ([[takedownSpanDocs]]) asks for, and the span twin of
    * [[rebuildCascadeStores]]: one batch [[graft.operators.TextAnalysis.sharedSpansOf]]
    * over the tombstone-filtered store, staged-swapped in as a single
    * range-clustered `base_0` ([[DeltaTree.rebuild]]).
    *
    * REPLAY FENCE, disjoint-append edition: the newest `b<id>` layout
    * delta is KEPT (a restarting stream replays its batch and
    * overwrites that directory — trashing it would lose nothing, but
    * folding its pairs into the rebuilt base would turn the replay's
    * re-landed rows into duplicates, the re-append corruption the
    * fence exists to prevent). Its pairs are anti-joined OUT of the
    * rebuilt base instead, so base ∪ kept-delta stays disjoint and
    * complete whether or not the replay arrives.
    *
    * Single-maintainer, between-batches contract. Interruption-
    * repairable by re-running: the fingerprint STORE is the source of
    * truth — the rebuild never reads the layout generations it
    * replaces (only the kept delta, which it does not touch).
    */
  def rebuildSpanLayout(spark: org.apache.spark.sql.SparkSession,
      storeDir: String, layoutDir: String, files: Int = 8): Unit = {
    val tombs = DeltaTree.ledgerIds(spark, DeltaTree.ledgerOf(storeDir), "doc_id")
    val fps = DeltaTree.read(spark, storeDir)
      .select(col("doc_id"), col("fp"))
      .filter(notTombstoned(col("doc_id"), tombs))
    val full = graft.operators.TextAnalysis.sharedSpansOf(fps)
    DeltaTree.rebuild(layoutDir, fenced = true) { (tmp, kept) =>
      kept.fold(full)(k => full.join(
          DeltaTree.read(spark, k).select(col("doc_a"), col("doc_b")),
          Seq("doc_a", "doc_b"), "left_anti"))
        .repartitionByRange(files, col("doc_a"))
        .sortWithinPartitions(col("doc_a"), col("doc_b"))
        .write.mode("overwrite").parquet(tmp)
    }
  }

  /** STORE-SIDE takedown audit for a span-tree pair —
    * [[erasureAuditCascade]]'s span twin: raw fingerprint rows still
    * carrying a taken-down id, raw pair rows naming it as either
    * endpoint, and the permanent ledger row ([[DeltaTree.erasureAudit]]).
    */
  def erasureAuditSpan(spark: org.apache.spark.sql.SparkSession,
      storeDir: String, layoutDir: String, docIds: Seq[Long]): DataFrame =
    DeltaTree.erasureAudit(spark,
      ("fp_store", storeDir, among(col("doc_id"), docIds)),
      ("span_pairs", layoutDir,
        among(col("doc_a"), docIds) || among(col("doc_b"), docIds)),
      ("tombstone_record", DeltaTree.ledgerOf(storeDir),
        among(col("doc_id"), docIds)))

  /** Seed a streaming-maintained LABEL STORE: the converged label
    * table `(doc_id, cluster_id)` — yesterday's full-loop artifact —
    * written as generation 0, range-clustered on `cluster_id` so the
    * merge-write probe ([[graft.operators.Dedup.clustersIncrementalDelta]]'s
    * relabel join keys on the component representative) prunes to the
    * touched components' row groups.
    */
  def labelStoreInit(labels: DataFrame, storeDir: String, files: Int = 4): Unit =
    writeLabelBase(labels, s"$storeDir/base_0", files)

  /** A label base generation — gen 0, range-clustered on `cluster_id` —
    * written to `path`: the seed, a compaction's fold, a rebuild.
    */
  private def writeLabelBase(labels: DataFrame, path: String, files: Int): Unit =
    labels.select(col("doc_id"), col("cluster_id"))
      .withColumn("gen", lit(0L))
      .repartitionByRange(files, col("cluster_id"))
      .sortWithinPartitions(col("cluster_id"))
      .write.mode("overwrite").parquet(path)

  /** Read the maintained label store: base generation + every
    * micro-batch delta, LATEST generation wins per doc (deltas are
    * UPSERTS, unlike the span layout's disjoint appends — a doc's
    * label changes every time its component merges). The fold is one
    * `max_by(cluster_id, gen)` aggregate — the classic merge-on-read
    * cost, bounded by [[compactLabelStore]]; on a cluster this store
    * is a real upsert table (Delta/Iceberg MERGE) and the fold is the
    * table format's job.
    */
  def readLabelStore(spark: org.apache.spark.sql.SparkSession,
      storeDir: String): DataFrame = {
    // tombstone-aware against the tree's OWN ledger (the takedown
    // face, [[takedownLabelDocs]]): a defensive filter covering the
    // crash window between a takedown's ledger write and its repair
    // swap — the repair removes tombstoned rows physically, so the
    // filter is usually a no-op. The standalone ledger lives in the
    // `<storeDir>.tombstones` SIBLING, not inside the tree (see
    // [[labelLedgerDir]]). For cascade/embedding trees (ledger at the
    // tree ROOT) the sibling never exists and their call sites filter
    // with the root ledger.
    readLabelStoreRaw(spark, storeDir)
      .filter(notTombstoned(col("doc_id"),
        DeltaTree.ledgerIds(spark, labelLedgerDir(storeDir), "doc_id")))
  }

  /** The standalone label store's takedown-ledger location — a SIBLING
    * of the tree, outside the directory the repair swap rewrites.
    */
  private def labelLedgerDir(storeDir: String): String =
    s"$storeDir.tombstones"

  /** [[readLabelStore]] WITHOUT the self-ledger filter — the repair
    * core's read: [[repairLabelTree]] must see the removed ids' rows
    * to locate the affected components (the filtered read would hide
    * them and collapse the affected set to empty).
    */
  private def readLabelStoreRaw(spark: org.apache.spark.sql.SparkSession,
      storeDir: String): DataFrame =
    foldLabelStore(DeltaTree.read(spark, DeltaTree.parts(storeDir): _*))

  private def foldLabelStore(parts: DataFrame): DataFrame =
    parts.groupBy(col("doc_id"))
      .agg(max_by(col("cluster_id"), col("gen")).as("cluster_id"))

  /** STREAMING label maintenance — the live twin of the derive-once
    * label layouts: each micro-batch of undirected `(src, dst)` edges
    * is applied to the persisted store via
    * [[graft.operators.Dedup.clustersIncrementalDelta]] (contract →
    * batch-scaled min-label merge → upsert rows only), and the delta
    * lands as a `b<batchId>` generation. Replay safety differs from
    * the span layout in one load-bearing way: a replayed batch's store
    * read must EXCLUDE its own prior delta — incremental application
    * is idempotent, so replaying against a store that already holds
    * the batch's effect would recompute an EMPTY delta and overwrite
    * the real one with nothing. foreachBatch only ever replays the
    * last uncommitted batch, so excluding `b<batchId>` reconstructs
    * exactly the pre-batch store and the overwrite is idempotent.
    *
    * Compose watermark + `dropDuplicatesWithinWatermark(src, dst)`
    * upstream when the edge source redelivers (StreamingSpec runs that
    * shape on the RocksDB state store); redelivered edges inside one
    * store generation are harmless anyway (they contract to
    * self-loops), the dedup just keeps redelivery from paying
    * contraction work twice.
    */
  def maintainLabelStore(edges: DataFrame,
      storeDir: String): DataStreamWriter[org.apache.spark.sql.Row] =
    edges.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyLabelBatch(batch, storeDir, batchId)
      }

  /** One micro-batch of [[maintainLabelStore]], as a directly callable
    * seam so ServingMaintenanceSpec can DRIVE the replay contract
    * instead of trusting the scaladoc: re-applying the same
    * (batch, batchId) must leave the store byte-identical (the
    * foreachBatch at-least-once case), which holds exactly BECAUSE the
    * store read excludes the batch's own prior delta.
    */
  private[graft] def applyLabelBatch(batch: DataFrame, storeDir: String,
      batchId: Long,
      maxReps: Int = graft.operators.Dedup.DeltaPushdownMaxReps): Unit = {
    val b = batch.select(col("src"), col("dst")).persist()
    try writeLabelDelta(b, storeDir, batchId, maxReps)
    finally { b.unpersist(); () }
  }

  /** The replay-hazard-critical label-delta tail every maintainer
    * shares, in exactly ONE place: fold the store EXCLUDING the
    * batch's own prior delta (the upsert replay rule), compute the
    * incremental delta for the batch's edges, land it as the
    * `b<batchId>` generation. A swap a crash interrupted is recovered
    * first ([[DeltaTree.recover]]), so the delta is computed against
    * the whole store.
    *
    * POISON-PILL seam (r14 ADVICE): a batch whose changed-component
    * mapping exceeds [[graft.operators.Dedup.DeltaPushdownMaxReps]] (a
    * bulk backfill arriving through the stream) throws — and because
    * foreachBatch replay recomputes the identical oversized mapping,
    * the stream cannot progress past it by restart alone. The error is
    * re-raised operator-facing, naming the recovery: stop the query,
    * recompute the labels from scratch ([[rebuildCascadeStores]] for a
    * cascade tree, or [[graft.operators.Dedup.clustersOver]] over the
    * full edge relation re-seeded with [[labelStoreInit]]), then
    * restart the SAME checkpoint — the replayed batch's edges are then
    * already absorbed by the rebuilt store, its mapping is small, and
    * the stream proceeds.
    */
  private def writeLabelDelta(edges: DataFrame, labelDir: String,
      batchId: Long,
      maxReps: Int = graft.operators.Dedup.DeltaPushdownMaxReps): Unit = {
    val spark = edges.sparkSession
    // takedown face: the tree's own ledger gates the ingest boundary —
    // a replayed edge batch naming a since-taken-down doc must not
    // resurrect it as a node or re-merge its repaired component. For
    // cascade/embedding trees (root-level ledger) this sibling ledger
    // is empty and their apply seams gate upstream.
    DeltaTree.recover(labelDir)
    val ledgerIds = DeltaTree.ledgerIds(spark, labelLedgerDir(labelDir), "doc_id")
    val gated = edges.filter(notTombstoned(col("src"), ledgerIds) &&
      notTombstoned(col("dst"), ledgerIds))
    val store = foldLabelStore(DeltaTree.read(spark,
      DeltaTree.parts(labelDir, exclude = _ == s"b$batchId"): _*))
    val delta =
      try graft.operators.Dedup.clustersIncrementalDelta(store, gated,
        maxReps = maxReps)
      catch {
        case e: IllegalArgumentException
            if e.getMessage != null && e.getMessage.contains("pushdown cap") =>
          throw new IllegalStateException(
            s"label-store maintenance at $labelDir hit a bulk-backfill " +
              s"batch (batchId=$batchId): " + e.getMessage.stripPrefix("requirement failed: ") +
              ". Restarting the stream will replay the identical oversized " +
              "batch — recover by stopping the query, rebuilding the labels " +
              "from scratch (EventStreams.rebuildCascadeStores for a cascade " +
              "tree; otherwise Dedup.clustersOver over the full edge " +
              "relation, re-seeded with labelStoreInit), then restarting the " +
              "same checkpoint: the replayed batch then computes a small " +
              "delta against the rebuilt store and the stream proceeds", e)
      }
    delta
      .withColumn("gen", lit(batchId + 1L))
      .write.mode("overwrite").parquet(s"$labelDir/b$batchId")
  }

  /** Generation compaction for the maintained label store: when the
    * delta count passes `maxDeltas`, fold base + deltas ([[readLabelStore]]'s
    * latest-wins aggregate) into ONE gen-0 base, range-clustered on
    * `cluster_id` like [[labelStoreInit]]'s. Same single-maintainer,
    * between-batches contract and same staged no-data-loss swap as
    * [[compactSpanLayout]]. Returns true iff a compaction ran.
    */
  def compactLabelStore(spark: org.apache.spark.sql.SparkSession,
      storeDir: String, maxDeltas: Int = 8, files: Int = 4): Boolean = {
    // takedown face: defensive physical erasure against the tree's own
    // ledger — the repair swap already removed tombstoned rows, so
    // this only bites in the crash window before a takedown's re-run
    val tombs = DeltaTree.ledgerIds(spark, labelLedgerDir(storeDir), "doc_id")
    DeltaTree.compact(storeDir, maxDeltas) { (tmp, parts) =>
      writeLabelBase(foldLabelStore(DeltaTree.read(spark, parts: _*))
        .filter(notTombstoned(col("doc_id"), tombs)), tmp, files)
    }
  }

  /** TAKE DOWN documents from a STANDALONE maintained label store
    * ([[maintainLabelStore]]'s tree — component labels fed by an edge
    * stream, e.g. the span graph's incremental components) — the label
    * face of [[takedownSpanDocs]]: read-side filters cannot repair a
    * label tree (a removal can split a component and take its min-id
    * NAME with it), so the shared component-repair core re-clusters
    * exactly the affected components over caller-supplied survivor
    * edges and swaps the repaired tree in.
    *
    * `survivorEdges` receives the surviving members `(doc_id)` of the
    * affected components and returns candidate `(src, dst)` edges for
    * them from the EDGE SOURCE this store is maintained from (for a
    * span-backed store: [[readSpanLayoutDeltas]] renamed — already
    * tombstone-filtered if the span trees were taken down first, which
    * is the intended order). The core then restricts both endpoints to
    * the survivor set, so over-delivery is harmless.
    *
    * The ledger (`t<id>` generations in the `<storeDir>.tombstones`
    * SIBLING, [[labelLedgerDir]]) additionally gates
    * [[readLabelStore]] (crash-window defense) and the edge-ingest
    * boundary (`writeLabelDelta` drops
    * edges naming a taken-down id, so a replayed batch or a late edge
    * cannot resurrect the node or re-merge the repaired component),
    * and [[compactLabelStore]] erases defensively. Single-maintainer
    * contract: run with the edge stream STOPPED; same-(docIds, tombId)
    * replay is idempotent, a lower tombId is refused.
    */
  def takedownLabelDocs(spark: org.apache.spark.sql.SparkSession,
      storeDir: String, docIds: Seq[Long], tombId: Long,
      maxHops: Int = graft.operators.Dedup.ClusterMaxHops,
      files: Int = 4)(
      survivorEdges: DataFrame => DataFrame): Unit = {
    import spark.implicits._
    require(docIds.nonEmpty, "a takedown names at least one doc_id")
    val tombDir = labelLedgerDir(storeDir)
    DeltaTree.appendLedger(tombId, tombDir)(docIds.toDF("doc_id"))
    val tombs = DeltaTree.ledgerIds(spark, tombDir, "doc_id")
    repairLabelTree(spark, storeDir, docIds, tombs, maxHops, files)(
      survivorEdges)
  }

  /** STORE-SIDE takedown audit for a standalone label store — raw
    * label rows naming a taken-down id as member or as cluster NAME
    * (labels are min member ids, so a deleted doc can survive as other
    * docs' `cluster_id` — the repair face closes exactly that), plus
    * the permanent ledger row.
    */
  def erasureAuditLabels(spark: org.apache.spark.sql.SparkSession,
      storeDir: String, docIds: Seq[Long]): DataFrame =
    DeltaTree.erasureAudit(spark,
      ("labels", storeDir,
        among(col("doc_id"), docIds) || among(col("cluster_id"), docIds)),
      ("tombstone_record", labelLedgerDir(storeDir),
        among(col("doc_id"), docIds)))

  // ------------------------------------------------------------------
  // ER matches-layout maintenance (the streaming twin of
  // EntityResolution.matchesLayout)
  // ------------------------------------------------------------------

  /** Seed the maintained ER matches layout with a nightly full-match
    * artifact (`EntityResolution.matchMentions`' rows), range-clustered
    * on `mention_id` — the same physical shape
    * [[compactMatchesLayout]] restores.
    */
  def matchesLayoutInit(matches: DataFrame, layoutDir: String,
      files: Int = 4): Unit =
    matches
      .select(col("mention_id"), col("mention"), col("matched_id"),
        col("dist"), col("correct"))
      .repartitionByRange(files, col("mention_id"))
      .sortWithinPartitions(col("mention_id"))
      .write.mode("overwrite").parquet(s"$layoutDir/base_0")

  /** STREAMING ER match maintenance — the live twin of the derive-once
    * [[graft.operators.EntityResolution.matchesLayout]]: each
    * micro-batch of `(mention_id, true_name, mention)` rows is matched
    * against the persisted catalog (the
    * `er_match_fixed_catalog` production contract — blocking keys are
    * kept/dropped by CATALOG posting size alone, so a mention's
    * verdict never depends on other mentions) and lands as a DISJOINT
    * `b<batchId>` delta. Disjointness is the span layout's replay
    * story, not the label store's: verdicts are FINAL at ingest under
    * a fixed catalog, a replayed batch overwrites its own delta, and
    * no cross-delta fold is needed on read.
    *
    * Per-batch cost: one scan of the catalog (dimension-sized — the
    * [[graft.operators.EntityResolution.ErMaxBlock]] posting guard is
    * computed from it) plus blocked batch-side work; never
    * O(all mentions ever ingested). A catalog CHANGE invalidates the
    * layout wholesale — recompute the nightly artifact, the same rule
    * the derive-once layout lives by.
    */
  def maintainMatchesLayout(mentions: DataFrame, catalogDir: String,
      layoutDir: String): DataStreamWriter[org.apache.spark.sql.Row] = {
    // the blocked catalog keys and the ErMaxBlock posting election are
    // STREAM-CONSTANT under the fixed-catalog contract — compute and
    // materialize them once at construction instead of re-reading the
    // catalog and re-electing postings per micro-batch (r13 review
    // fix). Materialized to PARQUET, not localCheckpoint (r14 ADVICE):
    // localCheckpoint blocks are non-reliable and these frames live
    // for the stream's whole lifetime — on a cluster, one executor
    // loss after construction would fail every later micro-batch
    // until the query is rebuilt. The materialization lives UNDER the
    // maintained tree as `_keys/` (r15, closing the second half of the
    // same ADVICE: a driver-local temp dir is not a shared filesystem
    // and leaked per construction) — same storage as the layout, so
    // cluster executors can read it, its lifecycle is the layout's
    // (deleting the tree deletes it, a new stream overwrites it), the
    // `_` prefix hides it from the layout's recursive read (Spark's
    // file index skips `_`/`.`-prefixed paths), and DeltaTree.compact
    // folds recognized generation dirs only. Each batch pays two
    // dimension-sized scans; their schemas are inferred once
    // (Tables.parquet), not per batch.
    val spark = mentions.sparkSession
    val (ck0, kept0) = graft.operators.EntityResolution.catalogKeys(
      spark.read.parquet(catalogDir).select(col("ent_name"), col("ent_id")))
    val keysDir = s"$layoutDir/_keys"
    ck0.write.mode("overwrite").parquet(s"$keysDir/ck")
    kept0.write.mode("overwrite").parquet(s"$keysDir/kept")
    mentions.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val m = batch.select(col("mention_id"), col("true_name"), col("mention"))
        graft.operators.EntityResolution.matchAgainstKeys(m,
            graft.engine.Tables.parquet(spark, s"$keysDir/ck"),
            graft.engine.Tables.parquet(spark, s"$keysDir/kept"))
          .drop("true_name") // the fixed-catalog layout's 5-col schema
          .write.mode("overwrite").parquet(s"$layoutDir/b$batchId")
        ()
      }
  }

  /** Read the maintained matches layout: base + every delta, one row
    * per mention ever ingested (deltas are disjoint — no fold).
    */
  def readMatchesLayout(spark: org.apache.spark.sql.SparkSession,
      layoutDir: String): DataFrame =
    DeltaTree.read(spark, layoutDir)
      .select(col("mention_id"), col("mention"), col("matched_id"),
        col("dist"), col("correct"))

  /** Delta compaction for the matches layout — pure rewrite (disjoint
    * deltas), range-clustered on `mention_id` like
    * [[matchesLayoutInit]]. Same single-maintainer, between-batches
    * contract and staged swap as every compactor here.
    */
  def compactMatchesLayout(spark: org.apache.spark.sql.SparkSession,
      layoutDir: String, maxDeltas: Int = 8, files: Int = 4,
      maxDeltaBytes: Long = Long.MaxValue): Boolean =
    DeltaTree.compact(layoutDir, maxDeltas, maxDeltaBytes) { (tmp, parts) =>
      DeltaTree.read(spark, parts: _*)
        .select(col("mention_id"), col("mention"), col("matched_id"),
          col("dist"), col("correct"))
        .repartitionByRange(files, col("mention_id"))
        .sortWithinPartitions(col("mention_id"))
        .write.mode("overwrite").parquet(tmp)
    }

  // ------------------------------------------------------------------
  // EVOLVING matches store: the catalog-UPSERT face the fixed-catalog
  // layout lives without (r13 verdict #2), grown the DELETE face in
  // r15 (r14 verdict #1). Two delta trees:
  //
  //  - catalog store  `base_0` + `b<deltaId>` upsert/tombstone rows
  //    (`deleted` flag; tombstones carry a NULL name), latest `gen`
  //    wins per ent_id, deleted entities absent from the serving fold
  //    — the dimension's own slowly-changing history.
  //    compactCatalogStore physically erases folded tombstones (the
  //    GDPR face: after the compaction that folds a delete, no raw
  //    row under the tree carries the entity's id or name).
  //  - matches store  `base_0` + `b<batchId>` mention-ingest rows
  //    (gen 0) + `cd<deltaId>` RE-VERDICT rows (gen deltaId+1),
  //    latest gen wins per mention_id. Rows carry `true_name` so a
  //    later catalog delta can re-score stored mentions without any
  //    source-of-truth side channel. (No catalog-OWNED name column is
  //    stored — matched_name is dropped at ingest — so CATALOG erasure
  //    needs no matches-store rewrite: dangling matched_ids re-verdict
  //    away at the delete and the stale generations fold out at
  //    compaction. The mention rows' OWN payload — `mention`,
  //    `true_name` — can still textually contain an erased entity's
  //    name, exactly as any source document can; erasing mention
  //    payloads is a Redaction-side verb against the mention source,
  //    not a catalog operation, and erasureAuditStores SURFACES the
  //    residue rather than letting the sign-off imply it is gone.)
  //
  // A catalog delta invalidates exactly the mentions whose blocking
  // keys intersect the changed entities' postings under their OLD or
  // NEW names (EntityResolution.reverdicts proves why that set is
  // sufficient for blocked verdicts), plus — the tombstone face —
  // mentions whose stored verdict points at a deleted entity (any
  // generation; covers non-blocked seeds); only those re-score, as
  // one cd upsert generation.
  // Single-maintainer discipline: mention batches, catalog deltas,
  // and compaction interleave between micro-batches, never
  // concurrently.
  // ------------------------------------------------------------------

  /** Seed the evolving catalog store: generation 0, range-clustered on
    * `ent_id` (the upsert key). Rows carry the tombstone flag
    * (`deleted = false` at seed) — a delete lands as a nameless
    * `deleted = true` generation that the serving fold drops and
    * [[compactCatalogStore]] physically erases.
    */
  def catalogStoreInit(cat: DataFrame, catalogDir: String, files: Int = 2): Unit =
    cat.select(col("ent_name"), col("ent_id"))
      .withColumn("deleted", lit(false))
      .withColumn("gen", lit(0L))
      .repartitionByRange(files, col("ent_id"))
      .sortWithinPartitions(col("ent_id"))
      .write.mode("overwrite").parquet(s"$catalogDir/base_0")

  /** Latest generation per entity, tombstones INCLUDED — the
    * compaction fold ([[compactCatalogStore]] drops the deleted rows
    * after electing them, which is what makes the drop safe: a
    * tombstone only erases once it has won its entity's election).
    */
  private def foldCatalogFull(parts: DataFrame): DataFrame =
    parts.groupBy(col("ent_id"))
      .agg(max_by(struct(col("ent_name"), col("deleted")), col("gen")).as("s"),
        max(col("gen")).as("gen"))
      .select(col("s.ent_name").as("ent_name"), col("ent_id"),
        col("s.deleted").as("deleted"), col("gen"))

  /** The SERVING fold: latest gen per entity, deleted entities absent. */
  private def foldCatalog(parts: DataFrame): DataFrame =
    foldCatalogFull(parts).filter(!col("deleted"))
      .select(col("ent_name"), col("ent_id"))

  /** The catalog as of all applied deltas (latest gen per ent_id;
    * tombstoned entities absent).
    */
  def readCatalogStore(spark: org.apache.spark.sql.SparkSession,
      catalogDir: String): DataFrame =
    foldCatalog(DeltaTree.read(spark, DeltaTree.parts(catalogDir): _*))

  /** Generation compaction for the evolving catalog store (r14 verdict
    * #3 — every other delta tree had one): fold base + deltas
    * latest-wins with gen PRESERVED (the matches-store lesson: a
    * gen-reset would let the replay-fenced newest delta's rows tie the
    * base) and physically DROP tombstoned entities — the erasure
    * guarantee: after the compaction that folds a delete's generation,
    * no parquet row under the tree carries the entity's id or name.
    * Dropping is safe because deltaIds are monotonic
    * ([[applyCatalogDelta]]'s guard): no future generation can arrive
    * below the tombstone's gen, and a fenced newer upsert of the same
    * ent_id outranks it anyway (a re-add). The newest `b<id>` delta is
    * replay-fenced like every tree here — a delete whose generation is
    * still fenced erases at the NEXT compaction, once a newer delta
    * exists.
    *
    * `quiesced = true` folds the fenced newest delta too — the DRAIN a
    * final erasure sign-off needs when no newer delta will ever land.
    * Only set it when catalog-delta application is STOPPED for this
    * tree. Safe even against a later exact replay of the drained
    * delta: [[applyCatalogDelta]]'s recompute is deterministic and its
    * rows keep their original gen, so a re-written `b<id>` ties the
    * folded base with IDENTICAL rows — the latest-gen-wins fold serves
    * the same catalog either way (unlike the append-fold trees, which
    * never drain).
    */
  def compactCatalogStore(spark: org.apache.spark.sql.SparkSession,
      catalogDir: String, maxDeltas: Int = 8, files: Int = 2,
      quiesced: Boolean = false): Boolean =
    DeltaTree.compact(catalogDir, maxDeltas, includeFenced = quiesced) {
      (tmp, parts) =>
        foldCatalogFull(DeltaTree.read(spark, parts: _*))
          .filter(!col("deleted"))
          .select(col("ent_name"), col("ent_id"), col("deleted"), col("gen"))
          .repartitionByRange(files, col("ent_id"))
          .sortWithinPartitions(col("ent_id"))
          .write.mode("overwrite").parquet(tmp)
    }

  /** Seed the evolving matches store from a nightly full-match
    * artifact — [[graft.operators.EntityResolution.matchAgainstKeys]]
    * rows (WITH `true_name`), generation 0, range-clustered on
    * `mention_id`.
    */
  def matchesStoreInit(matchesFull: DataFrame, layoutDir: String,
      files: Int = 4): Unit =
    matchesFull
      .select(col("mention_id"), col("true_name"), col("mention"),
        col("matched_id"), col("dist"), col("correct"))
      .withColumn("gen", lit(0L))
      .repartitionByRange(files, col("mention_id"))
      .sortWithinPartitions(col("mention_id"))
      .write.mode("overwrite").parquet(s"$layoutDir/base_0")

  /** Latest verdict per mention. Keeps the winning row's `gen`: the
    * compactor persists it — folding a cd re-verdict (gen > 0) into a
    * gen-0 base row would TIE with the replay-fenced newest mention
    * delta's gen-0 rows and let a stale pre-delta verdict win the
    * serving fold arbitrarily (caught by ServingMaintenanceSpec's
    * post-compaction equality).
    */
  private def foldMatchesStore(parts: DataFrame): DataFrame =
    parts.groupBy(col("mention_id"))
      .agg(max_by(struct(col("true_name"), col("mention"), col("matched_id"),
        col("dist"), col("correct")), col("gen")).as("s"),
        max(col("gen")).as("gen"))
      .select(col("mention_id"), col("s.true_name").as("true_name"),
        col("s.mention").as("mention"), col("s.matched_id").as("matched_id"),
        col("s.dist").as("dist"), col("s.correct").as("correct"), col("gen"))

  /** Serve the evolving matches store: latest verdict per mention
    * (same 5-column surface as [[readMatchesLayout]]).
    */
  def readMatchesStore(spark: org.apache.spark.sql.SparkSession,
      layoutDir: String): DataFrame =
    foldMatchesStore(DeltaTree.read(spark, DeltaTree.parts(layoutDir): _*))
      .select(col("mention_id"), col("mention"), col("matched_id"),
        col("dist"), col("correct"))

  /** STREAMING mention maintenance against the EVOLVING catalog: each
    * micro-batch re-reads the catalog store fold (the price of an
    * evolving dimension — [[maintainMatchesLayout]] stays the fast
    * path when the catalog is genuinely frozen) and lands its verdicts
    * as a gen-0 delta. Replay-safe by per-directory overwrite; a
    * replayed batch that races a catalog delta re-scores against the
    * newer catalog, whose cd rows carry a higher gen and win anyway —
    * both orders serve the same verdicts.
    */
  def maintainMatchesStore(mentions: DataFrame, catalogDir: String,
      layoutDir: String): DataStreamWriter[org.apache.spark.sql.Row] =
    mentions.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyMentionBatch(batch, catalogDir, layoutDir, batchId)
      }

  /** One micro-batch of [[maintainMatchesStore]] — the directly
    * callable replay seam.
    */
  private[graft] def applyMentionBatch(batch: DataFrame, catalogDir: String,
      layoutDir: String, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val m = batch.select(col("mention_id"), col("true_name"), col("mention"))
    val (ck, kept) = graft.operators.EntityResolution.catalogKeys(
      readCatalogStore(spark, catalogDir))
    graft.operators.EntityResolution.matchAgainstKeys(m, ck, kept)
      .withColumn("gen", lit(0L))
      .write.mode("overwrite").parquet(s"$layoutDir/b$batchId")
  }

  /** Apply a CATALOG DELTA — upserted `(ent_id, ent_name)` rows and/or
    * tombstoned `(ent_id, deleted = true)` rows — to the evolving
    * store pair: land the delta as catalog generation `deltaId+1`
    * (tombstones carry a NULL name — the erasure posture: the delete
    * generation itself never re-records what it deletes), re-score
    * exactly the affected stored mentions
    * ([[graft.operators.EntityResolution.reverdicts]] — blocking-key
    * overlap under old ∪ new names, PLUS mentions whose stored verdict
    * points at a deleted entity, scanned across EVERY generation so
    * even a non-blocked seed's danglers re-verdict), and land those
    * re-verdicts as the matches store's `cd<deltaId>` upsert
    * generation. A mention whose whole candidate set was deleted
    * re-verdicts to the null match.
    *
    * Replay contract (the upsert stores' rule): the catalog fold
    * EXCLUDES the delta's own `b<deltaId>` generation and the mention
    * read excludes its own `cd<deltaId>`, so re-applying the same
    * (delta, deltaId) recomputes from the exact pre-delta state and
    * overwrites both directories with identical content. `deltaId`s
    * must increase monotonically across the store pair's life (they
    * order re-verdict generations in the latest-gen-wins folds) —
    * ENFORCED here: a deltaId below an already-landed generation
    * throws; equal to the newest is the exact-replay case and passes.
    * Both trees first recover a swap a crash interrupted
    * ([[DeltaTree.recover]]), so the delta is computed against the
    * whole store pair.
    */
  def applyCatalogDelta(spark: org.apache.spark.sql.SparkSession,
      delta: DataFrame, catalogDir: String, layoutDir: String,
      deltaId: Long): Unit = {
    DeltaTree.recover(catalogDir)
    DeltaTree.recover(layoutDir)
    DeltaTree.requireMonotonic("catalog deltaId", deltaId,
      DeltaTree.ids(catalogDir, "b") ++ DeltaTree.ids(layoutDir, "cd"),
      "deltaIds order re-verdict generations across the store pair's " +
        "life; a lower one would let stale re-verdicts outrank newer ones " +
        "in the latest-gen-wins fold and resurrect replaced or tombstoned " +
        "catalog rows")
    val oldCat = foldCatalog(DeltaTree.read(spark,
      DeltaTree.parts(catalogDir, exclude = _ == s"b$deltaId"): _*))
      .localCheckpoint()
    val d = graft.operators.EntityResolution.withDeletedCol(delta)
      .select(col("ent_id"),
        when(col("deleted"), lit(null).cast("string"))
          .otherwise(col("ent_name")).as("ent_name"),
        col("deleted"))
      .localCheckpoint()
    // delta WELL-FORMEDNESS, enforced at the store boundary (r15
    // self-review): two rows for one ent_id land with the SAME gen and
    // tie in the latest-gen-wins fold — the store would serve one of
    // them nondeterministically; a null ent_id can never be replaced or
    // deleted (the anti-join skips nulls); a null name on an UPSERT
    // row would serve a nameless entity that silently vanishes from
    // all blocking (keysOf of null explodes to nothing) — a delete in
    // disguise that still occupies its id. All producer bugs; fail
    // loudly before any write. One aggregate over the checkpointed
    // dimension-delta-sized frame.
    val shape = d.agg(count(lit(1)).as("n"),
      count(col("ent_id")).as("nn"), countDistinct(col("ent_id")).as("nd"),
      count(when(!col("deleted") && col("ent_name").isNull, lit(1))).as("nun"))
      .head()
    require(shape.getLong(0) == shape.getLong(1),
      s"catalog delta $deltaId carries ${shape.getLong(0) - shape.getLong(1)} " +
        "null ent_id row(s) — a null id can never be upserted over or " +
        "tombstoned; drop or key the rows upstream")
    require(shape.getLong(1) == shape.getLong(2),
      s"catalog delta $deltaId carries duplicate ent_ids " +
        s"(${shape.getLong(1)} rows over ${shape.getLong(2)} distinct ids) — " +
        "one row per entity per delta: duplicates land with equal gen and " +
        "the latest-gen-wins fold would serve one of them arbitrarily; " +
        "fold the producer's changes per entity before applying")
    require(shape.getLong(3) == 0L,
      s"catalog delta $deltaId carries ${shape.getLong(3)} upsert row(s) " +
        "with a null ent_name — a nameless entity posts no blocking keys " +
        "and silently vanishes from candidate generation while occupying " +
        "its id; ship a name or a tombstone (deleted = true)")
    d.withColumn("gen", lit(deltaId + 1L))
      .write.mode("overwrite").parquet(s"$catalogDir/b$deltaId")
    // stored mentions come from base_* + b* generations ONLY: those
    // hold exactly one row per mention (ingests are disjoint; a
    // compacted base folds to one row per mention), while cd dirs
    // only re-score mentions that already exist there. Excluding cd
    // dirs makes this a pure map-side scan — a dropDuplicates over
    // the full tree would shuffle the corpus-sized store on every
    // catalog delta (caught in the r14 self-review).
    val stored = DeltaTree.read(spark,
        DeltaTree.parts(layoutDir, exclude = _.startsWith("cd")): _*)
      .select(col("mention_id"), col("true_name"), col("mention"))
    // the dangler face: ANY generation's verdict pointing at a CHANGED
    // entity — deleted or renamed — marks its mention affected (a
    // superset of the latest-verdict danglers — re-verdicting an extra
    // already-current mention is idempotent, and the any-gen read
    // stays a broadcast-semi-join MAP-SIDE SCAN where a latest-wins
    // fold would shuffle the corpus per delta). For blocked verdicts
    // this face is redundant with the key overlap; it exists for
    // non-blocked seeds (erEnrich backfills), and covering renames
    // too closes the same hazard the delete face closes (r15 review:
    // a rename moves dist/correct out from under a keyless stored
    // verdict exactly like a delete dangles its id). One projection
    // scan of the store per delta is the price. Own-cd exclusion
    // keeps the replay contract exact.
    val danglers = Some(danglingMentions(spark, layoutDir,
      d.select(col("ent_id")), excludeCd = deltaId))
    // a fenced b-delta's mentions can ALSO sit in a folded base (their
    // cd re-verdicts were folded) — identical duplicate rows. Dedupe
    // the AFFECTED-scaled output, never the corpus-scaled input.
    graft.operators.EntityResolution.reverdicts(stored, oldCat, d, danglers)
      .dropDuplicates("mention_id")
      .withColumn("gen", lit(deltaId + 1L))
      .write.mode("overwrite").parquet(s"$layoutDir/cd$deltaId")
  }

  /** The dangler probe of [[applyCatalogDelta]]'s stored-verdict face,
    * as a directly plan-auditable seam: mentions whose ANY-generation
    * stored verdict points at one of the given (changed or deleted)
    * entity ids. The store side is
    * corpus-sized, so its one pass must be a map-side scan probed by a
    * BROADCAST of the dimension-delta-sized id set — a
    * sort-merge join here would shuffle the matches store on every
    * delta (ServingMaintenanceSpec pins BroadcastHashJoin /
    * no SortMergeJoin, the band-probe standard).
    */
  private[graft] def danglingMentions(spark: org.apache.spark.sql.SparkSession,
      layoutDir: String, refIds: DataFrame, excludeCd: Long): DataFrame = {
    val ids = refIds.select(col("ent_id"))
    DeltaTree.read(spark,
      DeltaTree.parts(layoutDir, exclude = _ == s"cd$excludeCd"): _*)
      .join(broadcast(ids), col("matched_id") === ids("ent_id"), "left_semi")
      .select(col("mention_id")).distinct()
  }

  /** STORE-SIDE erasure audit — the serving-store composition of
    * [[graft.operators.Redaction.erasureAudit]]'s audit-first
    * philosophy (r14 verdict #1): given the deletion-request entity
    * ids, count the RAW parquet rows under each store tree that still
    * reference them — catalog rows by `ent_id` (tombstone generations
    * included: a fenced delete still counts until compaction folds
    * it), matches rows by `matched_id` across every generation. The
    * sign-off artifact a deletion batch reads after its
    * apply-then-compact cycle: both counts at zero = CATALOG-SIDE
    * physical erasure complete (the dimension's rows and every stored
    * reference to its ids). A non-zero count names the generations the
    * next fold clears — with one honest exception (r15 review): the
    * replay-fenced NEWEST delta in each tree. A fenced tombstone, or a
    * fenced mention batch whose gen-0 verdicts PREDATE the delete,
    * stays raw until a newer delta unfences it — and in a QUIESCED
    * stream no newer delta ever comes, so the normal
    * apply-then-compact cycle pins the count above zero forever. The
    * terminating procedure is the compactors' drain: stop the
    * maintainer stream, then [[compactMatchesStore]] /
    * [[compactCatalogStore]] with `quiesced = true` folds the fenced
    * generation and this audit reaches zero.
    *
    * SCOPE, stated exactly (r15 review — the audit must not imply more
    * than it checks): mention rows' OWN payload (`mention`,
    * `true_name`) can still textually CONTAIN an erased entity's name,
    * the same way any source document can; that residue is a
    * mention-source redaction concern, not a catalog operation. Pass
    * the erased NAMES as `entNames` and the audit SURFACES it as a
    * third row (`matches_payload`: raw rows whose true_name or mention
    * equals an erased name) so the sign-off reads the residue
    * explicitly instead of a silent zero.
    *
    * Execution shape: the request list is dimension-delta-sized, so it
    * collects to a bounded in-memory set and pushes into codegen'd
    * set-membership predicates — ONE conditional-aggregation scan per
    * tree computes every count (the matches tree is read once for both
    * its rows, where the first draft's OR-condition semi-join planned
    * a nested-loop broadcast join and scanned the tree per count). The
    * stores never shuffle.
    */
  def erasureAuditStores(spark: org.apache.spark.sql.SparkSession,
      catalogDir: String, layoutDir: String, entIds: DataFrame,
      entNames: Option[DataFrame] = None): DataFrame = {
    // deletion-request-sized collects (the bounded-collect class every
    // probe here uses)
    val ids = entIds.select(col("ent_id")).distinct()
      .collect().map(_.getLong(0)).toSeq
    val names = entNames.map(_.select(col("ent_name")).distinct()
      .collect().map(_.getString(0)).toSeq)
    val payload = names.map(ns => ("matches_payload", layoutDir,
      among(col("true_name"), ns) || among(col("mention"), ns)))
    DeltaTree.erasureAudit(spark,
      Seq(("catalog", catalogDir, among(col("ent_id"), ids)),
        ("matches", layoutDir, among(col("matched_id"), ids))) ++ payload: _*)
  }

  /** Compact the evolving matches store: fold base + mention deltas +
    * re-verdict deltas (latest gen wins) into one base generation,
    * each mention keeping its winning row's gen. The
    * newest `b<id>` mention delta is replay-fenced like every tree
    * here; `cd` deltas fold freely — a re-applied catalog delta
    * recomputes identical rows whose gen outranks the folded base, so
    * compaction can never turn its replay into a divergence.
    *
    * `quiesced = true` folds the fenced newest mention delta too — the
    * DRAIN the erasure sign-off needs when that delta PREDATES a
    * delete (its raw gen-0 rows still reference the deleted entity)
    * and the mention stream is STOPPED, so no newer batch will ever
    * unfence it and the normal cycle pins the audit above zero
    * forever (r15 review). Only set it when the maintainer stream is
    * stopped. Safe even against a later replay of the drained batch:
    * a mention's folded row either carries a `cd` gen > 0 (outranks
    * the replay's gen-0 rows) or is gen 0 precisely because no applied
    * catalog delta affected it — in which case the replay's recompute
    * against the current catalog reproduces the identical verdict and
    * the equal-gen tie is between identical rows. The append-fold
    * trees get no such switch; their replay really would re-append.
    */
  def compactMatchesStore(spark: org.apache.spark.sql.SparkSession,
      layoutDir: String, maxDeltas: Int = 8, files: Int = 4,
      quiesced: Boolean = false): Boolean =
    DeltaTree.compact(layoutDir, maxDeltas, includeFenced = quiesced) {
      (tmp, parts) =>
        // gen is PRESERVED (not reset): see foldMatchesStore
        foldMatchesStore(DeltaTree.read(spark, parts: _*))
          .repartitionByRange(files, col("mention_id"))
          .sortWithinPartitions(col("mention_id"))
          .write.mode("overwrite").parquet(tmp)
    }

  // ------------------------------------------------------------------
  // streaming dedup-cascade stores (the live twin of Dedup.cascade)
  // ------------------------------------------------------------------

  /** Initialise the cascade store tree under `root`. Five sub-stores,
    * each with its own merge discipline (docs/fp/nfp/labels feed the
    * served verdicts; bands feeds the next batch's probe):
    *
    *  - `docs/`  — `(doc_id, fp, nfp)` fingerprinted docs; DISJOINT
    *    per-batch appends (a doc is ingested once).
    *  - `fp/`, `nfp/` — `(fp|nfp, keeper)` BATCH-LOCAL keeper minima;
    *    merge-on-read is a `min` fold — min composes, so the fold of
    *    batch minima IS the global keeper election, with no
    *    generation ordering needed (unlike the label store's
    *    latest-wins upserts).
    *  - `bands/` — [[graft.operators.Dedup.bandSigRows]] rows, the
    *    LSH probe target; disjoint appends.
    *  - `labels/` — the maintained near-dup label store
    *    ([[labelStoreInit]]'s upsert-generation shape), seeded EMPTY
    *    here: a nightly bootstrap is just history ingested as the
    *    first batch.
    */
  def cascadeStoreInit(spark: org.apache.spark.sql.SparkSession,
      root: String): Unit = {
    import spark.implicits._
    labelStoreInit(Seq.empty[(Long, Long)].toDF("doc_id", "cluster_id"),
      s"$root/labels", files = 1)
  }

  /** STREAMING cascade-store maintenance — the live twin of the batch
    * [[graft.operators.Dedup.cascade]]: each micro-batch of
    * `(doc_id, text)` docs is fingerprinted once
    * ([[graft.operators.Dedup.fingerprintsOf]] — the SAME keys a batch
    * recompute would give it), its batch-local keeper minima and band
    * rows land as deltas, the band store is probed for the batch's
    * near-dup edges ([[graft.operators.Dedup.lshProbeEdges]] — the
    * store never shuffles; the batch's keys broadcast into a map-side
    * scan), and the label store takes the incremental delta
    * ([[graft.operators.Dedup.clustersIncrementalDelta]], with the
    * same replayed-batch exclusion as [[maintainLabelStore]]).
    *
    * Replay safety per sub-store: docs/fp/nfp/bands deltas are
    * recomputed from the batch alone and overwrite their own
    * directory (idempotent); the band probe reads the store WITH the
    * batch's just-written rows (so batch-internal pairs fall out of
    * the one join, and a replay sees identical bucket contents); the
    * label read EXCLUDES the batch's own prior delta (the upsert-delta
    * replay hazard [[maintainLabelStore]] documents).
    *
    * Per-batch cost: batch-scaled fingerprint/band work + one map-side
    * band-store scan + the batch-scaled contracted label loop — never
    * O(corpus). [[readCascadeVerdicts]] serves the cascade table off
    * these stores with zero text re-processing.
    */
  def maintainCascadeStores(docs: DataFrame,
      root: String): DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyCascadeBatch(batch, root, batchId)
      }

  /** One micro-batch of [[maintainCascadeStores]] — the replay-
    * contract seam ([[applyLabelBatch]]'s twin): re-applying the same
    * (batch, batchId) overwrites every sub-store delta with identical
    * content, because the disjoint deltas are pure functions of the
    * batch, the band probe sees the same bucket contents (its own
    * rows, overwritten first), and the label read excludes the
    * batch's own prior delta.
    */
  private[graft] def applyCascadeBatch(batch: DataFrame, root: String,
      batchId: Long,
      maxBucket: Int = graft.operators.Dedup.MaxBandBucket,
      threshold: Double = graft.operators.Dedup.ClusterThreshold): Unit = {
    val spark = batch.sparkSession
    val batchTombIds = DeltaTree.ledgerIds(spark, DeltaTree.ledgerOf(root), "doc_id")
    // the takedown ledger gates the INGEST boundary too: a taken-down
    // id never re-enters — neither through a replayed batch that
    // predates its takedown (whose raw rows would otherwise re-land
    // and re-merge the repaired components) nor through a fresh
    // re-upload (an erased doc stays erased; re-admission needs a new
    // id). One batch-scaled set-membership filter.
    val b = batch.select(col("doc_id"), col("text"))
      .filter(notTombstoned(col("doc_id"), batchTombIds))
    // both frames feed multiple writes — materialize the md5 /
    // normalize / minhash projections exactly once (batch-scaled)
    val fps = graft.operators.Dedup.fingerprintsOf(b)
      .select(col("doc_id"), col("fp"), col("nfp"))
      .localCheckpoint()
    val bands = graft.operators.Dedup.bandSigRows(
      graft.operators.Dedup.signaturesOf(b)).localCheckpoint()
    fps.write.mode("overwrite").parquet(s"$root/docs/b$batchId")
    fps.groupBy(col("fp")).agg(min(col("doc_id")).as("keeper"))
      .write.mode("overwrite").parquet(s"$root/fp/b$batchId")
    fps.groupBy(col("nfp")).agg(min(col("doc_id")).as("keeper"))
      .write.mode("overwrite").parquet(s"$root/nfp/b$batchId")
    bands.write.mode("overwrite").parquet(s"$root/bands/b$batchId")
    // tombstone-aware probe: a new ingest never pairs against a
    // taken-down doc's band rows (and the cap sees surviving sizes)
    val storeBands = DeltaTree.read(spark, s"$root/bands")
      .filter(notTombstoned(col("doc_id"), batchTombIds))
    val edges = graft.operators.Dedup.lshProbeEdges(storeBands, bands,
      threshold = threshold, maxBucket = maxBucket)
    writeLabelDelta(edges, s"$root/labels", batchId)
  }

  /** Initialise the embedding-cluster store tree: `vecs/` (bucketed
    * vector rows, disjoint appends) + `labels/` (the upsert label
    * store, seeded empty — a nightly bootstrap is history ingested as
    * the first batch).
    */
  def embeddingClusterStoreInit(spark: org.apache.spark.sql.SparkSession,
      root: String): Unit = {
    import spark.implicits._
    labelStoreInit(Seq.empty[(Long, Long)].toDF("doc_id", "cluster_id"),
      s"$root/labels", files = 1)
  }

  /** STREAMING embedding-cluster maintenance — the cosine-LSH twin of
    * the cascade's label path: each micro-batch of
    * `(vec_id, embedding)` rows is bucketed once
    * ([[graft.operators.Similarity.embWithBucketOf]] — the same
    * toDouble/norm/signBucket conventions as the batch derivation),
    * appended to the vector store, probed for the batch's near-dup
    * edges ([[graft.operators.Dedup.embProbeEdges]] — map-side store
    * scan, batch buckets broadcast), and folded into the label store
    * via [[graft.operators.Dedup.clustersIncrementalDelta]] with the
    * replayed-batch exclusion. The generic label-store machinery
    * (read fold, compaction, replay discipline) is shared unchanged —
    * only the edge probe is modality-specific.
    */
  def maintainEmbeddingClusterStores(vectors: DataFrame, root: String,
      threshold: Double = graft.operators.Dedup.EmbeddingCosineThreshold)
      : DataStreamWriter[org.apache.spark.sql.Row] =
    vectors.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyEmbeddingBatch(batch, root, batchId, threshold)
      }

  /** One micro-batch of [[maintainEmbeddingClusterStores]] — the
    * replay-contract seam ([[applyLabelBatch]]'s embedding twin).
    */
  private[graft] def applyEmbeddingBatch(batch: DataFrame, root: String,
      batchId: Long,
      threshold: Double = graft.operators.Dedup.EmbeddingCosineThreshold): Unit = {
    val spark = batch.sparkSession
    val batchTombIds = DeltaTree.ledgerIds(spark, DeltaTree.ledgerOf(root), "vec_id")
    // the ledger gates the ingest boundary (see applyCascadeBatch): a
    // taken-down id never re-enters, via replay or re-upload
    val vecs = graft.operators.Similarity.embWithBucketOf(
        batch.select(col("vec_id"), col("embedding"))
          .filter(notTombstoned(col("vec_id"), batchTombIds)),
        graft.operators.Dedup.EmbeddingLshBits)
      .localCheckpoint()
    vecs.write.mode("overwrite").parquet(s"$root/vecs/b$batchId")
    // tombstone-aware probe: a new ingest never pairs against a
    // taken-down vector's rows
    val store = DeltaTree.read(spark, s"$root/vecs")
      .filter(notTombstoned(col("vec_id"), batchTombIds))
    val edges = graft.operators.Dedup.embProbeEdges(store, vecs, threshold)
    writeLabelDelta(edges, s"$root/labels", batchId)
  }

  /** Compact the embedding-cluster stores: vector rows rewritten
    * range-clustered on `bucket` (the probe key), labels via
    * [[compactLabelStore]]. Returns true iff any sub-store compacted.
    */
  def compactEmbeddingClusterStores(spark: org.apache.spark.sql.SparkSession,
      root: String, maxDeltas: Int = 8, files: Int = 4): Boolean = {
    // takedown face: compaction physically erases tombstoned vector
    // rows (same fence caveat as the cascade trees — the newest delta
    // stays raw until unfenced)
    val tombIds = DeltaTree.ledgerIds(spark, DeltaTree.ledgerOf(root), "vec_id")
    val vecs = DeltaTree.compact(s"$root/vecs", maxDeltas) { (tmp, parts) =>
      DeltaTree.read(spark, parts: _*)
        .filter(notTombstoned(col("vec_id"), tombIds))
        .repartitionByRange(files, col("bucket"))
        .sortWithinPartitions(col("bucket"))
        .write.mode("overwrite").parquet(tmp)
    }
    val labels = compactLabelStore(spark, s"$root/labels", maxDeltas, files)
    vecs || labels
  }

  /** TAKE DOWN vectors from a maintained embedding-cluster store tree —
    * [[takedownCascadeDocs]]' embedding twin, with two structural
    * simplifications: there are no keeper sub-stores to correct, and
    * the sign-bucket probe has no saturation cap, so there is no
    * cap-uncross face. What remains is the shared core: the ledger
    * generation (monotonic `tombId`, equal = exact replay), immediate
    * tombstone-aware reads (the ingest probe and the vecs compaction
    * fold filter), and the COMPONENT REPAIR — affected components
    * re-clustered from the surviving vector rows and swapped in
    * ([[repairLabelTree]]). Single-maintainer contract: run with the
    * ingest stream stopped.
    */
  def takedownEmbeddingVecs(spark: org.apache.spark.sql.SparkSession,
      root: String, vecIds: Seq[Long], tombId: Long,
      threshold: Double = graft.operators.Dedup.EmbeddingCosineThreshold,
      maxHops: Int = graft.operators.Dedup.ClusterMaxHops,
      files: Int = 4): Unit = {
    import spark.implicits._
    require(vecIds.nonEmpty, "a takedown names at least one vec_id")
    DeltaTree.appendLedger(tombId, DeltaTree.ledgerOf(root))(vecIds.toDF("vec_id"))
    val tombs = DeltaTree.ledgerIds(spark, DeltaTree.ledgerOf(root), "vec_id")
    repairLabelTree(spark, s"$root/labels", vecIds, tombs, maxHops, files) { survivors =>
      val vecsF = DeltaTree.read(spark, s"$root/vecs")
        .filter(notTombstoned(col("vec_id"), tombs))
      val survivorRows = vecsF.join(
        broadcast(survivors.withColumnRenamed("doc_id", "vec_id")),
        Seq("vec_id"))
      graft.operators.Dedup.embProbeEdges(vecsF, survivorRows, threshold)
    }
  }

  /** STORE-SIDE takedown audit for an embedding-cluster tree —
    * [[erasureAuditCascade]]'s twin: raw rows under `vecs/` still
    * carrying a taken-down id, label rows naming it (as member or as
    * cluster name), and the permanent ledger row
    * ([[DeltaTree.erasureAudit]]).
    */
  def erasureAuditEmbedding(spark: org.apache.spark.sql.SparkSession,
      root: String, vecIds: Seq[Long]): DataFrame =
    DeltaTree.erasureAudit(spark,
      ("vecs", s"$root/vecs", among(col("vec_id"), vecIds)),
      ("labels", s"$root/labels",
        among(col("doc_id"), vecIds) || among(col("cluster_id"), vecIds)),
      ("tombstone_record", DeltaTree.ledgerOf(root),
        among(col("vec_id"), vecIds)))

  private def readKeeperStore(spark: org.apache.spark.sql.SparkSession,
      dir: String, keyCol: String): DataFrame =
    DeltaTree.read(spark, dir)
      .groupBy(col(keyCol)).agg(min(col("keeper")).as("keeper"))

  // ------------------------------------------------------------------
  // document takedown face (the corpus-side delete face: opt-outs and
  // legal removals against the cascade serving stores — the symmetric
  // hole the r15 catalog tombstones left open)
  // ------------------------------------------------------------------

  /** The COMPONENT-REPAIR core both takedown faces share: a removal
    * can split a near-dup component (the removed row was the only
    * bridge) and can take a cluster's NAME with it (labels are min
    * member ids) — neither reconstructible by a read-side filter. So:
    * re-cluster ONLY the components a removed id touches (affected =
    * their cluster ids, a removal-sized set), over survivor-probed
    * edges (`probeEdges`, the modality-specific seed-probe — LSH bands
    * for text, sign-buckets for embeddings), and swap the repaired
    * tree in via [[DeltaTree.rebuild]]. Graph work scales with the
    * affected components, never the corpus — the delete twin of
    * [[graft.operators.Dedup.clustersIncrementalDelta]]'s merge face.
    */
  private def repairLabelTree(spark: org.apache.spark.sql.SparkSession,
      labelsDir: String, removedIds: Seq[Long], tombIds: Seq[Long],
      maxHops: Int, files: Int)(
      probeEdges: DataFrame => DataFrame): Unit = {
    val labelsFold = readLabelStoreRaw(spark, labelsDir).localCheckpoint()
    val affected = labelsFold.filter(col("doc_id").isInCollection(removedIds))
      .select(col("cluster_id")).distinct().collect().map(_.getLong(0)).toSeq
    if (affected.isEmpty) return
    val members = labelsFold.filter(col("cluster_id").isInCollection(affected))
    val survivors = members.filter(notTombstoned(col("doc_id"), tombIds))
      .select(col("doc_id")).localCheckpoint()
    val edges = probeEdges(survivors)
      .join(survivors.withColumnRenamed("doc_id", "src"), Seq("src"),
        "left_semi")
      .join(survivors.withColumnRenamed("doc_id", "dst"), Seq("dst"),
        "left_semi")
    val newLabels = graft.operators.Dedup.clustersOver(
      survivors, edges, maxHops)
    val repaired = labelsFold
      .filter(!col("cluster_id").isInCollection(affected))
      .select(col("doc_id"), col("cluster_id"))
      .unionByName(newLabels.select(col("doc_id"), col("cluster_id")))
    replaceLabelTree(labelsDir, repaired, files)
  }

  /** Swap `labels` in as the whole label tree at `labelsDir` — one
    * gen-0 base through [[DeltaTree.rebuild]]'s staged swap; no delta
    * is kept, the labels already absorb every one.
    */
  private def replaceLabelTree(labelsDir: String, labels: DataFrame,
      files: Int): Unit =
    DeltaTree.rebuild(labelsDir, fenced = false)(
      (tmp, _) => writeLabelBase(labels, tmp, files))

  /** TAKE DOWN documents from a maintained cascade store tree — the
    * corpus-side delete face: a production training-data pipeline
    * receives opt-outs and legal removals, and a taken-down doc must
    * leave every serving surface — its own verdict rows, every keeper
    * election it won, every LSH bucket it occupies, and the component
    * structure it held together. Single-maintainer contract like
    * [[rebuildCascadeStores]]: run with the ingest stream STOPPED (the
    * nightly window).
    *
    * What lands where:
    *  1. the doc ids + their content keys (captured from `docs/`
    *     BEFORE any physical erasure can drop them) land as a
    *     `(doc_id, fp, nfp)` ledger generation
    *     ([[DeltaTree.appendLedger]]) — `tombId`s are monotonic (equal
    *     to the newest = exact replay, which overwrites the same
    *     directory idempotently). The content keys ride along because
    *     the keeper-election correction needs the AFFECTED fp/nfp keys
    *     for the store's whole life — after compaction physically
    *     erases the doc's rows, they are no longer derivable from
    *     `docs/`. So an md5 fingerprint of deleted content persists in
    *     the permanent ledger (surfaced by [[erasureAuditCascade]]'s
    *     `tombstone_record` row), as the ER catalog's tombstone
    *     generation retains the deleted `ent_id` until compaction;
    *  2. every read becomes tombstone-aware (docs/bands scans filter,
    *     keeper folds re-elect — see [[readCascadeVerdicts]]), so the
    *     doc vanishes from serving and from future batch probes
    *     IMMEDIATELY, with physical erasure following at the next
    *     [[compactCascadeStores]];
    *  3. the label sub-store is REPAIRED in place: a takedown can
    *     split a component (the removed doc was the only bridge
    *     between two survivors) and can take a cluster's NAME with it
    *     (labels are min member ids), neither of which any read-side
    *     filter can reconstruct — so the affected components (only
    *     those containing a taken-down doc) are re-clustered from the
    *     surviving band rows under batch semantics (caps evaluated on
    *     SURVIVING bucket sizes) and the label tree is swapped via
    *     [[DeltaTree.rebuild]]'s staged no-data-loss swap. Graph work
    *     scales with the affected components, never the corpus — the
    *     delete twin of [[graft.operators.Dedup.clustersIncrementalDelta]]'s
    *     merge face.
    *
    * Returns the CAP-UNCROSS report: buckets the takedown shrank from
    * saturated (> maxBucket, dropped wholesale by batch semantics)
    * back to within-cap. Such a bucket's pairs become batch-semantics
    * edges RETROACTIVELY — inside the affected components the repair
    * absorbs them, but a bucket whose surviving members touch no
    * affected component may now under-merge vs a batch recompute, the
    * same divergence class as [[saturatedBandBuckets]]; a non-empty
    * report is WARNED loudly and names [[rebuildCascadeStores]] as the
    * restoring pass.
    *
    * Replay/crash story: re-running the same (docIds, tombId) is
    * idempotent — the tombstone overwrite is identical, and the label
    * repair re-derives the same survivor components from the same
    * filtered stores (a crash between the tombstone write and the
    * label swap leaves tombstone-filtered serving correct for the
    * deleted docs themselves; the re-run completes the component
    * repair). A stopped stream restarting afterward may replay its
    * last batch: its sub-store deltas are pure functions of the batch
    * (overwritten identically), and its label delta re-contracts edges
    * the repaired store already absorbed — small and idempotent
    * (ingested docs are never tombstoned retroactively by the replay:
    * the probe filters tombstoned STORE rows, and the batch's own docs
    * are new).
    */
  def takedownCascadeDocs(spark: org.apache.spark.sql.SparkSession,
      root: String, docIds: Seq[Long], tombId: Long,
      threshold: Double = graft.operators.Dedup.ClusterThreshold,
      maxBucket: Int = graft.operators.Dedup.MaxBandBucket,
      maxHops: Int = graft.operators.Dedup.ClusterMaxHops,
      files: Int = 4): DataFrame = {
    import spark.implicits._
    require(docIds.nonEmpty, "a takedown names at least one doc_id")
    DeltaTree.appendLedger(tombId, DeltaTree.ledgerOf(root)) {
      // 1. capture the content keys while docs/ still holds them — a
      // broadcast-semi MAP-SIDE scan of the corpus-sized store (a left
      // join with the store on the right could not broadcast and would
      // shuffle the corpus per takedown); ids the store never saw get
      // keyless ledger rows via the anti-join over the captured few
      val ids = docIds.toDF("doc_id")
      val captured = DeltaTree.read(spark, s"$root/docs")
        .select(col("doc_id"), col("fp"), col("nfp"))
        .join(broadcast(ids), Seq("doc_id"), "left_semi")
        // a doc can sit twice in the tree (replay-fenced delta + folded
        // base hold identical rows) — the ledger keeps one
        .dropDuplicates("doc_id")
        .localCheckpoint()
      val missing = ids
        .join(captured.select(col("doc_id")), Seq("doc_id"), "left_anti")
        .withColumn("fp", lit(null).cast("string"))
        .withColumn("nfp", lit(null).cast("string"))
      captured.unionByName(missing)
    }
    // cumulative, incl. this gen
    val tombs = DeltaTree.ledgerIds(spark, DeltaTree.ledgerOf(root), "doc_id")
    // 3. label repair: re-cluster ONLY the components a tombstoned doc
    // touches, over the surviving band rows under batch cap semantics
    // — the survivors' own band rows probe the filtered store, the
    // same map-side seed-probe shape as the streamed ingest, with the
    // affected components as the "batch"
    repairLabelTree(spark, s"$root/labels", docIds, tombs, maxHops, files) { survivors =>
      val bandsF = DeltaTree.read(spark, s"$root/bands")
        .filter(notTombstoned(col("doc_id"), tombs))
      val survivorRows = bandsF.join(broadcast(survivors), Seq("doc_id"))
      graft.operators.Dedup.lshProbeEdges(
        bandsF, survivorRows, threshold, maxBucket)
    }
    // cap-uncross report (see scaladoc) — sized on the tombstoned
    // docs' own buckets, the only ones a takedown can shrink
    val bandsAll = DeltaTree.read(spark, s"$root/bands")
    val dKeys = bandsAll.filter(col("doc_id").isInCollection(docIds))
      .select(col("band"), col("band_key")).distinct()
    val uncrossed = bandsAll.join(broadcast(dKeys), Seq("band", "band_key"))
      .groupBy(col("band"), col("band_key"))
      .agg(count(lit(1)).as("n_all"),
        count(when(notTombstoned(col("doc_id"), tombs), lit(1)))
          .as("n_surviving"))
      .filter(col("n_all") > maxBucket && col("n_surviving") <= maxBucket)
      .localCheckpoint()
    if (uncrossed.count() > 0) System.err.println(
      s"[cascade] WARNING: ${uncrossed.count()} band bucket(s) shrank from " +
        s"saturated (> $maxBucket, dropped wholesale by batch semantics) " +
        "back to within-cap under this takedown — their pairs are now " +
        "batch-semantics edges the streamed labels never saw; components " +
        "touching a taken-down doc were repaired here, but an uncrossed " +
        "bucket whose surviving members touch no affected component may " +
        "under-merge vs a batch recompute. Run " +
        "EventStreams.rebuildCascadeStores(root) in the nightly window to " +
        "restore streamed ≡ batch")
    uncrossed
  }

  /** Keeper election over a maintained keeper sub-store, corrected for
    * takedowns: folded batch minima are the global election only while
    * every candidate is live — a tombstoned doc that won an election
    * sits in folded rows that a `min` fold can never revoke. The
    * correction drops the AFFECTED keys (the tombstones' own fp/nfp
    * keys — every stale keeper row is under one, since a doc's keeper
    * row carries the doc's own key) and re-elects exactly those keys
    * from the live `docs/` tree minus tombstones. Always applied at
    * read (idempotent, and immune to stale rows in the replay-fenced
    * newest delta); [[compactCascadeStores]] makes the same correction
    * physical for everything it folds. Costs one key-filtered map-side
    * scan of the docs tree, sized by cumulative takedowns.
    */
  private def correctedKeeperStore(spark: org.apache.spark.sql.SparkSession,
      root: String, sub: String, keyCol: String): DataFrame = {
    val fold = readKeeperStore(spark, s"$root/$sub", keyCol)
    val affKeys = affectedKeeperKeys(spark, root, keyCol)
    if (affKeys.isEmpty) fold
    else fold.filter(!col(keyCol).isInCollection(affKeys))
      .unionByName(reelectKeepers(spark, root, keyCol, affKeys))
  }

  private def affectedKeeperKeys(spark: org.apache.spark.sql.SparkSession,
      root: String, keyCol: String): Seq[String] =
    DeltaTree.ledger(spark, DeltaTree.ledgerOf(root)).fold(Seq.empty[String])(
      _.select(col(keyCol)).filter(col(keyCol).isNotNull)
        .distinct().collect().map(_.getString(0)).toSeq)

  private def reelectKeepers(spark: org.apache.spark.sql.SparkSession,
      root: String, keyCol: String, affKeys: Seq[String]): DataFrame =
    DeltaTree.read(spark, s"$root/docs")
      .filter(col(keyCol).isInCollection(affKeys) && notTombstoned(col("doc_id"),
        DeltaTree.ledgerIds(spark, DeltaTree.ledgerOf(root), "doc_id")))
      .groupBy(col(keyCol)).agg(min(col("doc_id")).as("keeper"))

  /** STORE-SIDE takedown audit — [[erasureAuditStores]]' corpus twin:
    * given taken-down doc ids, count the RAW parquet rows under each
    * cascade sub-store that still reference them — `docs`/`bands` by
    * `doc_id`, the keeper stores by the elections the docs still hold
    * (`keeper`), `labels` by doc OR cluster name (a component's label
    * IS its min member id, so a deleted doc can survive as other
    * docs' cluster_id — the repair face [[takedownCascadeDocs]]
    * closes). The `tombstone_record` row surfaces the deletion
    * ledger's own rows (doc ids + content-key md5s, retained
    * permanently for keeper correction — see [[takedownCascadeDocs]]):
    * the sign-off for the CONTENT stores is the other five rows at
    * zero, reached after a takedown + post-takedown ingest (unfencing
    * the pre-takedown deltas) + [[compactCascadeStores]] cycle
    * ([[DeltaTree.erasureAudit]]: one scan per sub-store).
    */
  def erasureAuditCascade(spark: org.apache.spark.sql.SparkSession,
      root: String, docIds: Seq[Long]): DataFrame = {
    def ids(c: String) = among(col(c), docIds)
    DeltaTree.erasureAudit(spark,
      ("docs", s"$root/docs", ids("doc_id")),
      ("bands", s"$root/bands", ids("doc_id")),
      ("fp_keepers", s"$root/fp", ids("keeper")),
      ("nfp_keepers", s"$root/nfp", ids("keeper")),
      ("labels", s"$root/labels", ids("doc_id") || ids("cluster_id")),
      ("tombstone_record", DeltaTree.ledgerOf(root), ids("doc_id")))
  }

  /** Serve the cascade attribution table off the maintained stores —
    * row-identical to a batch [[graft.operators.Dedup.cascade]]-style
    * recompute over everything ingested (CascadeServingSpec pins it
    * after every batch): fold the keeper stores (min), fold the label
    * store (latest-wins), and run the shared
    * [[graft.operators.Dedup.cascadeOver]] core over the doc store.
    * No text is re-read and no election loop re-runs — the
    * merge-on-read folds are the whole serving cost, bounded by
    * [[compactCascadeStores]].
    */
  def readCascadeVerdicts(spark: org.apache.spark.sql.SparkSession,
      root: String): DataFrame = {
    // tombstone-aware serving (the takedown face): taken-down docs out
    // of the corpus scan, keeper elections corrected for revoked
    // winners, labels defensively filtered (the repair swap already
    // dropped them physically; the filter covers a crash between a
    // takedown's ledger write and its label swap)
    val tombIds = DeltaTree.ledgerIds(spark, DeltaTree.ledgerOf(root), "doc_id")
    val corpus = DeltaTree.read(spark, s"$root/docs")
      .filter(notTombstoned(col("doc_id"), tombIds))
    val ex = correctedKeeperStore(spark, root, "fp", "fp")
      .withColumnRenamed("keeper", "ek")
    val nx = correctedKeeperStore(spark, root, "nfp", "nfp")
      .withColumnRenamed("keeper", "nk")
    val labels = readLabelStore(spark, s"$root/labels")
      .filter(notTombstoned(col("doc_id"), tombIds))
    graft.operators.Dedup.cascadeOver(corpus, ex, nx, labels)
  }

  /** Band buckets in the maintained cascade store that have grown PAST
    * [[graft.operators.Dedup.MaxBandBucket]] — the runtime detector
    * for the one seam where union-over-batches can diverge from the
    * batch derivation (r14 ADVICE): [[graft.operators.Dedup.lshProbeEdges]]
    * evaluates the saturation guard on the bucket size AS OF each
    * ingest, so a bucket that crosses the cap mid-stream KEEPS the
    * edges its earlier, under-cap ingests emitted, while a batch
    * recompute drops the whole bucket. Nothing repairs that
    * incrementally (the emitted edges may have merged components);
    * the fix is a nightly from-scratch label recompute, and this
    * report — one counting aggregate over the band store, grouped on
    * the probe key — is what tells the operator one is needed.
    * Returns `(band, band_key, bn)` rows, empty when streamed ≡ batch
    * still holds.
    */
  def saturatedBandBuckets(spark: org.apache.spark.sql.SparkSession,
      root: String,
      maxBucket: Int = graft.operators.Dedup.MaxBandBucket): DataFrame =
    DeltaTree.read(spark, s"$root/bands")
      // tombstone-aware: the divergence contract compares against a
      // batch recompute over SURVIVING docs, whose caps see surviving
      // bucket sizes
      .filter(notTombstoned(col("doc_id"),
        DeltaTree.ledgerIds(spark, DeltaTree.ledgerOf(root), "doc_id")))
      .groupBy(col("band"), col("band_key"))
      .agg(count(lit(1)).as("bn"))
      .filter(col("bn") > maxBucket)

  /** The NIGHTLY RECOMPUTE the saturation warning asks for (r14
    * verdict #5): re-derive the near-dup label store FROM the
    * persisted doc + band stores under BATCH semantics — a bucket that
    * crossed [[graft.operators.Dedup.MaxBandBucket]] mid-stream is
    * dropped WHOLESALE ([[graft.operators.Dedup.lshEdgesOverBands]]),
    * exactly what the streamed probe could not do retroactively (the
    * under-cap edges its earlier ingests emitted may have merged
    * components; nothing repairs that incrementally). The other four
    * sub-stores never diverge (disjoint appends; `min` keeper folds
    * compose), so only `labels/` is rebuilt, through
    * [[DeltaTree.rebuild]]'s staged swap: an interruption before the
    * swap leaves the old labels servable, and one mid-swap is finished
    * or undone by the next swap of the tree.
    *
    * Single-maintainer contract like every store verb here: run
    * between batches (the nightly window, stream stopped or idle). A
    * stream replaying its last batch against the rebuilt store
    * recomputes a delta over edges the rebuild already absorbed —
    * small and idempotent.
    */
  def rebuildCascadeStores(spark: org.apache.spark.sql.SparkSession,
      root: String, maxHops: Int = graft.operators.Dedup.ClusterMaxHops,
      files: Int = 4,
      maxBucket: Int = graft.operators.Dedup.MaxBandBucket): Unit = {
    // tombstone-aware like every cascade read: taken-down docs are out
    // of the rebuilt node set and out of every bucket (so the caps the
    // batch semantics evaluate are the SURVIVING bucket sizes)
    val tombIds = DeltaTree.ledgerIds(spark, DeltaTree.ledgerOf(root), "doc_id")
    val bands = DeltaTree.read(spark, s"$root/bands")
      .filter(notTombstoned(col("doc_id"), tombIds))
    val edges = graft.operators.Dedup.lshEdgesOverBands(bands,
      maxBucket = maxBucket)
    val nodes = DeltaTree.read(spark, s"$root/docs")
      .select(col("doc_id"))
      .filter(notTombstoned(col("doc_id"), tombIds))
    val labels = graft.operators.Dedup.clustersOver(nodes, edges, maxHops)
    replaceLabelTree(s"$root/labels", labels, files)
  }

  /** Compact every cascade sub-store that is due: pure rewrites for
    * the disjoint-append stores (docs on `doc_id`, bands on
    * `band_key` — the probe's pruning key), `min` folds for the
    * keeper stores, and [[compactLabelStore]] for the labels. Returns
    * true iff any sub-store compacted.
    *
    * When the band store compacts, the pass also runs
    * [[saturatedBandBuckets]] and WARNS loudly if any bucket crossed
    * [[graft.operators.Dedup.MaxBandBucket]] mid-stream — the served
    * labels then need a nightly recompute (see the detector's doc).
    */
  def compactCascadeStores(spark: org.apache.spark.sql.SparkSession,
      root: String, maxDeltas: Int = 8, files: Int = 4): Boolean = {
    // takedown face: compaction is where tombstoned rows are
    // PHYSICALLY erased — doc-keyed rows drop from the folds, and the
    // keeper folds bake in the read-side correction (drop the affected
    // keys, re-elect them from the surviving docs tree) so the
    // compacted base never carries a revoked election. Rows in the
    // replay-fenced newest delta of each sub-store stay raw until a
    // newer batch unfences them — the same honest fence caveat as the
    // ER stores; [[erasureAuditCascade]] reads the truth either way.
    val tombIds = DeltaTree.ledgerIds(spark, DeltaTree.ledgerOf(root), "doc_id")
    def rewrite(sub: String, rangeCol: String): Boolean =
      DeltaTree.compact(s"$root/$sub", maxDeltas) { (tmp, parts) =>
        DeltaTree.read(spark, parts: _*)
          .filter(notTombstoned(col("doc_id"), tombIds))
          .repartitionByRange(files, col(rangeCol))
          .sortWithinPartitions(col(rangeCol))
          .write.mode("overwrite").parquet(tmp)
      }
    def foldKeepers(sub: String, keyCol: String): Boolean =
      DeltaTree.compact(s"$root/$sub", maxDeltas) { (tmp, parts) =>
        val folded = DeltaTree.read(spark, parts: _*)
          .groupBy(col(keyCol)).agg(min(col("keeper")).as("keeper"))
        val affKeys = affectedKeeperKeys(spark, root, keyCol)
        val corrected =
          if (affKeys.isEmpty) folded
          else folded.filter(!col(keyCol).isInCollection(affKeys))
            .unionByName(reelectKeepers(spark, root, keyCol, affKeys))
        corrected
          .repartitionByRange(files, col(keyCol))
          .sortWithinPartitions(col(keyCol))
          .write.mode("overwrite").parquet(tmp)
      }
    val bandsRan = rewrite("bands", "band_key")
    if (bandsRan) {
      val sat = saturatedBandBuckets(spark, root).count()
      if (sat > 0) System.err.println(
        s"[cascade] WARNING: $sat band bucket(s) exceeded MaxBandBucket=" +
          s"${graft.operators.Dedup.MaxBandBucket} AFTER earlier ingests " +
          "emitted their edges — the streamed near-dup labels diverge from " +
          "a batch recompute (which drops saturated buckets wholesale); " +
          "run EventStreams.rebuildCascadeStores(root) in the nightly " +
          "window to restore streamed ≡ batch")
    }
    val ran = Seq(
      rewrite("docs", "doc_id"),
      foldKeepers("fp", "fp"),
      foldKeepers("nfp", "nfp"),
      bandsRan,
      compactLabelStore(spark, s"$root/labels", maxDeltas, files))
    ran.contains(true)
  }

  /** The RocksDB state store provider — the scale choice for stateful
    * streams: the default HDFS-backed store keeps every key in
    * executor heap (state size is bounded by memory), while RocksDB
    * spills to local disk with changelog checkpointing, which is what
    * a 100 TB/day dedup or session-window state actually needs.
    * Ships in Spark's own jars (rocksdbjni), so turning it on is ONE
    * config — this constant plus [[withStateStoreProvider]] are the
    * seam, and StreamingSpec runs the dedup + session-window contracts
    * under it to pin batch ≡ stream on the scale store too.
    */
  val RocksDbStateStoreProvider: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  private val StateStoreProviderKey =
    "spark.sql.streaming.stateStore.providerClass"

  /** Run `f` with the given state store provider set, restoring the
    * prior session value after — the provider is read at QUERY START,
    * so queries started inside `f` get it and queries outside don't.
    */
  def withStateStoreProvider[A](spark: org.apache.spark.sql.SparkSession,
      providerClass: String = RocksDbStateStoreProvider)(f: => A): A = {
    val prior = spark.conf.getOption(StateStoreProviderKey)
    spark.conf.set(StateStoreProviderKey, providerClass)
    try f finally prior match {
      case Some(p) => spark.conf.set(StateStoreProviderKey, p)
      case None => spark.conf.unset(StateStoreProviderKey)
    }
  }

  /** Streaming QUALITY GATE — `TextAnalysis.filterDocs`' full verdict
    * (too_short / repetitive / boilerplate / keep, same constants,
    * same precedence) restated as a PURE PROJECTION so it runs on a
    * streaming frame with no state and no watermark: the per-doc
    * top-bigram count, an explode + two aggregations in the batch
    * form, becomes an `array_sort` + run-length fold over the in-row
    * bigram array (r4 measured that fold ~2× slower than explode+agg
    * — the batch path keeps its aggregate; the stream pays the fold to
    * stay stateless, the right trade at ingest time). 1-word docs get
    * a NULL bigram_ratio exactly like the batch LEFT-join miss — the
    * CASE guards keep ANSI division-by-zero out of both the empty
    * bigram array and the n_words=1 edge. Verdict parity with the
    * batch operator is spec-pinned row-for-row (StreamingSpec).
    */
  def qualityGate(docs: DataFrame): DataFrame = {
    import graft.operators.TextAnalysis.{MinWords, MaxDupRatio, MaxTopBigramRatio}
    docs
      .withColumn("__t", split(col("text"), " "))
      .withColumn("n_words", size(col("__t")).cast("long"))
      .withColumn("__topc", expr(
        """CASE WHEN size(__t) >= 2 THEN aggregate(
          |  array_sort(transform(sequence(1, size(__t) - 1),
          |    i -> concat(__t[i-1], ' ', __t[i]))),
          |  named_struct('prev', CAST(NULL AS STRING),
          |               'run', CAST(0 AS BIGINT), 'best', CAST(0 AS BIGINT)),
          |  (s, x) -> named_struct(
          |    'prev', x,
          |    'run', CASE WHEN s.prev IS NOT NULL AND x = s.prev
          |                THEN s.run + 1 ELSE CAST(1 AS BIGINT) END,
          |    'best', greatest(s.best,
          |      CASE WHEN s.prev IS NOT NULL AND x = s.prev
          |           THEN s.run + 1 ELSE CAST(1 AS BIGINT) END)),
          |  s -> s.best)
          |ELSE CAST(NULL AS BIGINT) END""".stripMargin))
      .withColumn("dup_ratio",
        (col("n_words") - size(array_distinct(col("__t")))) * lit(1.0) / col("n_words"))
      .withColumn("bigram_ratio", expr(
        "CASE WHEN n_words >= 2 THEN __topc * 1.0 / (n_words - 1) " +
          "ELSE CAST(NULL AS DOUBLE) END"))
      .withColumn("verdict",
        when(col("n_words") < MinWords, "too_short")
          .when(col("dup_ratio") >= MaxDupRatio, "repetitive")
          .when(col("bigram_ratio") >= MaxTopBigramRatio, "boilerplate")
          .otherwise("keep"))
      .withColumn("keep", col("verdict") === "keep")
      .drop("__t", "__topc")
  }

  /** Streaming TEMPERATURE gate — the streaming twin of
    * `Corpus.temperature`'s application step (the r8 verdict's missing
    * piece: the batch operator computes per-source keep rates, but a
    * live ingest needs the gate on the stream). The `rates` frame is
    * the small per-source `(source, rate_ppm)` table the batch job
    * computed over yesterday's corpus — broadcast-joined onto the
    * stream (stream–static joins are exactly Structured Streaming's
    * supported shape for this), then the SAME deterministic
    * content-hash threshold as the batch form: keep iff
    * `hb · 10⁶ < rate_ppm · 2¹⁶` on the 16-bit md5 bucket. Stateless,
    * no watermark, rerun-stable — a replayed doc gets the same
    * verdict, so at-least-once upstream delivery cannot double-admit.
    * An unknown source (absent from the rate table) is DROPPED — the
    * conservative posture for a token-budgeted mix.
    */
  def temperatureGate(docs: DataFrame, rates: DataFrame): DataFrame =
    docs
      .withColumn("hb", expr("CAST(conv(substr(md5(text), 1, 4), 16, 10) AS BIGINT)"))
      .join(broadcast(rates.select(col("source"), col("rate_ppm"))), Seq("source"))
      .filter(col("hb") * lit(1000000L) < col("rate_ppm") * lit(65536L))
      .drop("hb")

  /** Shared TV-DRIFT rollup — the monitoring step both the batch
    * backfill (`WindowedEvents.driftHourly`) and the streaming sink's
    * foreachBatch body run over closed windows, so live and backfilled
    * drift rows agree by construction (the `rankClosedWindows`
    * pattern). `cells` is the windowed bucket-count relation
    * `(window_start, event_type, bucket, n)`; `baseline` the reference
    * distribution `(event_type, bucket, base_ppm)` a batch job
    * computed over the trusted corpus (small: types × buckets —
    * broadcast). Per (window, type) the total-variation distance in
    * ppm accounts mass on BOTH sides: observed buckets contribute
    * `|p_h − p_base|`, baseline buckets the window never saw
    * contribute their full base mass (`base_total − seen_base`), and
    * the sum halves — all truncating-integer arithmetic, so the
    * DuckDB oracle matches exactly.
    */
  def tvAgainstBaseline(cells: DataFrame, baseline: DataFrame): DataFrame = {
    val sTot = baseline.groupBy(col("event_type"))
      .agg(sum(col("base_ppm")).as("base_total_ppm"))
    // the per-(window, type) totals come from the SAME cells frame the
    // join probes — rename the keys so the self-join resolves without
    // ambiguity (Seq-based using-joins hit conflicting-reference
    // resolution here when cells is a sink-backed view)
    val t = cells
      .select(col("window_start").as("__ws"), col("event_type").as("__et"), col("n"))
      .groupBy(col("__ws"), col("__et")).agg(sum(col("n")).as("t_h"))
    cells
      .join(broadcast(baseline), Seq("event_type", "bucket"), "left")
      .withColumn("base_ppm", coalesce(col("base_ppm"), lit(0L)))
      .join(t, col("window_start") === col("__ws") && col("event_type") === col("__et"))
      .drop("__ws", "__et")
      .withColumn("p_h", expr("(n * 1000000) div t_h"))
      .groupBy(col("window_start"), col("event_type"))
      .agg(sum(col("n")).as("n_events"),
        sum(expr("abs(p_h - base_ppm)")).as("__sum_abs"),
        sum(col("base_ppm")).as("__seen_base"))
      .join(broadcast(sTot), Seq("event_type"))
      .select(col("window_start"), col("event_type"), col("n_events"),
        expr("(__sum_abs + (base_total_ppm - __seen_base)) div 2").as("tv_ppm"))
      .orderBy(col("window_start"), col("event_type"))
  }

  /** The streaming half of the drift monitor: watermarked tumbling
    * windows × (event_type, floor(value) bucket) counts. Append mode
    * emits each cell once its window closes; the foreachBatch sink
    * (or any downstream batch step) then applies
    * [[tvAgainstBaseline]] with the broadcast baseline — state per
    * open window is the bucket-count map, evicted at the watermark.
    * The batch backfill (`WindowedEvents.driftHourly`) runs this same
    * function over the bounded table.
    */
  def driftCells(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"),
        expr("CAST(floor(value) AS BIGINT)").as("bucket"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("bucket"), col("n"))

  /** Streaming COMPLIANCE scan — the redaction pass applied at ingest
    * time instead of in the nightly batch: `Redaction.piiScan` and the
    * Luhn card check are pure row-local projections, so the SAME
    * operator instances run unchanged on a streaming frame — no state,
    * no watermark, exactly-once for free under any sink that is. The
    * scan columns are APPENDED to the document columns (never a
    * stream-self-join) so the downstream appender can quarantine rows
    * where anything matched.
    */
  def scanDocs(docs: DataFrame): DataFrame =
    docs.select(col("*") +: graft.operators.Redaction.piiColumns("text"): _*)
      .withColumn("has_pii",
        col("n_emails") + col("n_ips") + col("n_phones") > 0)

  /** Streaming OHLC candles: watermarked tumbling-hour windows per
    * event type, open/close elected by `min_by`/`max_by` over a
    * zero-padded (micros, event_id) key, so simultaneous events elect
    * deterministically (spec-pinned). `TimeSeries.ohlcHourly` is this
    * function over the bounded table, so a backfill and the live
    * stream produce IDENTICAL candles. State per open window is one
    * candle row, evicted at watermark expiry.
    */
  def ohlcCandles(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events
      .withColumn("cents", expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)"))
      .withColumn("ok", expr(
        """concat(lpad(CAST(unix_micros(ts) AS STRING), 20, '0'),
          |  lpad(CAST(event_id AS STRING), 12, '0'))""".stripMargin))
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        min_by(col("cents"), col("ok")).as("open_cents"),
        max(col("cents")).as("high_cents"),
        min(col("cents")).as("low_cents"),
        max_by(col("cents"), col("ok")).as("close_cents"),
        count(lit(1)).as("volume"),
        sum(col("cents")).as("total_cents"))

  /** Streaming TRENDING counts: watermarked tumbling-hour counts per
    * event type, append mode — a window emits once, when the
    * watermark closes it. Ranking an OPEN window is undefined (counts
    * still move), so the top-k step deliberately lives downstream of
    * the close, in the sink's foreachBatch, as [[rankClosedWindows]]
    * — the SAME function the batch twin
    * (`WindowedEvents.trendingHourly`) ranks with, making live ≡
    * backfill by construction; that twin's counts are this function
    * over the bounded table. State per open (window, type) is one
    * count row, evicted at expiry.
    */
  def trendingCounts(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("event_type"), col("cnt"))

  /** Top-[[graft.operators.WindowedEvents.TrendingK]] per closed
    * window (count desc, type asc — total order). Runs on CLOSED
    * windows only: the streaming sink applies it per foreachBatch
    * over appended rows; the batch twin applies it to the full
    * backfill. Compiles to WindowGroupLimit.
    */
  def rankClosedWindows(counts: DataFrame,
      k: Int = graft.operators.WindowedEvents.TrendingK): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    counts
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("window_start"))
          .orderBy(col("cnt").desc, col("event_type"))).cast("long"))
      .filter(col("rnk") <= k)
  }

  /** `aggregated_votes_per_candidate`: tumbling 1-hour window per
    * candidate. Map-side partial aggregation + shuffle on
    * (window, candidate) — the state store keys stay bounded by
    * watermark expiry.
    */
  def votesPerCandidate(votes: DataFrame, watermark: String = "10 minutes",
      window_ : String = "1 hour"): DataFrame =
    votesWatermarked(votes, watermark)
      .groupBy(window(col("voted_at"), window_),
        col("candidate_id"), col("candidate_name"), col("party"))
      .agg(count(lit(1)).as("vote_count"))
      .select(col("window.start").as("window_start"), col("window.end").as("window_end"),
        col("candidate_id"), col("candidate_name"), col("party"), col("vote_count"))

  /** `aggregated_turnout_by_location`: stream-static join against the
    * voter dimension (the vote message carries no address), then a
    * tumbling window per state. The static side is broadcast when
    * small; at 100 TB it becomes a shuffled stream-static join keyed
    * on voter_id. INNER join per the reference's FK semantics — a vote
    * arriving before its voter row lands in the dimension is dropped
    * for that micro-batch, not retried; a deployment with registration
    * lag should left-join into an "unknown" bucket instead.
    */
  def turnoutByLocation(votes: DataFrame, voters: DataFrame,
      watermark: String = "10 minutes", window_ : String = "1 hour"): DataFrame =
    votesWatermarked(votes, watermark)
      .join(voters.select(col("voter_id"), col("address_state")), Seq("voter_id"))
      .groupBy(window(col("voted_at"), window_), col("address_state"))
      .agg(count(lit(1)).as("turnout"))
      .select(col("window.start").as("window_start"), col("window.end").as("window_end"),
        col("address_state"), col("turnout"))

  /** Cumulative tally update emitted by the stateful stream. */
  final case class CandidateTally(candidate_id: String, total_votes: Long,
    last_voted_at: java.sql.Timestamp)

  /** Custom per-key state beyond windowed aggregation (the
    * `mapGroupsWithState` surface): a running all-time tally per
    * candidate, emitting an updated `CandidateTally` on every
    * micro-batch that touches the key. State is one counter per
    * candidate — constant-size regardless of input rate.
    */
  def runningTallies(votes: DataFrame): Dataset[CandidateTally] = {
    val spark = votes.sparkSession
    import spark.implicits._
    votes
      .select($"candidate_id", $"voted_at")
      .as[(String, java.sql.Timestamp)]
      .groupByKey(_._1)
      .mapGroupsWithState[(Long, Long), CandidateTally](GroupStateTimeout.NoTimeout) {
        case (candidateId, rows, state: GroupState[(Long, Long)]) =>
          val (prevCount, prevTs) = state.getOption.getOrElse((0L, 0L))
          var count = prevCount
          var maxTs = prevTs
          rows.foreach { case (_, ts) =>
            count += 1
            if (ts.getTime > maxTs) maxTs = ts.getTime
          }
          state.update((count, maxTs))
          CandidateTally(candidateId, count, new java.sql.Timestamp(maxTs))
      }
  }

  /** [[runningTallies]] re-expressed on Spark 4's `transformWithState`
    * — the successor arbitrary-state API (SPARK-40434): typed named
    * state via a `StatefulProcessorHandle` instead of one opaque
    * `GroupState` blob, optional per-state TTL, and timers decoupled
    * from the input iterator. Semantics are identical to the
    * mapGroupsWithState form (a parity spec pins it); requires the
    * RocksDB state store provider at runtime.
    */
  class TallyProcessor extends org.apache.spark.sql.streaming
      .StatefulProcessor[String, (String, java.sql.Timestamp), CandidateTally] {
    @transient private var tally: org.apache.spark.sql.streaming.ValueState[(Long, Long)] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      tally = getHandle.getValueState[(Long, Long)]("tally",
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong),
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(candidateId: String,
        rows: Iterator[(String, java.sql.Timestamp)],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[CandidateTally] = {
      val (prevCount, prevTs) =
        if (tally.exists()) tally.get() else (0L, 0L)
      var count = prevCount
      var maxTs = prevTs
      rows.foreach { case (_, ts) =>
        count += 1
        if (ts.getTime > maxTs) maxTs = ts.getTime
      }
      tally.update((count, maxTs))
      Iterator.single(CandidateTally(candidateId, count, new java.sql.Timestamp(maxTs)))
    }
  }

  /** [[runningTallies]] on the transformWithState API. */
  def runningTalliesTws(votes: DataFrame): Dataset[CandidateTally] = {
    val spark = votes.sparkSession
    import spark.implicits._
    votes
      .select($"candidate_id", $"voted_at")
      .as[(String, java.sql.Timestamp)]
      .groupByKey(_._1)
      .transformWithState(new TallyProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  /** One closed voter session emitted by [[voterSessions]]. */
  final case class VoterSession(voter_id: String, session_start: java.sql.Timestamp,
    session_end: java.sql.Timestamp, n_events: Long)

  /** Custom gap-based sessionization with explicit keyed state — the
    * `flatMapGroupsWithState` surface (report §3.3's stateful layer
    * beyond windowed aggregation). Native `session_window` covers the
    * plain case; this seam exists for semantics it cannot express
    * (per-key gap policies, session caps, custom payloads) and emits
    * each CLOSED session exactly once in Append mode.
    *
    * A session closes ONLY when the watermark passes its last event +
    * gap — never merely because a later in-batch event exceeded the
    * gap: an on-time out-of-order event in a later batch may still
    * bridge two open fragments, so the state holds the full list of
    * open gap-disjoint fragments (bounded: fragments are at least gap
    * apart, all above watermark − gap). `session_end` is the last
    * event's timestamp (not last + gap). The gap boundary matches the
    * native operator: an event at exactly last + gap MERGES. Composes
    * after [[dedupVotes]] in one query (its watermark is kept).
    */
  def voterSessions(votes: DataFrame, gapMinutes: Int = 30,
      watermark: String = "10 minutes"): Dataset[VoterSession] = {
    val spark = votes.sparkSession
    import spark.implicits._
    val gapMs = gapMinutes * 60000L
    votesWatermarked(votes, watermark)
      .select($"voter_id", $"voted_at")
      .as[(String, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Seq[(Long, Long, Long)], VoterSession](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (voterId, rows, state: GroupState[Seq[(Long, Long, Long)]]) =>
          val wm = state.getCurrentWatermarkMs()
          // fold the batch's sorted events into gap-disjoint fragments,
          // then interval-merge with the carried open fragments (an
          // in-watermark event EARLIER than an open fragment must
          // extend or precede it — session_start can move backward)
          val ts = rows.map(_._2.getTime).toArray.sorted
          val evFrags = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
          ts.foreach { t =>
            if (evFrags.nonEmpty && t <= evFrags.last._2 + gapMs) {
              val (s, l, n) = evFrags.last
              evFrags(evFrags.length - 1) = (s, math.max(l, t), n + 1)
            } else evFrags += ((t, t, 1L))
          }
          val allFrags = (evFrags ++ state.getOption.getOrElse(Seq.empty)).sortBy(_._1)
          val merged = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
          allFrags.foreach { case f @ (s, l, n) =>
            if (merged.nonEmpty && s <= merged.last._2 + gapMs) {
              val (ps, pl, pn) = merged.last
              merged(merged.length - 1) = (ps, math.max(pl, l), pn + n)
            } else merged += f
          }
          val (closed, open) = merged.partition { case (_, l, _) => l + gapMs <= wm }
          if (open.isEmpty) state.remove()
          else {
            state.update(open.toSeq)
            // the partition above guarantees every open deadline is
            // strictly beyond the watermark; the clamp is pure
            // defense-in-depth (setTimeoutTimestamp THROWS on a
            // stale timestamp, which would kill the whole query)
            state.setTimeoutTimestamp(math.max(open.map(_._2).min + gapMs, wm + 1))
          }
          closed.iterator.map { case (s, l, n) =>
            VoterSession(voterId, new java.sql.Timestamp(s), new java.sql.Timestamp(l), n)
          }
      }
  }

  final case class Transition(user_id: Long, src_type: String, dst_type: String)

  /** Streaming EVENT-TRANSITION extractor — the live twin of
    * `WindowedEvents.eventTransitions`' pair step: per user, the
    * carried state is just the LAST event seen `(ts_micros, event_id,
    * type)`, and each micro-batch emits one `(src, dst)` row per
    * adjacent pair (Append mode — a transition, once emitted, is a
    * fact). The count/share rollup stays in the sink's foreachBatch,
    * SHARED with the batch twin (the trendingHourly pattern), so the
    * live matrix and the backfill agree by construction.
    *
    * Ordering contract: rows are sorted by (ts, event_id) WITHIN each
    * batch, and adjacency across batches is exact when each user's
    * events arrive in non-decreasing event order across batches — the
    * guarantee a user-keyed Kafka partition provides. State is one
    * tuple per user — bounded by the user population, not the stream
    * length.
    */
  def transitionStream(events: DataFrame): Dataset[Transition] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id").cast("long").as("user_id"),
        expr("unix_micros(CAST(ts AS TIMESTAMP))").as("tsu"),
        col("event_id").cast("long").as("event_id"), col("event_type"))
      .as[(Long, Long, Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, String), Transition](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (userId, rows, state: GroupState[(Long, Long, String)]) =>
          val sorted = rows.toArray.sortBy(r => (r._2, r._3))
          var last = state.getOption
          val out = Seq.newBuilder[Transition]
          sorted.foreach { r =>
            last.foreach(l => out += Transition(userId, l._3, r._4))
            last = Some((r._2, r._3, r._4))
          }
          last.foreach(state.update)
          out.result().iterator
      }
  }

  /** Watermarked stream-stream interval join: each left row picks up
    * every right row of the same `key` with `right ts ∈
    * [left ts − window, left ts]` (both ends inclusive — the streaming
    * twin of `TimeSeries.intervalJoin`, same semantics batch or
    * streamed). Both sides carry watermarks and the join condition
    * time-bounds both event times, so Spark can derive state
    * watermarks and EVICT matched state — without the bound the join
    * state grows forever at 100 TB/day. LEFT-outer rows emit once the
    * watermark proves no match can still arrive.
    */
  def streamIntervalJoin(left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String, windowMinutes: Int,
      watermark: String = "10 minutes"): DataFrame = {
    val l = left.withWatermark(leftTs, watermark)
    val r = right.withColumnRenamed(key, "__rkey").withWatermark(rightTs, watermark)
    l.join(r,
      col(key) === col("__rkey") &&
        col(rightTs) >= col(leftTs) - expr(s"INTERVAL $windowMinutes MINUTES") &&
        col(rightTs) <= col(leftTs),
      "leftOuter").drop("__rkey")
  }

  /** Kafka-sink shaping: JSON value keyed by vote_id
    * (`src/data_generator.py:248`).
    */
  def toKafkaShape(df: DataFrame, keyCol: Column): DataFrame =
    df.select(keyCol.cast("string").as("key"), to_json(struct(col("*"))).as("value"))

  /** Checkpointed writer — the report's recovery story (§3.3). */
  def checkpointedWriter(df: DataFrame, checkpointDir: String,
      mode: OutputMode = OutputMode.Update()): DataStreamWriter[org.apache.spark.sql.Row] =
    df.writeStream
      .outputMode(mode)
      .option("checkpointLocation", checkpointDir)

  /** File-backed vote stream: JSON-lines files dropped into `dir`
    * (the replayable stand-in for the Kafka topic in broker-less
    * environments; `Outputs.jsonLines` produces compatible files).
    */
  def fileVoteSource(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    parseVotes(spark.readStream
      .schema(StructType(Seq(StructField("value", StringType))))
      .text(dir))

  /** Kafka vote source — the production topology
    * (`votes_topic`, `README.md:112`). Requires a broker; in this
    * test environment only the file/memory sources run.
    */
  def kafkaVoteSource(spark: org.apache.spark.sql.SparkSession,
      servers: String, topic: String = "votes_topic"): DataFrame =
    parseVotes(spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", servers)
      .option("subscribe", topic)
      .load())

  /** Keyed upsert sink via foreachBatch — the engine's replacement for
    * the reference's per-row INSERT + commit (`src/data_generator.py:
    * 233-242`): each micro-batch merges into a parquet table keyed by
    * `key`, newest `versionCol` wins. Exactly-once composes from the
    * checkpoint (batch replays re-merge idempotently).
    *
    * One Spark job per micro-batch: the batch frame re-runs its whole
    * stateful plan on every action, so the merge write is its only
    * action. The batch's row count is observed during that write; a
    * batch with no rows (a watermark tick) discards its staged table
    * and never swaps, so readers see no change. The stored table is
    * read with the batch's schema, not inferred. The merge writes one
    * file per `spark.sql.files.maxPartitionBytes` of the stored table
    * (at least one), so the file count follows the table's size rather
    * than the shuffle partition count.
    *
    * Reader contract: a concurrent `spark.read.parquet(path)` either
    * returns a complete committed table (some batch's merge result,
    * never duplicated or missing keys) or fails with a missing-file
    * error: `FILE_NOT_EXIST` when the scan meets a file the swap moved
    * away, a `FileNotFoundException` when schema inference does, or
    * `PATH_NOT_FOUND` when the read lands between the two renames.
    * Readers retry on those; there is no transaction log to pin a
    * version.
    */
  def foreachBatchUpsert(df: DataFrame, path: String, key: String,
      versionCol: String, checkpointDir: String): StreamingQuery =
    df.writeStream
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        import org.apache.hadoop.fs.Path
        import org.apache.spark.sql.Observation
        import org.apache.spark.sql.expressions.Window
        val conf = spark.sparkContext.hadoopConfiguration
        val dst = new Path(path)
        // siblings derived from the NORMALIZED path — naive string
        // concatenation on a trailing-slash path would nest __prev and
        // __stage INSIDE dst and wedge the swap protocol forever
        val prev = new Path(dst.getParent, dst.getName + "__prev")
        val stage = new Path(dst.getParent, dst.getName + "__stage")
        // resolve the filesystem FROM the target path (fs.defaultFS may
        // be a different scheme than the sink location)
        val fs = dst.getFileSystem(conf)
        // recovery-aware read: prefer the live table; if a previous run
        // crashed mid-swap, the last good table is at __prev. Absence
        // is detected explicitly — a transient read error must FAIL the
        // batch (checkpoint will retry), never silently empty the table.
        val source =
          if (fs.exists(dst)) Some(dst)
          else if (fs.exists(prev)) Some(prev)
          else None
        // the table is only ever written from this query's batches,
        // and the file source makes a read schema nullable, so the
        // batch's schema is the table's; inferring it costs a job
        val existing = source match {
          case Some(p) => spark.read.schema(batch.schema).parquet(p.toString)
          case None => spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], batch.schema)
        }
        // one output file per maxPartitionBytes of the stored table:
        // streams run with AQE off, so the window's exchange would
        // otherwise write a file per shuffle partition, each a task
        val maxBytes = spark.sessionState.conf.filesMaxPartitionBytes
        val tableBytes = source.fold(0L)(fs.getContentSummary(_).getLength)
        val files = math.max(1L, (tableBytes + maxBytes - 1) / maxBytes).toInt
        val rows = Observation()
        // a version TIE between the stored row and an update must
        // resolve the same way in a batch and in its checkpoint
        // replay, or recovery is not idempotent — break ties on a
        // stable hash of the full row (arbitrary but deterministic).
        // Partitioning on the key already satisfies the window, so
        // `files` reducers rank and write.
        val merged = existing
          .unionByName(batch.observe(rows, count(lit(1)).as("rows")))
          .repartition(files, col(key))
          .withColumn("__rn", row_number().over(
            Window.partitionBy(col(key))
              .orderBy(col(versionCol).desc, xxhash64(struct(col("*"))))))
          .filter(col("__rn") === 1)
          .drop("__rn")
        // Hadoop rename reports most failures by RETURNING FALSE, not
        // throwing — an unchecked rename would let the checkpoint
        // commit a batch whose output was silently abandoned in
        // __stage. Throwing fails the batch so the checkpoint retries.
        def mustRename(from: Path, to: Path): Unit =
          require(fs.rename(from, to), s"rename $from -> $to failed")
        fs.delete(stage, true)
        merged.write.mode("overwrite").parquet(stage.toString)
        // the write returned, so `get` only waits for the listener that
        // delivers its metrics. They lack "rows" only when the
        // optimizer removed the batch as provably empty. NOTE: an
        // if-guard, never `return` — a non-local return from a closure
        // that outlives its enclosing method throws at batch time.
        if (rows.get.get("rows").exists(_ != 0L)) {
          // stage → swap: at every crash point either dst or __prev
          // holds a complete table, so the recovery read above never
          // loses data. __prev is only touched while a fresh dst exists
          // to replace it — a recovery run (dst absent, __prev = last
          // good) must NOT delete __prev before stage lands at dst, or
          // a crash in between would silently reset the table to one
          // batch.
          if (fs.exists(dst)) {
            fs.delete(prev, true)
            mustRename(dst, prev)
          }
          mustRename(stage, dst)
          fs.delete(prev, true)
        } else fs.delete(stage, true)
        ()
      }
      .start()

  /** Convenience: run an aggregate stream into an in-memory table and
    * block until the source is drained (test/demo harness).
    */
  def runToMemory(df: DataFrame, name: String, checkpointDir: String,
      mode: OutputMode = OutputMode.Complete()): StreamingQuery = {
    val q = df.writeStream
      .outputMode(mode)
      .format("memory")
      .queryName(name)
      .option("checkpointLocation", checkpointDir)
      .start()
    q.processAllAvailable()
    q
  }
}
