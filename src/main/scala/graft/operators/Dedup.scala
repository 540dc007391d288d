package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.Tables

/** Deduplication operators over `documents` (builder brief; SURVEY
  * §7.4): exact hash-groupBy, MinHash+LSH (shingle → minhash → band →
  * bucket-join), SimHash signatures, and exact n-gram Jaccard.
  *
  * Scale design: everything is expressed as shuffle-on-key joins and
  * aggregations — shingling is a projection; the LSH band join
  * distributes on (band, band_key), which is exactly the bucketing a
  * 1000-executor run needs; candidate verification only touches the
  * candidate pairs, never the n² cross product. Hash functions are
  * md5-derived so any engine (and the DuckDB oracle) reproduces them.
  */
object Dedup {

  private val NumHashes = 16
  private val BandSize = 4

  /** Document-frequency cap on n-gram posting lists: a shingle shared
    * by d documents expands d·(d−1)/2 pairs inside ONE task's row, so
    * an uncapped boilerplate shingle (d ~ 10⁶ at 100 TB) is a
    * quadratic-blowup / OOM hazard. Postings hotter than this are
    * dropped — by construction they are boilerplate (headers, licence
    * text) that contributes near-zero Jaccard evidence per pair. The
    * oracle SQL applies the identical predicate.
    */
  val MaxShingleDf = 1000

  /** 1-in-N deterministic truth-pair sample for [[lshRecall]] (one
    * md5 nibble of the pair key mod N; mirrored in the oracle).
    */
  val RecallSampleMod = 4L

  /** The banded-join analog of [[MaxShingleDf]]: a degenerate corpus
    * (boilerplate-dominated signatures) can funnel many documents into
    * ONE (band, band_key) bucket, turning the LSH join quadratic in
    * that task. Buckets hotter than this are dropped as saturated —
    * standard LSH practice: a band shared by thousands of documents
    * carries no pairwise evidence. Mirrored in the oracle SQL.
    */
  val MaxBandBucket = 1000

  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")

  /** Session-width range layout of the documents scan — see
    * [[TextAnalysis]]'s docsWide (the r16 single-row-group-scan
    * finding); applied selectively by the same family A/B discipline.
    * Measured widen-everything vs plain at sf0.1 local[32]: only
    * [[incrementalNearDupHalves]] (1.30→0.68) and the simhash kernel
    * (0.58→0.28) win; the aggregate-first and multi-pass dedup
    * operators (exact/cascade/bloom/chunks/normalized/rates…) pay the
    * un-cached exchange per pass and REGRESS (family total
    * 13.7→17.5 s when widened blanket), so everything else keeps the
    * bare scan.
    */
  private def docsWide(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .repartitionByRange(spark.sessionState.conf.numShufflePartitions,
        col("doc_id"))
      .sortWithinPartitions(col("doc_id"))

  /** The distinct word-3-gram array expression (over a tokenized
    * column `t`) — the single definition every shingle consumer
    * derives from. Shared as an EXPRESSION, not a projected column:
    * explode over a pre-aliased array column defeats generator fusion
    * and ran 6x slower (measured 0.6s vs 3.5s warm at sf0.1).
    */
  private val shingleArrayExpr: Column = array_distinct(
    expr("transform(sequence(0, size(t)-3), i -> concat(t[i], ' ', t[i+1], ' ', t[i+2]))"))

  /** (doc_id, t) — whitespace-tokenized docs with ≥3 tokens, over an
    * arbitrary `(doc_id, text)` frame (the seam the incremental
    * operators need: an incoming batch is not the `documents` table).
    */
  private def tokenizedOf(d: DataFrame): DataFrame = {
    import d.sparkSession.implicits._
    d.select($"doc_id", split($"text", " ").as("t"))
      .filter(size($"t") >= 3)
  }

  /** (doc_id, t) — whitespace-tokenized docs with ≥3 tokens. */
  private def tokenized(spark: SparkSession, dir: String): DataFrame =
    tokenizedOf(docs(spark, dir))

  /** The stock-expression twin of the `graft_shingle_keys` kernel —
    * kept for the differential spec (kernel must stay bit-equal
    * forever): HOF shingle array → explode → md5/conv 60-bit key, and
    * the per-doc count as `size` of the same array.
    */
  private[graft] def shingleKeysHof(d: DataFrame): (DataFrame, DataFrame) = {
    import d.sparkSession.implicits._
    val toks = tokenizedOf(d)
    (toks.select($"doc_id", explode(shingleArrayExpr).as("shingle"))
      .select($"doc_id",
        expr("CAST(conv(substr(md5(shingle), 1, 15), 16, 10) AS BIGINT)").as("sk")),
      toks.select($"doc_id", size(shingleArrayExpr).cast("long").as("n")))
  }

  /** (doc_id, shingle) — exploded form. */
  private def shingles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    tokenized(spark, dir).select($"doc_id", explode(shingleArrayExpr).as("shingle"))
  }

  /** Per-doc minhash signature array. Hash family: 4 seeded md5 digests
    * per shingle, each sliced into four 8-hex-char (32-bit) chunks —
    * 16 independent hash functions from 4 md5 calls (slices of one
    * digest are independent; an affine h1+k·h2 family is NOT — its
    * correlated argmins quadruple false candidates on this corpus).
    * Fixed-width lowercase hex compares lexicographically =
    * numerically, in every engine.
    *
    * Scale shape: a PURE PROJECTION — the codegen'd `graft_minhash16`
    * kernel minimises all 16 slots in one pass over the in-row shingle
    * array, so signatures cost zero shuffle. [[signaturesHof]] is the
    * aggregate twin it is spec-checked against bit-for-bit.
    */
  private[graft] def signatures(spark: SparkSession, dir: String): DataFrame =
    signaturesOf(docs(spark, dir))

  /** [[signatures]] over an arbitrary `(doc_id, text)` frame. */
  private[graft] def signaturesOf(d: DataFrame): DataFrame = {
    import d.sparkSession.implicits._
    tokenizedOf(d)
      .select($"doc_id",
        graft.plans.ArrayExpressions.minhash16(
          graft.plans.ArrayExpressions.shingles($"t")).as("sig"))
  }

  /** (doc_id, band, band_key) — each doc's [[NumHashes]]/[[BandSize]]
    * LSH band keys, over an arbitrary `(doc_id, text)` frame. The unit
    * of the near-dup signature STORE: history persists as distinct
    * (band, band_key) rows, and an incoming batch probes it by
    * equijoin.
    */
  private def bandKeysOf(d: DataFrame): DataFrame = {
    import d.sparkSession.implicits._
    signaturesOf(d).select($"doc_id",
      posexplode(expr(s"transform(sequence(0, ${NumHashes / BandSize - 1}), " +
        s"b -> concat_ws('', slice(sig, b * $BandSize + 1, $BandSize)))")))
      .toDF("doc_id", "band", "band_key")
  }

  /** Stock-Catalyst twin of [[signatures]]: explode shingles, 4 md5
    * projections, 16 map-side-partial min-aggregates (one shuffled row
    * per (doc, shingle)). Kept as the no-custom-code fallback and the
    * kernel's cross-check (ArrayExpressionsSpec).
    */
  private[graft] def signaturesHof(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val seeded = shingles(spark, dir).select($"doc_id" +:
      (0 until NumHashes / 4).map(s => md5(concat(lit(s"$s|"), $"shingle")).as(s"m$s")): _*)
    val hs = array((0 until NumHashes).map(k =>
      substring(col(s"m${k / 4}"), (k % 4) * 8 + 1, 8)): _*)
    seeded
      .select($"doc_id", hs.as("hs"))
      .groupBy($"doc_id")
      .agg(min(element_at($"hs", 1)).as("h0"),
        (1 until NumHashes).map(i => min(element_at($"hs", i + 1)).as(s"h$i")): _*)
      .select($"doc_id",
        array((0 until NumHashes).map(i => col(s"h$i")): _*).as("sig"))
  }

  /** Exact dedup: hash-groupBy on the content fingerprint. */
  def exact(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    docs(spark, dir)
      .groupBy(md5($"text").as("fingerprint"))
      .agg(count(lit(1)).as("n_docs"), min($"doc_id").as("keeper_doc_id"))
      .orderBy($"fingerprint")
  }

  /** MinHash + LSH near-dup candidates: 16 minhashes, 4 bands of 4; a
    * shared band key makes a candidate pair; estimated Jaccard =
    * matching minhashes / 16.
    */
  /** Derive-once, scan-many for the LSH candidate-pair relation: the
    * signature + banding + bucket-join derivation feeds FIVE surfaced
    * queries per sweep (the pair table itself, clusters, cluster
    * sizes, the cascade's near stage, recall eval) — the same
    * [[graft.engine.Layouts.layoutOnce]] session-layout mechanism as
    * the span graph. The relation is a deterministic function of the
    * fixture, so a hit is row-identical to re-derivation
    * (differential-spec'd).
    */
  def minhashLsh(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.engine.Layouts.layoutOnce(spark, "lsh-pairs", dir, "doc_a")(
      minhashLshDerive(spark, dir))
      .orderBy($"doc_a", $"doc_b")
  }

  /** [[minhashLsh]]'s actual derivation (the layout writer's input and
    * the differential reference).
    */
  /** `(doc_id, sig, band, band_key)` over a SIGNATURE frame — the band
    * rows with the signature riding along so the expensive signature
    * subtree (md5s + 16 min-aggs) is planned exactly once; est_jaccard
    * consumers read sig_a/sig_b off the matched band rows instead of
    * re-joining (and re-computing) the signature relation. Shared by
    * [[minhashLshDerive]] (batch self-join) and [[lshProbeEdges]]
    * (streaming band-store probe — the persisted store keeps exactly
    * these rows).
    */
  private[graft] def bandSigRows(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"), col("sig"),
      posexplode(expr(s"transform(sequence(0, ${NumHashes / BandSize - 1}), " +
        s"b -> concat_ws('', slice(sig, b * $BandSize + 1, $BandSize)))")))
      .toDF("doc_id", "sig", "band", "band_key")

  /** BATCH LSH candidate pairs over pre-computed band rows — the one
    * definition of "band → bucket-cap → self-join → dedup across
    * bands" the batch faces share: [[minhashLshDerive]] (est-jaccard
    * output) and [[lshEdgesOverBands]] (thresholded edges, the
    * from-scratch recompute
    * [[graft.streaming.EventStreams.rebuildCascadeStores]] folds the
    * maintained band store through). The [[MaxBandBucket]] saturation
    * guard is evaluated on the FULL corpus bucket size — the batch
    * semantics the streamed probe can diverge from when a bucket
    * crosses the cap mid-stream (see
    * [[graft.streaming.EventStreams.saturatedBandBuckets]]).
    */
  /** The minhash similarity ESTIMATE — matching-slot fraction of two
    * 16-slot signatures. The ONE definition the batch pair core
    * ([[minhashLshDerive]]), the rebuild edge fold
    * ([[lshEdgesOverBands]]), and the streamed probe
    * ([[lshProbeEdges]]) all evaluate (r15 review: three verbatim
    * expression copies were exactly the silent-divergence class the
    * rebuild seam exists to repair). Bit-equal to the oracle's
    * `len(list_filter(...)) / 16` CTEs.
    */
  private[graft] def estJaccardOf(sigA: Column, sigB: Column): Column =
    size(org.apache.spark.sql.functions.filter(
      zip_with(sigA, sigB, (x, y) => x === y), b => b)) / lit(NumHashes.toDouble)

  private[graft] def lshCandidatePairs(bands0: DataFrame,
      maxBucket: Int = MaxBandBucket): DataFrame = {
    // saturated-bucket guard: co-partitioned with the self-join key,
    // so the size filter adds no extra exchange shape
    val keptKeys = bands0.groupBy(col("band"), col("band_key"))
      .agg(count(lit(1)).as("bn"))
      .filter(col("bn") <= maxBucket)
      .select(col("band"), col("band_key"))
    val bands = bands0.join(keptKeys, Seq("band", "band_key"))
    bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.band_key") === col("b.band_key")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
      .dropDuplicates("doc_a", "doc_b")
  }

  private[graft] def minhashLshDerive(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    lshCandidatePairs(bandSigRows(signatures(spark, dir)))
      .select($"doc_a", $"doc_b",
        estJaccardOf($"sig_a", $"sig_b").as("est_jaccard"))
      .orderBy($"doc_a", $"doc_b")
  }

  /** The near-dup edge relation a BATCH recompute derives from band
    * rows — [[lshCandidatePairs]] thresholded to `(src, dst)` edges.
    * This is the fold [[graft.streaming.EventStreams.rebuildCascadeStores]]
    * runs over the persisted band store when the streamed labels have
    * diverged (a bucket crossed [[MaxBandBucket]] mid-stream): batch
    * semantics drop the saturated bucket WHOLESALE, so rebuilding from
    * the band store restores streamed ≡ batch exactly.
    */
  private[graft] def lshEdgesOverBands(bands0: DataFrame,
      threshold: Double = ClusterThreshold,
      maxBucket: Int = MaxBandBucket): DataFrame =
    lshCandidatePairs(bands0, maxBucket)
      .filter(estJaccardOf(col("sig_a"), col("sig_b")) >= threshold)
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))

  /** STREAMING LSH probe — the near-dup edges one ingested batch adds
    * against a persisted band-sig STORE ([[bandSigRows]] rows; the
    * maintainer appends the batch's own rows BEFORE probing, so the
    * matched store rows are the bucket contents as of this ingest and
    * batch-internal pairs fall out of the same join). Mirrors
    * [[minhashLshDerive]]'s semantics piecewise: the
    * [[MaxBandBucket]] saturation guard is evaluated on the
    * corpus-so-far bucket size, pairs are normalized to
    * `doc_a < doc_b` and de-duplicated across bands, and the edge
    * keeps iff est_jaccard (symmetric in the two sigs) ≥ `threshold`.
    * Union-over-batches ≡ the batch derivation as long as no bucket
    * CROSSES the cap mid-stream (the [[graft.operators.TextAnalysis.MaxSpanDf]]
    * ingest-time caveat the span layout already carries — a bucket
    * that saturates later would keep its earlier edges; the batch
    * derivation drops the whole bucket).
    *
    * Scale shape — every store pass is a MAP-SIDE SCAN (the r13
    * seed-probe rule): the batch's distinct keys broadcast into the
    * store join, so the corpus-sized store never shuffles; everything
    * downstream of the probe is bucket-bounded batch work. Per-batch
    * cost is O(batch + store-probe), never O(corpus).
    */
  /** [[lshProbeEdges]]' store passes, pre-aggregation — the seam
    * ServingMaintenanceSpec pins the plan shape on (broadcast probe,
    * no store shuffle). Both store passes of the probe (the
    * count-only sizing scan and the pair-join scan) are exactly this
    * join.
    */
  private[graft] def lshProbeMatched(storeBands: DataFrame,
      batchBands: DataFrame): DataFrame = {
    import storeBands.sparkSession.implicits._
    val keys = batchBands.select($"band", $"band_key").distinct()
    storeBands.join(broadcast(keys), Seq("band", "band_key"))
  }

  private[graft] def lshProbeEdges(storeBands: DataFrame, batchBands: DataFrame,
      threshold: Double = ClusterThreshold,
      maxBucket: Int = MaxBandBucket): DataFrame = {
    val spark = storeBands.sparkSession
    import spark.implicits._
    // sizing pass: count-only aggregate over the probe scan — nothing
    // wide is materialized BEFORE the saturation guard, so a batch key
    // hitting a saturated boilerplate bucket costs a counted scan, not
    // a checkpoint of the whole bucket (r13 review fix)
    val keptKeys = lshProbeMatched(storeBands, batchBands)
      .groupBy($"band", $"band_key")
      .agg(count(lit(1)).as("bn"))
      .filter($"bn" <= maxBucket)
      .select($"band", $"band_key")
    // pair pass: the a side re-scans the store map-side, now filtered
    // to the capped keys; the b side is the BATCH's own rows (already
    // present in the store by the write-then-probe contract), capped
    // by the same keys — every emitted pair has ≥1 batch endpoint and
    // the guard bounds both sides
    val kept = lshProbeMatched(storeBands, batchBands)
      .join(broadcast(keptKeys), Seq("band", "band_key"))
    val batchSide = batchBands.join(broadcast(keptKeys), Seq("band", "band_key"))
    kept.as("a")
      .join(batchSide.as("b"),
        col("a.band") === col("b.band") && col("a.band_key") === col("b.band_key")
          && col("a.doc_id") =!= col("b.doc_id"))
      .select(
        least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"),
        col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
      .dropDuplicates("doc_a", "doc_b")
      .filter(estJaccardOf($"sig_a", $"sig_b") >= threshold)
      .select($"doc_a".as("src"), $"doc_b".as("dst"))
  }

  /** SimHash signatures: 64-bit sign-of-weighted-sum over the distinct
    * word-3-gram shingles (the same feature space as [[minhashLsh]] —
    * unigram features saturate on a shared vocabulary: measured on this
    * corpus they put 451 unrelated pairs at hamming 0), emitted as two
    * 32-bit halves plus a 16-bit band bucket.
    *
    * Shape: a PURE PROJECTION — each shingle's md5 is packed once into
    * two 32-bit halves, and the 64 per-position sign sums are folded
    * over the in-row shingle array with higher-order expressions. No
    * explode, no shuffle (the round-1 form exploded 64 bit-rows per
    * feature and paid two hash aggregations for what is per-document
    * arithmetic). Bit p of a feature = bit (31−p) of its first md5
    * half (p<32) / bit (63−p) of the second — identical to the
    * hex-digit arithmetic the DuckDB oracle uses.
    */
  def simhash(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    simhashSignatures(spark, dir).orderBy($"doc_id")
  }

  /** Unordered (doc_id, simhash_hi, simhash_lo, bucket16) signature
    * frame — the shared projection under [[simhash]] and
    * [[simhashPairs]]. Uses the codegen'd `graft_simhash64` kernel
    * (row-level MD5 + bit counting); [[simhashSignaturesHof]] is the
    * pure-expression twin it is spec-checked against bit-for-bit.
    */
  private def simhashSignatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // widened input (see docsWide): the simhash64 kernel is the CPU
    // wall here and otherwise runs inside the one-task scan stage —
    // measured dedup_simhash 0.58 → 0.28 s at sf0.1 local[32]
    tokenizedOf(docsWide(spark, dir))
      .select($"doc_id",
        graft.plans.ArrayExpressions.simhash64(
          graft.plans.ArrayExpressions.shingles($"t")).as("s"))
      .select($"doc_id",
        $"s.hi".as("simhash_hi"),
        $"s.lo".as("simhash_lo"),
        expr("s.hi div 65536").as("bucket16"))
  }

  /** Higher-order-function twin of [[simhashSignatures]]: identical
    * semantics built only from stock Catalyst expressions. Kept as the
    * cross-check for the native kernel (SimhashParitySpec) and as the
    * no-custom-code fallback; 20x slower per row (per-element lambda
    * dispatch: features × 64 positions), so the kernel serves the hot
    * path.
    */
  private[graft] def simhashSignaturesHof(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val packed = transform(shingleArrayExpr, s => struct(
      conv(substring(md5(s.cast("binary")), 1, 8), 16, 10).cast("long").as("hi"),
      conv(substring(md5(s.cast("binary")), 9, 8), 16, 10).cast("long").as("lo")))
    // ONE fold over the shingle array with a 64-long accumulator. The
    // inverted shape — transform(positions, p -> aggregate(shingles,…))
    // — is 64x slower: CollapseProject inlines the md5-packing array
    // into the position lambda, re-hashing every shingle per position.
    // Here the packed array is the fold's collection argument, so it is
    // evaluated once per row no matter what the optimizer inlines.
    val counts = expr(
      """aggregate(hs, array_repeat(CAST(0 AS BIGINT), 64),
        |  (acc, t) -> zip_with(acc,
        |    transform(sequence(0, 63), p ->
        |      (CASE WHEN p < 32 THEN shiftright(t.hi, 31 - p)
        |            ELSE shiftright(t.lo, 63 - p) END % 2) * 2 - 1),
        |    (a, c) -> a + c))""".stripMargin)
    val sbits =
      expr("transform(cnts, s -> CAST(CASE WHEN s > 0 THEN 1 ELSE 0 END AS BIGINT))")
    def packBits(from: Int, len: Int) =
      expr(s"aggregate(slice(sbits, $from, $len), CAST(0 AS BIGINT), (a, x) -> a * 2 + x)")
    tokenized(spark, dir)
      .select($"doc_id", packed.as("hs"))
      .select($"doc_id", counts.as("cnts"))
      .select($"doc_id", sbits.as("sbits"))
      .select($"doc_id",
        packBits(1, 32).as("simhash_hi"),
        packBits(33, 32).as("simhash_lo"),
        packBits(1, 16).as("bucket16"))
  }

  /** Hamming radius for [[simhashPairs]] — shared with its oracle SQL. */
  val SimhashMaxHamming = 12

  /** SimHash near-dup pairs: band the 64-bit signature into four
    * 16-bit keys, self-join on (band, band_key), then keep candidate
    * pairs within [[SimhashMaxHamming]] exact hamming distance
    * (codegen'd `graft_hamming64` on each 32-bit half).
    *
    * Scale shape: same banding argument as [[minhashLsh]] — the join
    * distributes on 4·2¹⁶ keys instead of an n² cross product, and by
    * pigeonhole any pair at hamming ≤ 3 shares a band exactly; larger
    * radii are caught probabilistically (near-dups concentrate their
    * bit flips). The signature subtree is a pure projection, planned
    * once — band rows carry the halves so the hamming filter needs no
    * re-join.
    */
  def simhashPairs(spark: SparkSession, dir: String,
      maxHamming: Int = SimhashMaxHamming): DataFrame = {
    import spark.implicits._
    import graft.plans.ArrayExpressions.hamming64
    val banded0 = simhashSignatures(spark, dir)
      .select($"doc_id", $"simhash_hi", $"simhash_lo",
        posexplode(array(
          expr("simhash_hi div 65536"), expr("simhash_hi % 65536"),
          expr("simhash_lo div 65536"), expr("simhash_lo % 65536"))))
      .toDF("doc_id", "simhash_hi", "simhash_lo", "band", "band_key")
    // same saturated-bucket guard as minhashLsh ([[MaxBandBucket]])
    val keptKeys = banded0.groupBy($"band", $"band_key")
      .agg(count(lit(1)).as("bn"))
      .filter($"bn" <= MaxBandBucket)
      .select($"band", $"band_key")
    val banded = banded0.join(keptKeys, Seq("band", "band_key"))
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.band_key") === col("b.band_key")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        (hamming64(col("a.simhash_hi"), col("b.simhash_hi"))
          + hamming64(col("a.simhash_lo"), col("b.simhash_lo"))).as("hamming"))
      .filter($"hamming" <= maxHamming)
      .dropDuplicates("doc_a", "doc_b")
      .orderBy($"doc_a", $"doc_b")
  }

  /** Near-dup cluster parameters, shared with the oracle SQL: pairs at
    * estimated jaccard ≥ threshold become edges; labels propagate for a
    * FIXED hop budget. Both engine and oracle compute "min doc_id
    * within `ClusterMaxHops` hops", so the gate compares identical
    * semantics by construction (dup clusters are near-cliques — their
    * diameter is far below 10; a pathological longer chain would just
    * split deterministically on both sides).
    */
  val ClusterThreshold = 0.5
  val ClusterMaxHops = 10

  /** Near-dup clustering with canonical keeper election — the step a
    * training pipeline actually dedups with: connected components over
    * the [[minhashLsh]] candidate graph via min-label propagation
    * (each round: label ← min(own, neighbours') — the standard
    * distributed connected-components shape). Every tokenised doc gets
    * a row; `cluster_id` = the component's minimum doc_id; the keeper
    * is the member equal to it.
    *
    * Scale shape: the hop loop is CONTROL only (no driver data) — each
    * round is one shuffle-on-key join + aggregate over the (tiny,
    * post-LSH) edge relation against the pre-partitioned persisted
    * edge cache, with the label frame eagerly frozen to a LogicalRDD
    * every hop so the plan never grows ([[clustersOver]]). On a
    * cluster the same loop uses reliable `checkpoint` to HDFS for the
    * per-hop freeze.
    */
  def clusters(spark: SparkSession, dir: String,
      threshold: Double = ClusterThreshold,
      maxHops: Int = ClusterMaxHops): DataFrame = {
    import spark.implicits._
    clustersOver(
      tokenized(spark, dir).select($"doc_id"),
      minhashLsh(spark, dir)
        .filter($"est_jaccard" >= threshold)
        .select($"doc_a".as("src"), $"doc_b".as("dst")),
      maxHops)
  }

  /** [[clusters]]' default-parameter label table as a DERIVE-ONCE
    * session layout — the cluster-label counterpart of the pair-
    * relation layouts: on a cluster, near-dup labels are an ingest-
    * time artifact (the CC loop runs once per corpus snapshot), so
    * downstream REPORTS that join or roll up the labels
    * ([[clusterSizes]], [[cascade]]'s near-dup stage) scan the
    * materialization instead of re-iterating the loop per query.
    * [[clusters]] itself stays live — its bench entry measures the
    * loop's true cost, which the layout's first lookup pays exactly
    * once.
    */
  private[graft] def clusterLabelsLayout(spark: SparkSession, dir: String): DataFrame =
    graft.engine.Layouts.layoutOnce(spark, "dup-labels", dir, "doc_id", files = 4)(
      clusters(spark, dir))

  /** [[embeddingClusters]]' label table as a derive-once session
    * layout — see [[clusterLabelsLayout]]; consumed by
    * [[embeddingDedupApply]].
    */
  private[graft] def embeddingClusterLabelsLayout(spark: SparkSession, dir: String): DataFrame =
    graft.engine.Layouts.layoutOnce(spark, "emb-labels", dir, "vec_id", files = 4)(
      embeddingClusters(spark, dir))

  // r11 historical note, load-bearing for why [[clustersOver]] freezes
  // EVERY hop: [[hopNext]] consumes the label frame twice (propagation
  // + merge), so without freezing, the logical plan doubles per hop —
  // 2^hops subtree copies whose analysis and AQE plan-string rendering
  // overwhelm the DRIVER (measured in the r11 10× scale sweep:
  // `explainString` inside `AdaptiveSparkPlanExec.onUpdatePlan` threw
  // OutOfMemoryError while the executors were idle). r11 bounded the
  // growth with persisted relations + every-4-hop truncation because
  // under AQE a checkpoint loses its partitioning; r12 runs the loop
  // under the static planner, where a per-hop eager localCheckpoint
  // keeps both the partitioning and a CONSTANT-size plan.

  /** The min-label-propagation core of [[clusters]] over an arbitrary
    * graph: `nodes` is a single-column `doc_id` frame, `edges` an
    * UNDIRECTED `(src, dst)` pair frame (symmetrised here). Shared by
    * the text (minhash) and embedding (cosine-LSH) dedup pipelines.
    *
    * `onHop` is a test seam: called with each hop's post-rewrite label
    * frame so PlanAudit11Spec can observe plan growth DURING the loop
    * (the final result is always a frozen LogicalRDD scan, so any
    * boundedness assertion on it alone is vacuous).
    */
  private[graft] def clustersOver(nodes: DataFrame, edges: DataFrame,
      maxHops: Int,
      onHop: (Int, DataFrame) => Unit = (_, _) => ()): DataFrame = {
    val spark = nodes.sparkSession
    import spark.implicits._
    // the edge DERIVATION (LSH pair core, blocked scoring, …) is
    // data-scaled one-pass work that WANTS runtime re-planning — run
    // it under session AQE before the loop window opens
    val e0 = edges.toDF("src", "dst").localCheckpoint()
    // the LOOP runs with AQE off ([[graft.engine.Tables.withAqeOff]]):
    // its relations are statically pre-partitioned, so adaptive
    // re-planning buys nothing and costs 4-6 listener jobs + ~25 ms
    // driver planning PER HOP (measured r12, LoopProbe) — and, the
    // key unlock, under the static planner a localCheckpoint KEEPS
    // its partitioning. That lets every hop freeze its label frame to
    // a LogicalRDD eagerly (r10's flat-plan speed) WITHOUT the AQE
    // UnknownPartitioning re-shuffle that r11 worked around with
    // persisted relations + periodic truncation: the plan is
    // constant-size at every hop, there is no cache churn, no
    // CacheManager lookup over a growing lineage, and no truncation
    // machinery at all. Per hop: one checkpoint job (the hop compute)
    // plus one block-scan count for convergence.
    def ckptRdd(df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
      df.queryExecution.analyzed.collectFirst {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
      }
    // hop parallelism derived from the measured edge bytes (see
    // Tables.loopParallelism): tiny graphs run 1-task hops instead of
    // session-constant 32-task stages, big graphs grow with the data
    val frozen = graft.engine.Tables.withLoopParallelism(spark,
        graft.engine.Tables.loopParallelism(spark, e0)) {
      val (sym, labels0) = loopRelationsFrom(spark, nodes, e0)
      var labels = labels0
      // the checkpoint generation backing `labels` — freed as soon as
      // its successor is materialized, so the loop retains at most two
      // label generations plus the edge cache at any moment
      var backing: Option[org.apache.spark.rdd.RDD[_]] = None
      // early exit: label propagation is monotone (labels only
      // decrease), so a round that changes nothing makes every later
      // round a no-op — identical labels to the full maxHops run.
      // Near-clique dup components converge in 2-3 hops; the cap still
      // bounds the pathological chain exactly like the oracle's
      // depth-bounded walk.
      var hop = 0
      var converged = false
      val trace = graft.engine.Tables.loopTraceEnabled
      while (hop < maxHops && !converged) {
        val (t0, gc0) =
          if (trace) (System.nanoTime(), graft.engine.Tables.gcMillis())
          else (0L, 0L)
        // LAZY checkpoint + convergence count in ONE action: the count
        // computes every partition of the checkpoint RDD, which stores
        // its blocks as a side effect — one job per hop where an eager
        // checkpoint followed by a separate convergence scan costs two
        // (measured r12: the extra block-scan count job was 30-60 ms
        // of pure job latency per hop)
        val next = hopNext(labels, sym).localCheckpoint(eager = false)
        converged = next.filter($"__changed").count() == 0L
        backing.foreach(_.unpersist(false))
        backing = ckptRdd(next)
        labels = next
        onHop(hop, labels)
        if (trace) graft.engine.Tables.loopTrace("min-label", hop,
          (System.nanoTime() - t0) / 1000000L,
          graft.engine.Tables.gcMillis() - gc0, spark)
        hop += 1
      }
      labels0.unpersist(false)
      sym.unpersist(false)
      // e0 backs evicted sym partitions during the loop; after sym is
      // dropped its blocks are dead too
      ckptRdd(e0).foreach(_.unpersist(false))
      // `labels` is already a frozen LogicalRDD (or the tiny labels0
      // for maxHops=0) — no extra freeze job; its blocks stay alive
      // for the caller and are model-lifetime like every other
      // operator output
      labels
    }
    frozen
      .select($"doc_id", $"cluster_id", ($"doc_id" === $"cluster_id").as("is_keeper"))
      .orderBy($"doc_id")
  }

  /** The two loop relations every [[clustersOver]] hop scans, both
    * pre-partitioned on their join keys and PERSISTED — not
    * checkpointed. The distinction is load-bearing under AQE
    * (measured, r11): `localCheckpoint` reads its partitioning from
    * the physical plan, and with adaptive execution that plan is an
    * `AdaptiveSparkPlanExec` reporting `UnknownPartitioning` — the
    * checkpointed relation forgets the repartition it just paid for,
    * and in the non-broadcast regime (the 100 TB shape: a label table
    * too big to ship) every hop re-shuffles BOTH sides of both joins —
    * 4 exchanges/hop. `persist`'s `InMemoryRelation` records the
    * cached plan's real partitioning, so each hop's propagation join
    * and label rewrite run exchange-free on both sides and the only
    * shuffle per hop is the min-label aggregate itself — 1
    * exchange/hop in broadcast AND sort-merge regimes, surviving
    * per-hop label rewrites (PlanAudit11Spec pins the hop plan against
    * THIS code path). Cost of persist over checkpoint: lineage is kept,
    * so losing a cached partition replays upstream work — bounded here
    * by the ≤[[graft.operators.EntityResolution.ErClusterHops]]-hop
    * chain and the checkpointed `e0` floor under it.
    *
    * The edge subtree is still CHECKPOINTED once before symmetrizing —
    * the union's two branches would each re-derive it (for er_cluster
    * that subtree is the blocked self-join + levenshtein scoring;
    * replaying it doubled the operator's cost), and under the
    * persisted union it is also the recompute floor: an evicted sym
    * partition re-reads checkpoint blocks, never re-scores pairs.
    */
  private[graft] def loopRelations(nodes: DataFrame,
      edges: DataFrame): (DataFrame, DataFrame) = {
    val spark = nodes.sparkSession
    val (sym, labels) =
      loopRelationsFrom(spark, nodes, edges.toDF("src", "dst").localCheckpoint())
    // materialize up front: an UNmaterialized InMemoryRelation under
    // AQE wraps a non-final AdaptiveSparkPlan and reports
    // UnknownPartitioning (r11) — callers of this entry run hops under
    // the session's adaptive planner (PlanAudit11Spec pins both modes)
    sym.count(); labels.count()
    (sym, labels)
  }

  /** [[loopRelations]] over an ALREADY-checkpointed edge relation —
    * the split [[clustersOver]] uses so the (data-scaled) edge
    * derivation runs under session AQE while the loop relations and
    * hops build under the static planner.
    *
    * Both caches stay LAZY here (hop 1's single job fills them):
    * under the static planner an unmaterialized InMemoryRelation
    * already reports its cached plan's partitioning, so the 1-shuffle
    * hop shape needs no up-front count — that r11 requirement was
    * AQE-only ([[loopRelations]] keeps the eager counts for callers
    * running hops under the adaptive planner).
    */
  private[graft] def loopRelationsFrom(spark: SparkSession,
      nodes: DataFrame, e0: DataFrame): (DataFrame, DataFrame) = {
    import spark.implicits._
    val n = spark.sessionState.conf.numShufflePartitions
    val sym = e0.union(e0.select($"dst", $"src"))
      .repartition(n, $"src").persist()
    val labels = nodes
      .withColumn("cluster_id", $"doc_id")
      .repartition(n, $"doc_id").persist()
    (sym, labels)
  }

  /** One hop of the min-label loop: propagate each node's label to its
    * neighbours, take the per-node min, and rewrite the label table.
    * The hop's output keeps the left (labels) side's partitioning, so
    * the doc_id-hash invariant [[loopRelations]] establishes survives
    * every rewrite and later hops stay one-shuffle too.
    *
    * (Two restructurings were measured in r12 and REJECTED. A frontier
    * variant — propagating only `__changed` rows, hop-exact because
    * min is idempotent — bought nothing: dup/span graphs are dense
    * near-cliques whose frontier stays >95% of nodes until
    * convergence, and its extra plan nodes cost ~15% per hop. A
    * union-aggregate variant — folding the self label into the min as
    * a unioned row to delete the rewrite join — was ~15% SLOWER
    * interleaved-A/B'd at sf0.1: the rewrite join it removes runs on
    * two node-sized co-partitioned frames (nearly free), while the
    * union pushes every edge-propagated row through a wider two-
    * function hash aggregate. The hop below is the measured floor;
    * its remaining wall is per-job latency, not plan shape.)
    */
  private[graft] def hopNext(labels: DataFrame, sym: DataFrame): DataFrame = {
    import labels.sparkSession.implicits._
    val prop = labels.join(sym, labels("doc_id") === sym("src"))
      .groupBy($"dst").agg(min($"cluster_id").as("nl"))
    labels.join(prop, labels("doc_id") === prop("dst"), "left")
      .select($"doc_id",
        least($"cluster_id", coalesce($"nl", $"cluster_id")).as("cluster_id"),
        (coalesce($"nl", $"cluster_id") < $"cluster_id").as("__changed"))
  }

  /** Hop budget for label-MAINTENANCE loops (the base-store
    * derivation and [[clustersIncremental]]'s contracted merge).
    * Maintenance needs TRUE components — a store holding a bounded
    * ball instead of the real component representative would poison
    * every later contraction — so the budget is generous and pairs
    * with [[clustersOver]]'s convergence early-exit: a converged loop
    * never runs past convergence + 1 hops, and the cap only bounds a
    * pathological >64-diameter chain (far beyond any dup/span family;
    * min-label needs at most the component diameter to converge).
    */
  val MaintenanceMaxHops = 64

  /** INCREMENTAL component/cluster label maintenance — the daily-
    * ingest verb the derive-once label layouts
    * ([[clusterLabelsLayout]], [[graft.operators.Graph.componentLabelsLayout]])
    * still lacked: given the persisted label STORE `(doc_id,
    * cluster_id)` — complete and CONVERGED for yesterday's graph — and
    * the new batch's undirected edges, produce updated labels for
    * base+batch WITHOUT looping over the corpus. New edges can only
    * MERGE whole stored components (never split them), so the stored
    * graph CONTRACTS exactly: each component collapses to its
    * representative label (= its min member id, so the min over merged
    * representatives IS the global min), batch edges project onto
    * representatives via one store lookup join, and the min-label loop
    * ([[clustersOver]], unchanged) runs over the CONTRACTED graph
    * only — nodes = touched components + never-seen batch docs, edges
    * = the batch's projected pairs. Everything after the one
    * endpoint-seed join is batch-scaled.
    *
    * This private core returns the two batch-scaled artifacts the
    * public faces combine: labels for NEW nodes (docs history has
    * never seen) and the `(old_rep, new_rep)` mapping for merged
    * components (changed rows only — an untouched or merge-winning
    * representative maps to itself and is dropped).
    */
  private def incrementalLabelCore(store: DataFrame, batchEdges: DataFrame,
      maxHops: Int): (DataFrame, DataFrame) = {
    val spark = store.sparkSession
    import spark.implicits._
    // the batch feeds the endpoint seed, the contraction join, and the
    // new-node anti-join — materialize once (batch-scaled)
    val batch = batchEdges.toDF("src", "dst").localCheckpoint()
    val st = store.select($"doc_id", $"cluster_id")
    val endpoints = batch.select($"src".as("doc_id"))
      .union(batch.select($"dst")).distinct()
    // the ONE store-probe of the whole operation: seed each batch
    // endpoint with its stored representative (itself if never seen).
    // Join DIRECTION is load-bearing at 100 TB: the natural
    // `endpoints LEFT JOIN store` cannot broadcast its small LEFT side
    // (BroadcastHashJoin supports LeftOuter with BuildRight only), so
    // it sort-merges — shuffling the CORPUS-sized store for a
    // batch-sized probe. Restated as store ⋈ broadcast(endpoints)
    // inner (a map-side store scan, zero store shuffle) plus a
    // batch-local anti-join for never-seen endpoints. The broadcast
    // hint is the same daily-batch contract as the changed mapping's:
    // a backfill too big to ship should recompute from scratch.
    val matched = st.join(broadcast(endpoints), Seq("doc_id"))
      .select($"doc_id", $"cluster_id".as("rep"))
      .localCheckpoint()
    val fresh = endpoints
      .join(matched.select($"doc_id"), Seq("doc_id"), "left_anti")
      .select($"doc_id", $"doc_id".as("rep"))
      .localCheckpoint()
    val seeds = matched.unionByName(fresh)
    val contracted = batch
      .join(seeds.select($"doc_id".as("src"), $"rep".as("rep_a")), Seq("src"))
      .join(seeds.select($"doc_id".as("dst"), $"rep".as("rep_b")), Seq("dst"))
      // an edge inside one stored component contracts to a self-loop —
      // it can merge nothing and leaves the loop input (re-ingesting
      // an already-applied batch contracts to NOTHING: idempotence)
      .filter($"rep_a" =!= $"rep_b")
      .select($"rep_a", $"rep_b").distinct()
    val cnodes = contracted.select($"rep_a".as("doc_id"))
      .union(contracted.select($"rep_b")).distinct()
    val changed = clustersOver(cnodes,
        contracted.select($"rep_a".as("src"), $"rep_b".as("dst")), maxHops)
      .select($"doc_id".as("old_rep"), $"cluster_id".as("new_rep"))
      .filter($"old_rep" =!= $"new_rep")
    // a new node seeds itself (rep == doc_id, the `fresh` frame — no
    // second store pass); its final label is its merged component's
    // representative if the loop merged it
    val newLabels = fresh
      .join(broadcast(changed), $"rep" === $"old_rep", "left")
      .select($"doc_id", coalesce($"new_rep", $"rep").as("cluster_id"))
    (newLabels, changed)
  }

  /** [[incrementalLabelCore]] merged back into the FULL updated label
    * table `(doc_id, cluster_id, is_keeper)` — row-identical to a full
    * [[clustersOver]] recompute over base+batch at convergence
    * (IncrementalLabelsSpec pins it). The store relabel is one LEFT
    * join against the broadcast `changed` mapping — the mapping is
    * touched-components-sized (bounded by batch endpoints), which is
    * the daily-batch contract the hint encodes; a bulk backfill that
    * merges more components than a broadcast can ship should recompute
    * from scratch instead. Emitting the full table scans the store
    * once by definition; the loop never touches it —
    * [[clustersIncrementalDelta]] is the face whose OUTPUT is also
    * batch-scaled (what a merge-write against a clustered label store
    * actually ships).
    */
  def clustersIncremental(store: DataFrame, batchEdges: DataFrame,
      maxHops: Int = MaintenanceMaxHops): DataFrame = {
    val spark = store.sparkSession
    import spark.implicits._
    val (newLabels, changed) = incrementalLabelCore(store, batchEdges, maxHops)
    val st = store.select($"doc_id", $"cluster_id")
    st.join(broadcast(changed), st("cluster_id") === changed("old_rep"), "left")
      .select(st("doc_id"),
        coalesce($"new_rep", st("cluster_id")).as("cluster_id"))
      .unionByName(newLabels)
      .select($"doc_id", $"cluster_id",
        ($"doc_id" === $"cluster_id").as("is_keeper"))
      .orderBy($"doc_id")
  }

  /** Driver-literal pushdown cap for [[clustersIncrementalDelta]]'s
    * store probe: when the changed mapping holds at most this many
    * merged components, the touched representative set ships as an IN
    * filter ON THE SCAN — with the store range-clustered on
    * `cluster_id` ([[graft.streaming.EventStreams.labelStoreInit]]'s
    * physical shape), parquet row-group min/max statistics prune the
    * probe to the touched components' files instead of scanning the
    * corpus-sized store (spec-proven via scanned-rows metrics, the
    * LayoutsSpec standard). The collect is touched-components-sized —
    * the same bounded model-class literal as the dedup bloom
    * prefilter; a mapping past the cap (a bulk backfill) FAILS LOUDLY
    * naming the from-scratch recompute path — no plan that ships the
    * mapping (IN literal or broadcast) is right at that size.
    */
  val DeltaPushdownMaxReps = 100000

  /** The MERGE-WRITE delta of [[clustersIncremental]]: only the rows a
    * batch ingest must upsert into the persisted label store — store
    * rows whose component merged (new label) plus never-seen nodes
    * (new rows). Re-applying the same batch yields an EMPTY delta
    * (idempotence, spec-pinned). The store-side probe is an INNER join
    * against the broadcast mapping, with the touched-representative
    * set ALSO pushed into the scan as an IN filter — on a
    * `cluster_id`-clustered store the probe then reads only the
    * touched files: output AND input are batch-scaled, never
    * corpus-scaled. A mapping over [[DeltaPushdownMaxReps]] (a bulk
    * backfill) throws — recompute from scratch instead (spec-pinned
    * at the cap boundary).
    */
  def clustersIncrementalDelta(store: DataFrame, batchEdges: DataFrame,
      maxHops: Int = MaintenanceMaxHops,
      maxReps: Int = DeltaPushdownMaxReps): DataFrame = {
    val spark = store.sparkSession
    import spark.implicits._
    val (newLabels, changed) = incrementalLabelCore(store, batchEdges, maxHops)
    val st = store.select($"doc_id", $"cluster_id")
    // changed is a filtered frozen-LogicalRDD scan — the bounded
    // collect costs one block scan, not a loop replay
    val reps = changed.select($"old_rep")
      .limit(maxReps + 1).collect().map(_.getLong(0))
    // past the cap the daily-batch contract is broken and EVERY plan
    // here is wrong — the IN pushdown would be a megabyte filter
    // literal and the broadcast mapping below would OOM the driver on
    // a components-scale backfill. The scaladoc has always said such
    // backfills recompute from scratch; enforce it the way erEnrich
    // caps its literal catalog: loudly, naming the right path.
    require(reps.length <= maxReps,
      s"clustersIncrementalDelta changed-mapping exceeds the pushdown cap" +
        s" ($maxReps merged components) — this is a bulk backfill, not a" +
        s" daily batch; recompute labels from scratch with clustersOver" +
        s" (or clusters) over base+batch instead")
    val probed = st.filter($"cluster_id".isInCollection(reps))
    probed.join(broadcast(changed), probed("cluster_id") === changed("old_rep"))
      .select(probed("doc_id"), $"new_rep".as("cluster_id"))
      .unionByName(newLabels)
      .orderBy($"doc_id")
  }

  /** Dedup APPLICATION: exact-duplicate keeper election (min doc_id
    * per content fingerprint) compacted into per-language kept/dropped
    * accounting — the report a pipeline emits after the dedup pass
    * actually removes rows. Keeper election is an aggregate + join
    * keyed by the fingerprint (data-scaled key), not a window.
    */
  def dedupApply(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val f = docs(spark, dir).select($"doc_id", $"lang", md5($"text").as("fp"))
    val keepers = f.groupBy($"fp").agg(min($"doc_id").as("keeper"))
    f.join(keepers, Seq("fp"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        count(when($"doc_id" === $"keeper", 1)).as("n_kept"))
      .withColumn("n_dropped", $"n_docs" - $"n_kept")
      .orderBy($"lang")
  }

  /** Incremental (cross-batch) exact dedup — the verb a production
    * pipeline runs daily: dedupe an INCOMING batch against the
    * persisted fingerprint STORE without rescanning history. `store`
    * is any frame with a `fingerprint` column (md5 of content);
    * `incoming` is a `(doc_id, text)` batch. Survivors are the batch's
    * novel documents — one keeper per fingerprint (min doc_id, the
    * [[exact]] election) whose content history has never seen — plus
    * the batch-internal multiplicity. The caller appends survivor
    * fingerprints to the store; [[incremental]] of the same batch
    * against the grown store is then empty (idempotence, spec-pinned).
    *
    * Scale shape: one fingerprint-keyed aggregate over the BATCH and
    * one anti-join against the store, both shuffling on the
    * fingerprint — the store is scanned, never re-deduplicated, so
    * daily cost is O(batch + store-probe), not O(corpus).
    */
  def incremental(store: DataFrame, incoming: DataFrame): DataFrame = {
    import incoming.sparkSession.implicits._
    val keepers = incoming
      .select($"doc_id", md5($"text").as("fingerprint"))
      .groupBy($"fingerprint")
      .agg(min($"doc_id").as("doc_id"), count(lit(1)).as("n_batch_dups"))
    keepers
      .join(store.select($"fingerprint"), Seq("fingerprint"), "left_anti")
      .select($"doc_id", $"fingerprint", $"n_batch_dups")
  }

  /** Replayed-id shifts for [[incrementalHalves]]'s synthetic
    * re-crawls (the testdata has no exact duplicates, so the surfaced
    * query manufactures deterministic ones both engines replay).
    */
  val RecrawlShift = 1000000L
  val BatchDupShift = 2000000L

  /** [[incremental]] surfaced for the oracle: even doc_ids are the
    * persisted history, odd doc_ids the incoming batch — salted with
    * two deterministic duplicate populations so both store-anti-join
    * and batch keeper election are exercised: every `doc_id % 10 = 0`
    * history doc re-arrives under a shifted id (a re-crawl → dropped
    * by the store), and every `doc_id % 20 = 1` batch doc arrives
    * twice (batch dup → keeper = the smaller id, n_batch_dups = 2).
    */
  def incrementalHalves(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d = docs(spark, dir).select($"doc_id", $"text")
    val store = d.filter($"doc_id" % 2 === 0).select(md5($"text").as("fingerprint"))
    val batch = d.filter($"doc_id" % 2 === 1)
      .unionAll(d.filter($"doc_id" % 10 === 0)
        .select(($"doc_id" + RecrawlShift).as("doc_id"), $"text"))
      .unionAll(d.filter($"doc_id" % 20 === 1)
        .select(($"doc_id" + BatchDupShift).as("doc_id"), $"text"))
    incremental(store, batch).orderBy($"doc_id")
  }

  /** Incremental NEAR-dup flagging: which incoming documents collide
    * with the historical minhash band store? History persists as
    * distinct `(band, band_key)` rows — [[NumHashes]]/[[BandSize]]
    * keys per doc, the same store the LSH self-join buckets on — and
    * the batch probes it with one semi-join. Output: each flagged
    * incoming doc with how many of its bands hit history (1–4; more
    * bands ≈ higher estimated Jaccard against something seen before).
    * Docs worth keeping are the absent ones. O(batch × 4) probe rows
    * against a store that only ever appends.
    */
  def incrementalNearDup(existingDocs: DataFrame, incomingDocs: DataFrame): DataFrame = {
    import incomingDocs.sparkSession.implicits._
    val store = bandKeysOf(existingDocs).select($"band", $"band_key").distinct()
    bandKeysOf(incomingDocs)
      .join(store, Seq("band", "band_key"), "left_semi")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bands_hit"))
      .orderBy($"doc_id")
  }

  /** [[incrementalNearDup]] surfaced for the oracle over the same
    * even-history / odd-batch split (12 of the corpus's minhash pairs
    * cross that parity at sf0.01, so the probe is non-vacuous).
    */
  def incrementalNearDupHalves(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d = docsWide(spark, dir).select($"doc_id", $"text")
    incrementalNearDup(d.filter($"doc_id" % 2 === 0), d.filter($"doc_id" % 2 === 1))
  }

  /** Bloom-filter geometry for [[bloomWords]] / [[bloomProbe]]
    * (mirrored in the oracle SQL). 2²⁰ bits in 32-bit words kept in
    * BIGINTs (bit 31 is the widest mask either engine has to shift —
    * `1L << 31` stays positive in both, so no sign-extension
    * divergence), [[BloomHashes]] = 4 probe positions read straight
    * off disjoint 5-hex (20-bit) slices of the md5 fingerprint — the
    * hash the store already carries, no second hash family needed. At
    * sf0.01's ~30k-fingerprint store the load gives ~10⁻⁴ false
    * positives; a production store sizes `BloomBits` to its n (the
    * formula is geometry-agnostic).
    */
  val BloomBits = 1 << 20
  val BloomWordBits = 32
  val BloomHashes = 4

  /** The 4 probe positions of one fingerprint — 20-bit ints, one per
    * disjoint 5-hex md5 slice.
    */
  private def bloomPositions(fp: String): Column =
    expr(s"""transform(sequence(0, ${BloomHashes - 1}),
        |  j -> CAST(conv(substr($fp, CAST(1 + 5 * j AS INT), 5), 16, 10) AS BIGINT))"""
      .stripMargin)

  /** Build the store's bloom bit-array: every fingerprint sets its
    * [[BloomHashes]] bits; words OR together map-side (bit_or has
    * partial aggregation), and the result is AT MOST 2²⁰/32 = 32768
    * `(word_idx, word)` rows — model-sized metadata, independent of
    * store cardinality, so the collect is the k-means/quantization
    * precedent, not a data collect. Cost: one map pass over the store
    * + one bounded-key aggregate — cheaper than the anti-join it
    * pre-filters, and build once / probe many batches.
    */
  def bloomWords(store: DataFrame): Array[Long] = {
    import store.sparkSession.implicits._
    val rows = store
      .select(explode(bloomPositions("fingerprint")).as("pos"))
      .select(expr(s"pos div $BloomWordBits").as("word_idx"),
        expr(s"shiftleft(CAST(1 AS BIGINT), CAST(pos % $BloomWordBits AS INT))").as("mask"))
      .groupBy($"word_idx")
      .agg(expr("bit_or(mask)").as("word"))
      .collect()
    val words = new Array[Long](BloomBits / BloomWordBits)
    rows.foreach(r => words(r.getLong(0).toInt) = r.getLong(1))
    words
  }

  /** Probe a batch against the store's bloom words — the SHUFFLE-FREE
    * prefilter in front of [[incremental]]'s anti-join: the bit array
    * rides into every task as one array literal (256 KB — a constant,
    * not a per-row structure) and the whole probe is a map-side
    * projection, so definite-new documents (any probe bit clear — the
    * bloom's no-false-negative guarantee, spec-pinned) skip the
    * store-probe shuffle entirely. Only the `maybe_seen` sliver —
    * true dups plus the ~10⁻⁴ false-positive tail — pays the exact
    * anti-join. At 100 TB that turns the daily-ingest dedup from
    * "shuffle the batch against the store" into "scan the batch, then
    * shuffle ~the duplicate rate of it".
    */
  /** The probe-count expression over a fingerprint column, expecting
    * the bit array bound as an array column named `__bloom` — shared
    * by [[bloomProbe]] and the streaming ingest twin so the two paths
    * cannot drift.
    */
  private[graft] def bloomHitSql(fpCol: String): String =
    s"""aggregate(transform(sequence(0, ${BloomHashes - 1}),
       |    j -> CAST(conv(substr($fpCol, CAST(1 + 5 * j AS INT), 5), 16, 10) AS BIGINT)),
       |  CAST(0 AS BIGINT),
       |  (acc, p) -> acc + CASE WHEN
       |      (element_at(__bloom, CAST(p div $BloomWordBits AS INT) + 1)
       |        & shiftleft(CAST(1 AS BIGINT), CAST(p % $BloomWordBits AS INT))) != 0
       |    THEN 1 ELSE 0 END)""".stripMargin

  def bloomProbe(words: Array[Long], incoming: DataFrame): DataFrame = {
    import incoming.sparkSession.implicits._
    incoming
      .select($"doc_id", md5($"text").as("fingerprint"))
      .withColumn("__bloom", lit(words))
      .withColumn("n_bits_hit", expr(bloomHitSql("fingerprint")))
      .withColumn("maybe_seen", $"n_bits_hit" === lit(BloomHashes.toLong))
      .select($"doc_id", $"n_bits_hit", $"maybe_seen")
  }

  /** [[bloomProbe]] surfaced for the oracle over [[incrementalHalves]]'s
    * split: even doc_ids are the fingerprint store, the batch is the
    * odd docs (mostly novel) plus every `doc_id % 10 = 0` history doc
    * re-arriving under a shifted id (a re-crawl — IS in the store, so
    * the bloom MUST flag it; false negatives are impossible by
    * construction and the spec cross-checks against ground truth).
    */
  def bloomHalves(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d = docs(spark, dir).select($"doc_id", $"text")
    val store = d.filter($"doc_id" % 2 === 0).select(md5($"text").as("fingerprint"))
    val batch = d.filter($"doc_id" % 2 === 1)
      .unionAll(d.filter($"doc_id" % 10 === 0)
        .select(($"doc_id" + RecrawlShift).as("doc_id"), $"text"))
    bloomProbe(bloomWords(store), batch).orderBy($"doc_id")
  }

  /** Chunk width (words) for [[chunkDedup]]. */
  val ChunkWords = 20

  /** Cross-document chunk-level dedup (the CCNet/RefinedWeb line-dedup
    * analog for newline-free corpora): every document is cut into
    * fixed [[ChunkWords]]-word chunks, each chunk fingerprinted, and a
    * chunk counts as duplicated when its fingerprint occurs in MORE
    * THAN ONE document. Per-doc output: chunk count, duplicated-chunk
    * count, and the ratio a repetition filter would threshold on.
    *
    * Scale shape: explode → two-stage count keyed by FINGERPRINT
    * (cardinality grows with the corpus — never a bounded-domain key)
    * → the >1-doc fingerprint set joins back by fingerprint. Three
    * shuffles, all on the high-cardinality hash; no per-row O(n²)
    * array work, no driver-side state.
    */
  def chunkDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ch = docs(spark, dir)
      .select($"doc_id", split($"text", " ").as("t"))
      .select($"doc_id", explode(expr(
        s"""transform(sequence(0, CAST(ceil(size(t) / $ChunkWords.0) AS BIGINT) - 1),
           |  i -> md5(array_join(slice(t, CAST(i * $ChunkWords + 1 AS INT), $ChunkWords), ' ')))"""
          .stripMargin)).as("fp"))
    val dup = ch.groupBy($"fp").agg(countDistinct($"doc_id").as("c"))
      .filter($"c" > 1)
      .select($"fp", lit(1).as("__m"))
    ch.join(dup, Seq("fp"), "left")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        count($"__m").as("n_dup_chunks"))
      .withColumn("dup_chunk_ratio", $"n_dup_chunks" * lit(1.0) / $"n_chunks")
      .orderBy($"doc_id")
  }

  /** The chunk-dedup APPLY pass (what RefinedWeb actually ships):
    * every corpus-duplicated chunk survives ONLY at its first
    * occurrence (min doc_id, then min idx within that doc — a
    * deterministic keeper election mirroring [[dedupApply]]), and each
    * document is rebuilt from its surviving chunks in order. Output is
    * the per-doc compaction record: total chunks, kept chunks, and the
    * MD5 of the rebuilt text (a doc whose every chunk went elsewhere
    * rebuilds to the empty string).
    *
    * Scale shape: two keeper aggregations and the join back all key on
    * the chunk FINGERPRINT (corpus-scaled); the rebuild sorts only
    * each doc's own ≤(len/ChunkWords) chunks inside its aggregated
    * array — no window, no bounded-domain key anywhere.
    */
  def chunkDedupApply(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val occ = docs(spark, dir)
      .select($"doc_id", split($"text", " ").as("t"))
      .select($"doc_id", posexplode(expr(
        s"""transform(sequence(0, CAST(ceil(size(t) / $ChunkWords.0) AS BIGINT) - 1),
           |  i -> array_join(slice(t, CAST(i * $ChunkWords + 1 AS INT), $ChunkWords), ' '))"""
          .stripMargin)).as(Seq("idx", "chunk")))
      .withColumn("fp", md5($"chunk"))
    val kd = occ.groupBy($"fp").agg(min($"doc_id").as("kd"))
      .withColumnRenamed("fp", "kfp")
    val ki = occ.join(kd, $"fp" === $"kfp" && $"doc_id" === $"kd")
      .groupBy($"fp", $"doc_id").agg(min($"idx").as("ki"))
      .select($"fp".as("ifp"), $"doc_id".as("ido"), $"ki")
    val kept = occ.join(ki, $"fp" === $"ifp" && $"doc_id" === $"ido" && $"idx" === $"ki")
      .select($"doc_id", $"idx", $"chunk")
    val tot = occ.groupBy($"doc_id").agg(count(lit(1)).as("n_chunks"))
    val rebuilt = kept.groupBy($"doc_id")
      .agg(count(lit(1)).as("n_kept"),
        md5(array_join(
          expr("transform(array_sort(collect_list(struct(idx, chunk))), x -> x.chunk)"),
          " ")).as("clean_md5"))
    tot.join(rebuilt, Seq("doc_id"), "left")
      .select($"doc_id", $"n_chunks",
        coalesce($"n_kept", lit(0L)).as("n_kept"),
        coalesce($"clean_md5", md5(lit(""))).as("clean_md5"))
      .orderBy($"doc_id")
  }

  /** Cluster-size distribution over the near-dup graph — the shape
    * report a dedup run is judged by (a giant component means the
    * threshold is too loose; all-singletons means it found nothing):
    * per cluster size, how many clusters and how many documents. Two
    * tiny aggregates over [[clusters]]' labels; the iterative CC pass
    * dominates, the histogram is free.
    */
  def clusterSizes(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    clusterLabelsLayout(spark, dir)
      .groupBy($"cluster_id").agg(count(lit(1)).as("cluster_size"))
      .groupBy($"cluster_size")
      .agg(count(lit(1)).as("n_clusters"),
        sum($"cluster_size").as("n_docs"))
      .orderBy($"cluster_size")
  }

  /** Per-source duplication-rate report — the "which source is
    * flooding us with copies" table that decides crawl budgets: per
    * source, docs vs distinct content fingerprints and the exact-ppm
    * duplicate share. One keyed aggregate; fingerprints map-side.
    */
  def dupRateBySource(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    docs(spark, dir)
      .select($"source", md5($"text").as("fp"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), countDistinct($"fp").as("n_distinct"))
      .withColumn("dup_ppm",
        expr("CAST(n_docs - n_distinct AS DECIMAL(19,0)) * 1000000 div n_docs"))
      .orderBy($"source")
  }

  /** Cross-SOURCE duplication matrix — "who copies whom": for every
    * source pair, how many distinct [[ChunkWords]]-word chunk
    * fingerprints they share (exact-doc overlap is usually zero across
    * crawls — boilerplate and syndicated passages travel as chunks,
    * the granularity [[chunkDedup]] already fingerprinted). The
    * provenance table a crawl review reads before deciding which
    * source to drop. Shape: distinct (source, fp) presence roster →
    * fp-keyed self-join (data-scaled key; a chunk in s sources yields
    * ≤ s²/2 pairs, bounded by the source-count domain) → one bounded
    * aggregate.
    */
  def crossSourceDup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val f = docs(spark, dir)
      .select($"source", split($"text", " ").as("t"))
      .select($"source", explode(expr(
        s"""transform(sequence(0, CAST(ceil(size(t) / $ChunkWords.0) AS BIGINT) - 1),
           |  i -> md5(array_join(slice(t, CAST(i * $ChunkWords + 1 AS INT), $ChunkWords), ' ')))"""
          .stripMargin)).as("fp"))
      .distinct()
    f.as("a").join(f.as("b"),
        col("a.fp") === col("b.fp") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_shared_chunks"))
      .orderBy($"source_a", $"source_b")
  }

  /** Documents that must share a chunk before it counts as boilerplate
    * for [[boilerplateStrip]].
    */
  val BoilerplateDf = 3

  /** Cross-document BOILERPLATE removal — the CCNet/RefinedWeb pass
    * that [[chunkDedupApply]] is not: chunk-dedup keeps a duplicated
    * chunk's FIRST occurrence (content worth one copy), while
    * boilerplate (headers, footers, cookie banners) appearing in
    * ≥ [[BoilerplateDf]] distinct documents should survive NOWHERE.
    * Every chunk whose fingerprint reaches the document-frequency
    * threshold is dropped from all documents; each document is rebuilt
    * from its surviving chunks in order. Per-doc output: total chunks,
    * kept chunks, and the rebuilt text's md5.
    *
    * Scale shape: the df aggregate and the anti-join back both key on
    * the chunk FINGERPRINT (corpus-scaled); the common set is the df
    * tail (tiny relative to the corpus) but the anti-join stays keyed,
    * not broadcast, so a pathological corpus that is all boilerplate
    * still executes. The rebuild sorts only each doc's own chunks
    * inside its aggregated array — no window anywhere.
    */
  def boilerplateStrip(spark: SparkSession, dir: String,
      minDf: Int = BoilerplateDf): DataFrame = {
    import spark.implicits._
    val occ = docs(spark, dir)
      .select($"doc_id", split($"text", " ").as("t"))
      .select($"doc_id", posexplode(expr(
        s"""transform(sequence(0, CAST(ceil(size(t) / $ChunkWords.0) AS BIGINT) - 1),
           |  i -> array_join(slice(t, CAST(i * $ChunkWords + 1 AS INT), $ChunkWords), ' '))"""
          .stripMargin)).as(Seq("idx", "chunk")))
      .withColumn("fp", md5($"chunk"))
    val common = occ.groupBy($"fp")
      .agg(countDistinct($"doc_id").as("df"))
      .filter($"df" >= minDf)
      .select($"fp")
    val kept = occ.join(common, Seq("fp"), "left_anti")
    val tot = occ.groupBy($"doc_id").agg(count(lit(1)).as("n_chunks"))
    val rebuilt = kept.groupBy($"doc_id")
      .agg(count(lit(1)).as("n_kept"),
        md5(array_join(
          expr("transform(array_sort(collect_list(struct(idx, chunk))), x -> x.chunk)"),
          " ")).as("clean_md5"))
    tot.join(rebuilt, Seq("doc_id"), "left")
      .select($"doc_id", $"n_chunks",
        coalesce($"n_kept", lit(0L)).as("n_kept"),
        coalesce($"clean_md5", md5(lit(""))).as("clean_md5"))
      .orderBy($"doc_id")
  }

  /** (doc_a, doc_b, intersection, na, nb) for every ordered doc pair
    * sharing ≥1 kept shingle, over an arbitrary `(doc_id, text)`
    * frame — the posting-list pair core both [[ngramJaccard]] and
    * [[containment]] score.
    *
    * Pair generation goes through posting lists (shingle → sorted doc
    * ids → in-row pair expansion) rather than a self-join: one
    * shuffle on shingle instead of two, and single-document shingles
    * (the vast majority) are dropped before any pair exists. Skewed
    * postings (boilerplate shingles) are the quadratic hazard at
    * scale — [[MaxShingleDf]] caps them; AQE splits what remains.
    *
    * Since r11 the surfaced consumers do not call this per query:
    * [[shinglePairLayout]] materializes it once per (session, fixture)
    * and they share the scan.
    */
  private[graft] def shinglePairCounts(d: DataFrame): DataFrame = {
    import d.sparkSession.implicits._
    val toks = tokenizedOf(d)
    // posting key = the shingle's md5 prefix as a 60-bit integer: an
    // 8-byte shuffle/agg key instead of a 20-40 byte string. A key
    // collision would merge two shingles' postings — deterministically
    // and IDENTICALLY in the DuckDB oracle (same md5 arithmetic), so
    // results still hash-match; at 2^60 key space the corpus-level
    // collision odds are ~10^-5. Since r9 the scan step is the native
    // graft_shingle_keys kernel (one pass, no HOF shingle array);
    // DedupDifferentialSpec pins it to the expression twin
    // [[shingleKeysHof]].
    val sh = toks.select($"doc_id",
      explode(graft.plans.ArrayExpressions.shingleKeys($"t")).as("sk"))
    // per-doc shingle counts from the same kernel output (distinct
    // shingle strings == kernel array length by construction)
    val sizes = toks.select($"doc_id",
      size(graft.plans.ArrayExpressions.shingleKeys($"t")).cast("long").as("n"))
    val pairs = sh
      .groupBy($"sk")
      .agg(sort_array(collect_list($"doc_id")).as("ds"))
      .filter(size($"ds").between(2, MaxShingleDf))
      .select(explode(expr(
        """flatten(transform(sequence(0, size(ds) - 2),
          |  i -> transform(slice(ds, i + 2, size(ds) - i - 1),
          |       x -> struct(ds[i] AS doc_a, x AS doc_b))))""".stripMargin)).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"))
    pairs
      .groupBy($"doc_a", $"doc_b")
      .agg(count(lit(1)).as("intersection"))
      .join(sizes.as("sa"), $"doc_a" === col("sa.doc_id"))
      .join(sizes.as("sb"), $"doc_b" === col("sb.doc_id"))
      .select($"doc_a", $"doc_b", $"intersection",
        col("sa.n").as("na"), col("sb.n").as("nb"))
  }

  /** The shingle posting pair core over the BASE corpus as the third
    * derive-once session layout (the span-pair and minhash-LSH
    * precedents, [[graft.engine.Layouts.layoutOnce]]): the tokenize →
    * shingle-kernel → posting-list → pair-expansion → count shuffle
    * runs once per (session, fixture) and [[ngramJaccard]] plus
    * [[lshRecall]]'s truth side read the range-clustered scan. The
    * relation is a deterministic function of the fixture, so a hit is
    * row-identical to re-derivation (DedupDifferentialSpec).
    * [[shinglePairLayoutExcerpts]] is the excerpt-AUGMENTED twin
    * [[containmentExcerpts]] reads — a separate materialization, not a
    * filter of this one, because the excerpt docs join the posting
    * lists (the df cap and intersections see them), so the two
    * relations differ by construction, not just by a predicate.
    */
  private[graft] def shinglePairLayout(spark: SparkSession, dir: String): DataFrame =
    graft.engine.Layouts.layoutOnce(spark, "shingle-pairs", dir, "doc_a")(
      shinglePairCounts(docs(spark, dir)))

  /** Exact n-gram Jaccard over the inverted shingle index: only pairs
    * sharing ≥1 shingle are materialised (never n²), then filtered to
    * the near-dup threshold. Scale shape: [[shinglePairCounts]],
    * served from [[shinglePairLayout]].
    */
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    shinglePairLayout(spark, dir)
      .select($"doc_a", $"doc_b", $"intersection",
        ($"intersection" * lit(1.0) / ($"na" + $"nb" - $"intersection")).as("jaccard"))
      .filter($"jaccard" >= 0.5)
      .orderBy($"doc_a", $"doc_b")
  }

  /** Id shift for [[intradocDup]]'s planted self-repeating docs. */
  val IntraDupShift = 7000000L

  /** INTRA-document chunk repetition — the within-doc twin of
    * [[chunkDedup]]: per document, how many of its [[ChunkWords]]-word
    * chunks are repeats of an earlier chunk IN THE SAME DOC (scraped
    * pages that loop their own navigation/footer, generation artifacts
    * that stutter paragraphs — [[TextAnalysis.repetition]] sees words
    * and bigrams; this sees whole passages). A PURE PROJECTION: the
    * chunk fingerprints, their count, and the distinct count are all
    * per-row array arithmetic — zero shuffle at any corpus size, the
    * cheapest possible scale shape. The word-soup corpus self-repeats
    * only by planting, so every 15th doc re-enters with its own first
    * chunk prepended (chunk-grid-aligned by construction — both
    * engines replay it).
    */
  def intradocDup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d = docs(spark, dir).select($"doc_id", split($"text", " ").as("t"))
    val planted = d.filter($"doc_id" % 15 === 7 && size($"t") >= ChunkWords)
      .select(($"doc_id" + IntraDupShift).as("doc_id"),
        concat(slice($"t", 1, ChunkWords), $"t").as("t"))
    d.unionAll(planted)
      .select($"doc_id", expr(
        s"""transform(sequence(0, CAST(ceil(size(t) / $ChunkWords.0) AS BIGINT) - 1),
           |  i -> md5(array_join(slice(t, CAST(i * $ChunkWords + 1 AS INT), $ChunkWords), ' ')))"""
          .stripMargin).as("fps"))
      .select($"doc_id", size($"fps").cast("long").as("n_chunks"),
        (size($"fps") - size(array_distinct($"fps"))).cast("long").as("n_dup_chunks"))
      .orderBy($"doc_id")
  }

  /** LSH RECALL report — measure the near-dup index before trusting
    * it: a deterministic 1-in-[[RecallSampleMod]] sample of the
    * exact-Jaccard ≥ 0.5 pairs ([[ngramJaccard]]'s truth set) is
    * probed against the banded MinHash candidate set
    * ([[minhashLsh]]), bucketed by exact-Jaccard decile — the integer
    * `(10·∩) div ∪`, so no IEEE boundary decides a bucket — and each
    * decile reports truth-pair count, candidates hit, and recall ppm.
    * The 4-band×4-row S-curve promises weak recall near the 0.5
    * threshold and near-certain recall at 1.0; this query turns that
    * promise into a measured table (the tuning loop for bands×rows
    * that every production LSH deployment runs). Scale shape: both
    * sides are the existing bounded pair cores (df-capped posting
    * lists, saturation-capped band buckets); the probe is one
    * pair-keyed left join + a ≤6-row aggregate. The ppm passes
    * through DECIMAL before the ×10⁶ against BIGINT wrap.
    */
  def lshRecall(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // deterministic 1-in-RecallSampleMod hash-sample of the truth
    // pairs (r8 advice): a recall ESTIMATE is the production posture —
    // the full truth set scales with the corpus's duplicate density
    // (this fixture's regeneration grew it 10×), where a hash-sample
    // bounds the probe at any corpus. Content-keyed (md5 of the pair
    // ids), so rerun-stable and engine-identical; per-decile recall
    // stays unbiased because the sample key is independent of the
    // Jaccard value. The predicate depends only on the PAIR KEY, so
    // filtering the already-aggregated [[shinglePairLayout]] scan is
    // row-identical to the pre-aggregate pushdown this query ran
    // before r11 — and the full pair shuffle is now paid once per
    // session (ngramJaccard needs the unsampled relation anyway)
    // instead of once more here.
    val sampleKeep = expr(
      s"conv(substr(md5(concat(doc_a, ':', doc_b)), 4, 1), 16, 10)" +
        s" % $RecallSampleMod = 0")
    val truth = shinglePairLayout(spark, dir).filter(sampleKeep)
      .filter($"intersection" * 2 >= $"na" + $"nb" - $"intersection")
      .select($"doc_a", $"doc_b",
        expr("(intersection * 10) div (na + nb - intersection)").as("jac_decile"))
    val cand = minhashLsh(spark, dir)
      .select($"doc_a", $"doc_b", lit(1L).as("hit"))
    truth.join(cand, Seq("doc_a", "doc_b"), "left")
      .groupBy($"jac_decile")
      .agg(count(lit(1)).as("n_true"), sum(coalesce($"hit", lit(0L))).as("n_hit"))
      .withColumn("recall_ppm",
        expr("CAST((CAST(n_hit AS DECIMAL(38,0)) * 1000000) div n_true AS BIGINT)"))
      .orderBy($"jac_decile")
  }

  /** Id shifts for [[cascade]]'s planted duplicate populations
    * (verbatim copies, case/punctuation noise).
    */
  val CascadeExactShift = 7000000L
  val CascadeCaseShift = 8000000L

  /** The cascade's two content fingerprints over a `(doc_id, text)`
    * frame — raw md5 (`fp`, the exact stage's key) and md5 of the
    * [[TextAnalysis.normalizedText]] form (`nfp`, the normalized
    * stage's). The single definition the batch [[cascade]] and the
    * streaming cascade-store maintainer share: a doc fingerprinted at
    * ingest MUST carry the same keys a batch recompute would give it.
    */
  private[graft] def fingerprintsOf(d: DataFrame): DataFrame =
    d.withColumn("fp", md5(col("text")))
      .withColumn("nfp", md5(TextAnalysis.normalizedText(col("text"))))

  /** DEDUP CASCADE attribution — the provenance table a production
    * dedup pipeline emits: every doc, the FIRST stage that would drop
    * it (exact → normalized → near), and the keeper that replaces it.
    * Attribution is by PRIORITY over the full corpus rather than
    * sequential survivor recomputation — equivalent here because an
    * exact-duplicate group shares every downstream fingerprint, so
    * its members can only ever map to the same keepers the sequential
    * pipeline would pick (min doc_id is the base original in every
    * group), and it keeps each stage one independent fingerprint-
    * keyed aggregate instead of a chain of anti-join barriers.
    *
    * The raw fixture has no exact or case-noise dups, so the surfaced
    * query plants both deterministically (the [[normalizedDedup]]
    * convention, fresh id shifts): every 20th doc (mod 3) re-arrives
    * verbatim, every 20th (mod 5) uppercased with trailing
    * punctuation. The near stage is the REAL corpus minhash cluster
    * relation ([[clusters]]); planted docs never reach it — their
    * earlier fingerprints catch them first.
    *
    * Scale shape: two fingerprint-keyed aggregates (md5 and
    * normalized md5), the existing cluster labels, and doc-keyed
    * joins — no new shuffle class beyond [[exact]] + [[clusters]].
    */
  def cascade(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = docs(spark, dir).select($"doc_id", $"text")
    val corpus = base
      .unionAll(base.filter($"doc_id" % 20 === 3)
        .select(($"doc_id" + CascadeExactShift).as("doc_id"), $"text"))
      .unionAll(base.filter($"doc_id" % 20 === 5)
        .select(($"doc_id" + CascadeCaseShift).as("doc_id"),
          concat(upper($"text"), lit(" !!")).as("text")))
      .transform(fingerprintsOf)
      // materialize: consumed by BOTH keeper elections and the final
      // join — unmaterialized, the normalized-md5 projection (two
      // regex passes over every payload) would run three times.
      // localCheckpoint, not cache: checkpoint RDDs are GC-reclaimed
      // once unreferenced where CacheManager pins a cache() for the
      // rest of the session
      .localCheckpoint()
    val ex = corpus.groupBy($"fp").agg(min($"doc_id").as("ek"))
    val nx = corpus.groupBy($"nfp").agg(min($"doc_id").as("nk"))
    val labels = clusterLabelsLayout(spark, dir).select($"doc_id", $"cluster_id")
    cascadeOver(corpus, ex, nx, labels).orderBy($"doc_id")
  }

  /** The cascade's PRIORITY-attribution core over pre-computed
    * inputs: `corpus` = `(doc_id, fp, nfp)` fingerprinted docs, `ex` =
    * `(fp, ek)` exact-keeper election, `nx` = `(nfp, nk)` normalized
    * keepers, `labels` = `(doc_id, cluster_id)` near-dup component
    * labels (docs absent from it are un-clustered → kept). Shared by
    * the batch face above and the streaming-served
    * [[graft.streaming.EventStreams.readCascadeVerdicts]], whose
    * keeper elections FOLD out of per-batch minima (min composes, so
    * a store of batch-local keeper rows merges to the global
    * election) and whose labels come off the maintained label store.
    */
  private[graft] def cascadeOver(corpus: DataFrame, ex: DataFrame,
      nx: DataFrame, labels: DataFrame): DataFrame = {
    import corpus.sparkSession.implicits._
    corpus
      .join(ex, Seq("fp"))
      .join(nx, Seq("nfp"))
      .join(labels.select($"doc_id", $"cluster_id"), Seq("doc_id"), "left")
      .select($"doc_id",
        when($"doc_id" =!= $"ek", "exact")
          .when($"doc_id" =!= $"nk", "normalized")
          .when($"cluster_id".isNotNull && $"cluster_id" =!= $"doc_id", "near")
          .otherwise("kept").as("stage"),
        when($"doc_id" =!= $"ek", $"ek")
          .when($"doc_id" =!= $"nk", $"nk")
          .when($"cluster_id".isNotNull && $"cluster_id" =!= $"doc_id", $"cluster_id")
          .otherwise($"doc_id").as("keeper_id"))
  }

  /** [[cascade]] rolled up to the data-card row: per stage the doc
    * count and whitespace-token mass the stage removes (or keeps) —
    * the one-table answer to "how much does each dedup layer buy us".
    * Token counts ride the cascade's own corpus (planted rows
    * included), so the stage masses sum to the corpus total —
    * spec-pinned. Bounded 4-row output; one extra keyed aggregate
    * over the cascade relation.
    */
  /** [[cascade]]'s per-doc attribution as a derive-once session
    * layout — the stage verdicts are a once-per-snapshot artifact;
    * [[cascadeStats]] rolls them up without re-running the three
    * election passes. `dedup_cascade` stays live (its bench entry
    * measures the cascade's true cost).
    */
  private[graft] def cascadeLayout(spark: SparkSession, dir: String): DataFrame =
    graft.engine.Layouts.layoutOnce(spark, "cascade", dir, "doc_id", files = 4)(
      cascade(spark, dir))

  def cascadeStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = docs(spark, dir).select($"doc_id", $"text")
    val corpus = base
      .unionAll(base.filter($"doc_id" % 20 === 3)
        .select(($"doc_id" + CascadeExactShift).as("doc_id"), $"text"))
      .unionAll(base.filter($"doc_id" % 20 === 5)
        .select(($"doc_id" + CascadeCaseShift).as("doc_id"),
          concat(upper($"text"), lit(" !!")).as("text")))
      .select($"doc_id", size(split($"text", " ")).cast("long").as("n_tok"))
    cascadeLayout(spark, dir).join(corpus, Seq("doc_id"))
      .groupBy($"stage")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("n_tokens"))
      .orderBy($"stage")
  }

  /** Id shift and width for [[containmentExcerpts]]'s synthetic
    * quote docs.
    */
  val ExcerptShift = 3000000L
  val ExcerptWords = 12

  /** Id shifts for [[normalizedDedup]]'s two synthetic noise
    * populations (case/punctuation noise, whitespace noise).
    */
  val CaseNoiseShift = 4000000L
  val SpaceNoiseShift = 5000000L

  /** Exact dedup keyed on the NORMALIZED text
    * ([[TextAnalysis.normalizedText]]): case, punctuation, and
    * whitespace noise collapse onto one fingerprint — what raw-md5
    * dedup ([[exact]]) structurally misses (scrapes of the same page
    * differ in exactly this way). Per normalized fingerprint: member
    * count, how many DISTINCT raw forms merged, and the keeper.
    * Same scale shape as [[exact]] — one fingerprint-keyed aggregate,
    * the normalizer is a pure projection.
    *
    * The corpus is already lowercase word soup, so the surfaced query
    * plants deterministic noise both engines replay: every 20th doc
    * (mod 3) re-arrives uppercased with trailing punctuation, every
    * 20th (mod 5) with doubled spaces.
    */
  def normalizedDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d = docs(spark, dir).select($"doc_id", $"text")
    val cased = d.filter($"doc_id" % 20 === 3)
      .select(($"doc_id" + CaseNoiseShift).as("doc_id"),
        expr("concat(upper(text), ' !!')").as("text"))
    val spaced = d.filter($"doc_id" % 20 === 5)
      .select(($"doc_id" + SpaceNoiseShift).as("doc_id"),
        expr("replace(text, ' ', '  ')").as("text"))
    d.unionAll(cased).unionAll(spaced)
      .select($"doc_id", md5($"text").as("raw_fp"),
        md5(TextAnalysis.normalizedText($"text")).as("fingerprint"))
      .groupBy($"fingerprint")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct($"raw_fp").as("n_raw_forms"),
        min($"doc_id").as("keeper_doc_id"))
      .orderBy($"fingerprint")
  }

  /** Containment threshold shared with the oracle. */
  val ContainmentThreshold = 0.8

  /** ASYMMETRIC n-gram containment — |A∩B| / min(|A|,|B|) — the quote/
    * excerpt detector Jaccard structurally misses: a 12-word excerpt
    * inside a 60-word source has containment 1.0 but Jaccard ≈ 0.2,
    * far below any near-dup threshold. Emits both scores per pair so
    * the asymmetry is visible. Same posting-list scale shape as
    * [[ngramJaccard]] ([[shinglePairCounts]] — never n², df-capped).
    */
  def containment(d: DataFrame, threshold: Double = ContainmentThreshold): DataFrame =
    containmentOver(shinglePairCounts(d), threshold)

  /** Score + threshold over an already-built pair-counts relation —
    * the seam that lets [[containmentExcerpts]] serve from its session
    * layout while [[containment]] stays generic over arbitrary frames.
    */
  private def containmentOver(pairCounts: DataFrame, threshold: Double): DataFrame = {
    import pairCounts.sparkSession.implicits._
    pairCounts
      .select($"doc_a", $"doc_b", $"intersection",
        ($"intersection" * lit(1.0) / least($"na", $"nb")).as("containment"),
        ($"intersection" * lit(1.0) / ($"na" + $"nb" - $"intersection")).as("jaccard"))
      .filter($"containment" >= threshold)
      .orderBy($"doc_a", $"doc_b")
  }

  /** [[containment]] surfaced for the oracle: the corpus plus a
    * synthetic [[ExcerptWords]]-word prefix excerpt of every 25th
    * document (the testdata's planted near-dups are FULL duplicates,
    * so containment alone would re-find the Jaccard pairs — the
    * excerpts manufacture the contained-but-not-similar population
    * both engines replay).
    */
  def containmentExcerpts(spark: SparkSession, dir: String): DataFrame =
    containmentOver(shinglePairLayoutExcerpts(spark, dir), ContainmentThreshold)

  /** The excerpt-augmented corpus [[containmentExcerpts]] scores —
    * base docs plus the planted prefix excerpts (deterministic, both
    * engines replay it).
    */
  private[graft] def excerptFrame(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d = docs(spark, dir).select($"doc_id", $"text")
    val excerpts = d.filter($"doc_id" % 25 === 0)
      .select(($"doc_id" + ExcerptShift).as("doc_id"),
        expr(s"array_join(slice(split(text, ' '), 1, $ExcerptWords), ' ')").as("text"))
    d.unionAll(excerpts)
  }

  /** [[shinglePairLayout]]'s excerpt-augmented twin (see its scaladoc
    * for why this is a separate materialization).
    */
  private[graft] def shinglePairLayoutExcerpts(spark: SparkSession, dir: String): DataFrame =
    graft.engine.Layouts.layoutOnce(spark, "shingle-pairs-x", dir, "doc_a")(
      shinglePairCounts(excerptFrame(spark, dir)))

  /** Embedding-cosine near-dup: candidate pairs from the sign-bucket
    * LSH (the scale path — the bucket join replaces the n² cross
    * product), scored with the native codegen dot product, kept above
    * the similarity threshold. Cosines are rounded to 6 dp for
    * cross-engine rank/compare stability.
    */
  /** Threshold shared by embeddingCosine and its oracle SQL — a caller
    * overriding the parameter diverges from `oracle` by design (the
    * oracle documents the SparkEntry-exposed default query only).
    */
  val EmbeddingCosineThreshold: Double = 0.35

  /** Sign-LSH bucket width for [[embeddingCosine]]. 2^bits buckets —
    * raise it as the corpus grows so each bucket's self-join stays
    * executor-sized (see `Similarity.LshBucketBits` for the recall
    * recipe); the oracle documents the default.
    */
  val EmbeddingLshBits = 8

  /** Bucket-equijoin `left` (possibly probe-expanded) against the full
    * embedding frame and keep cosine-scored pairs above the threshold —
    * the shared tail of both embedding near-dup variants.
    */
  private def bucketScoredPairs(left: DataFrame, e: DataFrame,
      threshold: Double): DataFrame = {
    import left.sparkSession.implicits._
    left.as("a")
      .join(e.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        round(graft.plans.ArrayExpressions.dot(col("a.emb"), col("b.emb"))
          / (col("a.nrm") * col("b.nrm")), 6).as("cos"))
      .filter($"cos" >= threshold)
      .orderBy($"vec_a", $"vec_b")
  }

  def embeddingCosine(spark: SparkSession, dir: String,
      threshold: Double = EmbeddingCosineThreshold,
      bits: Int = EmbeddingLshBits): DataFrame = {
    val e = Similarity.embWithBucket(spark, dir, bits)
    bucketScoredPairs(e, e, threshold)
  }

  /** Multi-probe variant of [[embeddingCosine]]: one join side expands
    * to its bucket plus all hamming-1 buckets, so near-dup pairs whose
    * sign patterns differ in a single borderline dimension (the common
    * LSH miss) are recovered. Hamming-1 adjacency is symmetric and a
    * vector lives in exactly one bucket, so every pair within distance
    * 1 is matched exactly once — no dedup pass needed. The recall
    * recipe at scale: raise `bits` to shrink buckets, probe to keep
    * recall.
    */
  def embeddingCosineMultiProbe(spark: SparkSession, dir: String,
      threshold: Double = EmbeddingCosineThreshold,
      bits: Int = EmbeddingLshBits): DataFrame = {
    import spark.implicits._
    import graft.functions.Vectors
    val e = Similarity.embWithBucket(spark, dir, bits)
    val probed = e.select($"vec_id", $"emb", $"nrm",
      explode(Vectors.probeBuckets($"bucket", bits)).as("bucket"))
    bucketScoredPairs(probed, e, threshold)
  }

  /** Connected components over the embedding near-dup graph — the
    * clustering step of the EMBEDDING dedup pipeline, [[clusters]]'
    * text twin: [[embeddingCosine]] pairs become edges, labels
    * propagate through the shared [[clustersOver]] core, cluster_id =
    * min vec_id in the component, keeper = the minimum. Same scale
    * shape: control-only hop loop over the post-LSH edge relation.
    */
  /** STREAMING cosine-LSH probe — [[lshProbeEdges]]' embedding twin:
    * the near-dup edges one ingested VECTOR batch adds against a
    * persisted `(vec_id, emb, nrm, bucket)` store
    * ([[Similarity.embWithBucketOf]] rows; the maintainer writes the
    * batch's own rows before probing, so batch-internal pairs fall
    * out of the same join). Mirrors [[embeddingCosine]] piecewise:
    * single sign-bucket equality, exact cosine ≥ `threshold` on the
    * matched rows (rounded to the 6-dp comparator convention). The
    * store pass is a MAP-SIDE SCAN — the batch's distinct buckets
    * broadcast into the join; everything downstream is bucket-bounded
    * batch work.
    */
  private[graft] def embProbeEdges(storeVecs: DataFrame, batchVecs: DataFrame,
      threshold: Double = EmbeddingCosineThreshold): DataFrame = {
    val spark = storeVecs.sparkSession
    import spark.implicits._
    // the sign-bucket domain is only 2^EmbeddingLshBits, so a diverse
    // batch's keys can select most of the store — the probe must stay
    // a pure STREAMED scan, never a materialization (r13 review fix).
    // The b side is the batch's own rows (present in the store by the
    // write-then-probe contract), so the store is scanned exactly once
    // and nothing store-sized is checkpointed per micro-batch.
    val keys = batchVecs.select($"bucket").distinct()
    val matched = storeVecs.join(broadcast(keys), Seq("bucket"))
    matched.as("a")
      .join(batchVecs.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") =!= col("b.vec_id"))
      .select(
        least(col("a.vec_id"), col("b.vec_id")).as("vec_a"),
        greatest(col("a.vec_id"), col("b.vec_id")).as("vec_b"),
        round(graft.plans.ArrayExpressions.dot(col("a.emb"), col("b.emb"))
          / (col("a.nrm") * col("b.nrm")), 6).as("cos"))
      .dropDuplicates("vec_a", "vec_b")
      .filter($"cos" >= threshold)
      .select($"vec_a".as("src"), $"vec_b".as("dst"))
  }

  def embeddingClusters(spark: SparkSession, dir: String,
      maxHops: Int = ClusterMaxHops): DataFrame = {
    import spark.implicits._
    clustersOver(
      Tables.load(spark, dir, "embeddings").select($"vec_id".as("doc_id")),
      embeddingCosine(spark, dir).select($"vec_a".as("src"), $"vec_b".as("dst")),
      maxHops)
      .withColumnRenamed("doc_id", "vec_id")
  }

  /** The embedding pipeline's APPLY step ([[dedupApply]]'s twin):
    * keeper election from [[embeddingClusters]] compacted into
    * per-label kept/dropped accounting — detect ([[embeddingCosine]])
    * → cluster → apply, the same three-verb contract as the text
    * side. The label dimension joins in by vec_id; the rollup key is
    * tiny, the join data-scaled.
    */
  def embeddingDedupApply(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "embeddings").select($"vec_id", $"label")
      .join(embeddingClusterLabelsLayout(spark, dir), Seq("vec_id"))
      .groupBy($"label")
      .agg(count(lit(1)).as("n_vecs"),
        count(when($"is_keeper", 1)).as("n_kept"))
      .withColumn("n_dropped", $"n_vecs" - $"n_kept")
      .orderBy($"label")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_exact" -> exact _,
    "dedup_cascade" -> cascade _,
    "dedup_cascade_stats" -> cascadeStats _,
    "dedup_embedding_cosine" -> ((s: SparkSession, d: String) => embeddingCosine(s, d)),
    "dedup_embedding_mp" -> ((s: SparkSession, d: String) => embeddingCosineMultiProbe(s, d)),
    "dedup_embedding_clusters" -> ((s: SparkSession, d: String) => embeddingClusters(s, d)),
    "dedup_embedding_apply" -> embeddingDedupApply _,
    "dedup_minhash_lsh" -> minhashLsh _,
    "dedup_simhash" -> simhash _,
    "dedup_simhash_pairs" -> ((s: SparkSession, d: String) => simhashPairs(s, d)),
    "dedup_clusters" -> ((s: SparkSession, d: String) => clusters(s, d)),
    "dedup_cluster_sizes" -> clusterSizes _,
    "dedup_rate_by_source" -> dupRateBySource _,
    "dedup_chunks" -> chunkDedup _,
    "dedup_chunk_apply" -> chunkDedupApply _,
    "dedup_boilerplate" -> ((s: SparkSession, d: String) => boilerplateStrip(s, d)),
    "dedup_apply" -> dedupApply _,
    "dedup_ngram_jaccard" -> ngramJaccard _,
    "dedup_containment" -> containmentExcerpts _,
    "dedup_normalized" -> normalizedDedup _,
    "dedup_incremental" -> incrementalHalves _,
    "dedup_incremental_near" -> incrementalNearDupHalves _,
    "dedup_bloom" -> bloomHalves _,
    "dedup_cross_source" -> crossSourceDup _,
    "dedup_lsh_recall" -> lshRecall _,
    "dedup_intradoc" -> intradocDup _,
  )

  /** DuckDB mirror of one bloom probe position: 5-nibble arithmetic
    * over md5 slice `j` (DuckDB has no conv()); `j` is the free lambda
    * variable of the enclosing `list_transform`, `fp` the fingerprint
    * column in scope.
    */
  private val bloomPosSql =
    "(" + (0 until 5).map(i =>
      s"(strpos('0123456789abcdef', substr(fp, 5 * j + ${i + 1}, 1)) - 1) * ${math.pow(16, 4 - i).toLong}")
      .mkString(" + ") + ")"

  /** DuckDB mirror of the engine's 60-bit shingle key
    * (`conv(substr(md5(shingle),1,15),16,10)`) — DuckDB has no conv(),
    * so the 15 hex chars become nibble-weighted arithmetic. All 15
    * terms are static multiplications, so the total stays BIGINT (no
    * sum() → HUGEINT widening).
    */
  private val shingleKeySql =
    "(" + (0 until 15).map(i =>
      s"(strpos('0123456789abcdef', substr(md5(shingle), ${i + 1}, 1)) - 1) * ${math.pow(16, 14 - i).toLong}")
      .mkString(" + ") + ")"

  private def shingleCteOver(src: String) =
    s"""toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM $src),
      |idx AS (SELECT doc_id, t, unnest(generate_series(1, len(t)-2)) AS i FROM toks WHERE len(t) >= 3),
      |sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle FROM idx)""".stripMargin

  private val shingleCte = shingleCteOver("documents")

  /** The [[cascade]] corpus (base ∪ planted verbatim copies ∪ planted
    * case noise), DuckDB dialect — shared by the cascade and
    * cascade-stats oracles.
    */
  private def cascadeCorpusSql: String =
    s"""SELECT doc_id, text FROM documents
      |UNION ALL
      |SELECT doc_id + $CascadeExactShift, text
      |FROM documents WHERE doc_id % 20 = 3
      |UNION ALL
      |SELECT doc_id + $CascadeCaseShift, upper(text) || ' !!'
      |FROM documents WHERE doc_id % 20 = 5""".stripMargin

  /** [[cascade]]'s oracle; `dedup_cascade_stats` nests this text as a
    * subquery (plain concatenation — stripMargin interpolation would
    * corrupt nested pipe-leading lines).
    */
  private def cascadeOracle: String =
    s"""WITH RECURSIVE corpus AS (
      |$cascadeCorpusSql),
      |ex AS (SELECT md5(text) AS fp, min(doc_id) AS ek FROM corpus GROUP BY 1),
      |nx AS (SELECT md5(${TextAnalysis.normalizeDuckSql("text")}) AS nfp,
      |         min(doc_id) AS nk FROM corpus GROUP BY 1),
      |$minhashPairsCte,
      |$clusterLabelsCte
      |SELECT c.doc_id,
      |  CASE WHEN c.doc_id <> e.ek THEN 'exact'
      |       WHEN c.doc_id <> n.nk THEN 'normalized'
      |       WHEN l.cluster_id IS NOT NULL AND l.cluster_id <> c.doc_id THEN 'near'
      |       ELSE 'kept' END AS stage,
      |  CASE WHEN c.doc_id <> e.ek THEN e.ek
      |       WHEN c.doc_id <> n.nk THEN n.nk
      |       WHEN l.cluster_id IS NOT NULL AND l.cluster_id <> c.doc_id THEN l.cluster_id
      |       ELSE c.doc_id END AS keeper_id
      |FROM corpus c
      |JOIN ex e ON e.fp = md5(c.text)
      |JOIN nx n ON n.nfp = md5(${TextAnalysis.normalizeDuckSql("c.text")})
      |LEFT JOIN labels l ON l.doc_id = c.doc_id
      |ORDER BY c.doc_id""".stripMargin

  /** Min-label walk from the minhash candidate pairs to per-doc
    * cluster labels — shared by the `dedup_clusters` and
    * `dedup_cluster_sizes` oracles (must follow `minhashPairsCte`
    * under WITH RECURSIVE).
    */
  private val clusterLabelsCte =
    s"""sel AS (SELECT doc_a, doc_b FROM est WHERE est_jaccard >= $ClusterThreshold),
      |edges AS (SELECT doc_a AS src, doc_b AS dst FROM sel
      |          UNION ALL SELECT doc_b, doc_a FROM sel),
      |docs0 AS (SELECT doc_id FROM toks WHERE len(t) >= 3),
      |walk(doc_id, label, depth) AS (
      |  SELECT doc_id, doc_id, 0 FROM docs0
      |  UNION
      |  SELECT e.dst, w.label, w.depth + 1
      |  FROM walk w JOIN edges e ON e.src = w.doc_id WHERE w.depth < $ClusterMaxHops),
      |labels AS (SELECT doc_id, min(label) AS cluster_id FROM walk GROUP BY 1)""".stripMargin

  /** Shared signature CTE for the two simhash oracles, over the same
    * shingle features as the engine. The sums are CAST back to BIGINT
    * because DuckDB widens sum(BIGINT) to HUGEINT, which the driver's
    * type-sensitive hash compare would reject even though values are
    * equal.
    */
  private val simhashCte =
    s"""$shingleCte,
      |ps AS (SELECT doc_id, shingle, unnest(generate_series(0, 63)) AS p FROM sh),
      |bits AS (SELECT doc_id, p,
      |           CAST(floor((strpos('0123456789abcdef', substr(md5(shingle), (p // 4) + 1, 1)) - 1)
      |                / pow(2, 3 - (p % 4))) AS INT) % 2 AS bit
      |         FROM ps),
      |sums AS (SELECT doc_id, p, sum(bit * 2 - 1) AS s FROM bits GROUP BY 1, 2),
      |sbits AS (SELECT doc_id, p, CASE WHEN s > 0 THEN 1 ELSE 0 END AS sbit FROM sums),
      |sig AS (SELECT doc_id,
      |          CAST(sum(CASE WHEN p < 32 THEN sbit * CAST(pow(2, 31 - p) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash_hi,
      |          CAST(sum(CASE WHEN p >= 32 THEN sbit * CAST(pow(2, 63 - p) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash_lo,
      |          CAST(sum(CASE WHEN p < 16 THEN sbit * CAST(pow(2, 15 - p) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket16
      |        FROM sbits GROUP BY doc_id)""".stripMargin

  /** Shared per-doc minhash band CTE (ends in
    * `bands(doc_id, band, band_key)`) — the prefix both the pair CTE
    * and the incremental near-dup oracle build on.
    */
  private[operators] val minhashBandsCte =
    s"""$shingleCte,
      |ks AS (SELECT doc_id, shingle, unnest(generate_series(0, 15)) AS k FROM sh),
      |hashes AS (SELECT doc_id, k,
      |             min(substr(md5((k // 4) || '|' || shingle), (k % 4) * 8 + 1, 8)) AS h
      |           FROM ks GROUP BY 1, 2),
      |bands AS (SELECT doc_id, k // 4 AS band, string_agg(h, '' ORDER BY k) AS band_key
      |          FROM hashes GROUP BY doc_id, k // 4)""".stripMargin

  /** Shared candidate-pair + estimated-jaccard CTE for the minhash
    * oracles (ends in `est(doc_a, doc_b, est_jaccard)`).
    */
  private[operators] val minhashPairsCte =
    s"""$minhashBandsCte,
      |bkept AS (SELECT band, band_key FROM bands GROUP BY 1, 2
      |          HAVING count(*) <= $MaxBandBucket),
      |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |         FROM bands a JOIN bands b
      |           ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
      |         JOIN bkept k ON k.band = a.band AND k.band_key = a.band_key),
      |est AS (SELECT c.doc_a, c.doc_b,
      |          sum(CASE WHEN ha.h = hb.h THEN 1 ELSE 0 END) / $NumHashes.0 AS est_jaccard
      |        FROM cand c
      |        JOIN hashes ha ON ha.doc_id = c.doc_a
      |        JOIN hashes hb ON hb.doc_id = c.doc_b AND hb.k = ha.k
      |        GROUP BY 1, 2)""".stripMargin

  /** Shared sign-LSH bucket + cosine pair CTE (ends in
    * `dots(vec_a, vec_b, cos)`) for the embedding near-dup oracles.
    */
  private val embCosinePairsCte =
    """b AS (SELECT vec_id, embedding,
      |             array_to_string(list_transform(embedding[1:8],
      |               x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), '') AS bucket
      |           FROM embeddings),
      |pairs AS (SELECT a.vec_id AS vec_a, b2.vec_id AS vec_b,
      |                 a.embedding AS ea, b2.embedding AS eb
      |          FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id),
      |flat AS (SELECT vec_a, vec_b, CAST(unnest(ea) AS DOUBLE) AS x,
      |                CAST(unnest(eb) AS DOUBLE) AS y FROM pairs),
      |dots AS (SELECT vec_a, vec_b,
      |                round(sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))), 6) AS cos
      |         FROM flat GROUP BY 1, 2)""".stripMargin

  val oracle: Map[String, String] = Map(
    "dedup_bloom" ->
      s"""WITH store AS (SELECT md5(text) AS fp FROM documents WHERE doc_id % 2 = 0),
        |batch AS (SELECT doc_id, md5(text) AS fp FROM documents WHERE doc_id % 2 = 1
        |          UNION ALL
        |          SELECT doc_id + $RecrawlShift, md5(text) FROM documents WHERE doc_id % 10 = 0),
        |sp AS (SELECT unnest(list_transform([0, 1, 2, 3], j -> $bloomPosSql)) AS pos FROM store),
        |w AS (SELECT pos // $BloomWordBits AS word_idx,
        |        bit_or(CAST(1 AS BIGINT) << CAST(pos % $BloomWordBits AS INT)) AS word
        |      FROM sp GROUP BY 1),
        |bp AS (SELECT doc_id,
        |         unnest(list_transform([0, 1, 2, 3], j -> $bloomPosSql)) AS pos
        |       FROM batch),
        |probe AS (SELECT bp.doc_id,
        |            CASE WHEN w.word IS NOT NULL
        |                  AND (w.word & (CAST(1 AS BIGINT) << CAST(bp.pos % $BloomWordBits AS INT))) != 0
        |                 THEN 1 ELSE 0 END AS hit
        |          FROM bp LEFT JOIN w ON bp.pos // $BloomWordBits = w.word_idx)
        |SELECT doc_id, CAST(sum(hit) AS BIGINT) AS n_bits_hit,
        |       sum(hit) = $BloomHashes AS maybe_seen
        |FROM probe GROUP BY 1 ORDER BY doc_id""".stripMargin,
    "dedup_apply" ->
      """WITH f AS (SELECT doc_id, lang, md5(text) AS fp FROM documents),
        |k AS (SELECT fp, min(doc_id) AS keeper FROM f GROUP BY 1)
        |SELECT lang, count(*) AS n_docs,
        |       count(CASE WHEN doc_id = keeper THEN 1 END) AS n_kept,
        |       count(*) - count(CASE WHEN doc_id = keeper THEN 1 END) AS n_dropped
        |FROM f JOIN k USING (fp)
        |GROUP BY 1 ORDER BY lang""".stripMargin,
    "dedup_chunk_apply" ->
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |wi AS (SELECT doc_id, t,
        |         unnest(generate_series(0, CAST(ceil(len(t) / $ChunkWords.0) AS BIGINT) - 1)) AS i
        |       FROM w),
        |occ AS (SELECT doc_id, CAST(i AS INT) AS idx,
        |          array_to_string(t[i * $ChunkWords + 1 : i * $ChunkWords + $ChunkWords], ' ') AS chunk,
        |          md5(array_to_string(t[i * $ChunkWords + 1 : i * $ChunkWords + $ChunkWords], ' ')) AS fp
        |        FROM wi),
        |kd AS (SELECT fp, min(doc_id) AS kd FROM occ GROUP BY 1),
        |ki AS (SELECT o.fp, o.doc_id, min(o.idx) AS ki FROM occ o
        |       JOIN kd ON o.fp = kd.fp AND o.doc_id = kd.kd GROUP BY 1, 2),
        |kept AS (SELECT o.doc_id, o.idx, o.chunk FROM occ o
        |         JOIN ki ON o.fp = ki.fp AND o.doc_id = ki.doc_id AND o.idx = ki.ki),
        |tot AS (SELECT doc_id, count(*) AS n_chunks FROM occ GROUP BY 1),
        |reb AS (SELECT doc_id, count(*) AS n_kept,
        |          md5(string_agg(chunk, ' ' ORDER BY idx)) AS clean_md5
        |        FROM kept GROUP BY 1)
        |SELECT t.doc_id, t.n_chunks,
        |       coalesce(r.n_kept, 0) AS n_kept,
        |       coalesce(r.clean_md5, md5('')) AS clean_md5
        |FROM tot t LEFT JOIN reb r USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "dedup_rate_by_source" ->
      """WITH f AS (SELECT source, md5(text) AS fp FROM documents)
        |SELECT source, count(*) AS n_docs, count(DISTINCT fp) AS n_distinct,
        |       CAST((CAST(count(*) - count(DISTINCT fp) AS HUGEINT) * 1000000)
        |            // count(*) AS BIGINT) AS dup_ppm
        |FROM f GROUP BY 1 ORDER BY source""".stripMargin,
    "dedup_boilerplate" ->
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |wi AS (SELECT doc_id, t,
        |         unnest(generate_series(0, CAST(ceil(len(t) / $ChunkWords.0) AS BIGINT) - 1)) AS i
        |       FROM w),
        |occ AS (SELECT doc_id, CAST(i AS INT) AS idx,
        |          array_to_string(t[i * $ChunkWords + 1 : i * $ChunkWords + $ChunkWords], ' ') AS chunk,
        |          md5(array_to_string(t[i * $ChunkWords + 1 : i * $ChunkWords + $ChunkWords], ' ')) AS fp
        |        FROM wi),
        |common AS (SELECT fp FROM (
        |             SELECT fp, count(DISTINCT doc_id) AS df FROM occ GROUP BY 1)
        |           WHERE df >= $BoilerplateDf),
        |kept AS (SELECT * FROM occ WHERE fp NOT IN (SELECT fp FROM common)),
        |tot AS (SELECT doc_id, count(*) AS n_chunks FROM occ GROUP BY 1),
        |reb AS (SELECT doc_id, count(*) AS n_kept,
        |          md5(string_agg(chunk, ' ' ORDER BY idx)) AS clean_md5
        |        FROM kept GROUP BY 1)
        |SELECT t.doc_id, t.n_chunks,
        |       coalesce(r.n_kept, 0) AS n_kept,
        |       coalesce(r.clean_md5, md5('')) AS clean_md5
        |FROM tot t LEFT JOIN reb r USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "dedup_cross_source" ->
      s"""WITH w AS (SELECT source, string_split(text, ' ') AS t FROM documents),
        |ch0 AS (SELECT source,
        |          unnest(list_transform(generate_series(0, CAST(ceil(len(t) / $ChunkWords.0) AS BIGINT) - 1),
        |            i -> md5(array_to_string(t[i * $ChunkWords + 1 : i * $ChunkWords + $ChunkWords], ' ')))) AS fp
        |        FROM w),
        |ch AS (SELECT DISTINCT source, fp FROM ch0)
        |SELECT a.source AS source_a, b.source AS source_b,
        |       CAST(count(*) AS BIGINT) AS n_shared_chunks
        |FROM ch a JOIN ch b ON a.fp = b.fp AND a.source < b.source
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "dedup_chunks" ->
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |ch AS (SELECT doc_id,
        |         unnest(list_transform(generate_series(0, CAST(ceil(len(t) / $ChunkWords.0) AS BIGINT) - 1),
        |           i -> md5(array_to_string(t[i * $ChunkWords + 1 : i * $ChunkWords + $ChunkWords], ' ')))) AS fp
        |       FROM w),
        |dup AS (SELECT fp, 1 AS m FROM (
        |          SELECT fp, count(DISTINCT doc_id) AS c FROM ch GROUP BY 1) WHERE c > 1)
        |SELECT ch.doc_id, count(*) AS n_chunks, count(dup.m) AS n_dup_chunks,
        |       count(dup.m) * 1.0 / count(*) AS dup_chunk_ratio
        |FROM ch LEFT JOIN dup USING (fp)
        |GROUP BY 1 ORDER BY doc_id""".stripMargin,
    "dedup_embedding_cosine" ->
      s"""WITH $embCosinePairsCte
        |SELECT vec_a, vec_b, cos FROM dots WHERE cos >= $EmbeddingCosineThreshold
        |ORDER BY vec_a, vec_b""".stripMargin,
    "dedup_embedding_apply" ->
      s"""WITH RECURSIVE $embCosinePairsCte,
        |sel AS (SELECT vec_a, vec_b FROM dots WHERE cos >= $EmbeddingCosineThreshold),
        |edges AS (SELECT vec_a AS src, vec_b AS dst FROM sel
        |          UNION ALL SELECT vec_b, vec_a FROM sel),
        |nodes AS (SELECT vec_id FROM embeddings),
        |walk(vec_id, label_w, depth) AS (
        |  SELECT vec_id, vec_id, 0 FROM nodes
        |  UNION
        |  SELECT e.dst, w.label_w, w.depth + 1
        |  FROM walk w JOIN edges e ON e.src = w.vec_id WHERE w.depth < $ClusterMaxHops),
        |cl AS (SELECT vec_id, min(label_w) AS cluster_id FROM walk GROUP BY 1)
        |SELECT e.label, count(*) AS n_vecs,
        |       count(CASE WHEN cl.vec_id = cl.cluster_id THEN 1 END) AS n_kept,
        |       count(*) - count(CASE WHEN cl.vec_id = cl.cluster_id THEN 1 END) AS n_dropped
        |FROM embeddings e JOIN cl ON e.vec_id = cl.vec_id
        |GROUP BY 1 ORDER BY e.label""".stripMargin,
    "dedup_embedding_clusters" ->
      s"""WITH RECURSIVE $embCosinePairsCte,
        |sel AS (SELECT vec_a, vec_b FROM dots WHERE cos >= $EmbeddingCosineThreshold),
        |edges AS (SELECT vec_a AS src, vec_b AS dst FROM sel
        |          UNION ALL SELECT vec_b, vec_a FROM sel),
        |nodes AS (SELECT vec_id FROM embeddings),
        |walk(vec_id, label, depth) AS (
        |  SELECT vec_id, vec_id, 0 FROM nodes
        |  UNION
        |  SELECT e.dst, w.label, w.depth + 1
        |  FROM walk w JOIN edges e ON e.src = w.vec_id WHERE w.depth < $ClusterMaxHops),
        |labels AS (SELECT vec_id, min(label) AS cluster_id FROM walk GROUP BY 1)
        |SELECT vec_id, cluster_id, vec_id = cluster_id AS is_keeper
        |FROM labels ORDER BY vec_id""".stripMargin,
    "dedup_embedding_mp" ->
      s"""WITH b AS (SELECT vec_id, embedding,
        |             array_to_string(list_transform(embedding[1:8],
        |               x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), '') AS bucket
        |           FROM embeddings),
        |probed AS (SELECT vec_id, embedding,
        |             CASE WHEN i = 0 THEN bucket
        |                  ELSE substr(bucket, 1, i - 1)
        |                    || (CASE WHEN substr(bucket, i, 1) = '1' THEN '0' ELSE '1' END)
        |                    || substr(bucket, i + 1) END AS bucket
        |           FROM b, (SELECT unnest(generate_series(0, 8)) AS i) idx),
        |pairs AS (SELECT a.vec_id AS vec_a, b2.vec_id AS vec_b,
        |                 a.embedding AS ea, b2.embedding AS eb
        |          FROM probed a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id),
        |flat AS (SELECT vec_a, vec_b, CAST(unnest(ea) AS DOUBLE) AS x,
        |                CAST(unnest(eb) AS DOUBLE) AS y FROM pairs),
        |dots AS (SELECT vec_a, vec_b,
        |                round(sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))), 6) AS cos
        |         FROM flat GROUP BY 1, 2)
        |SELECT vec_a, vec_b, cos FROM dots WHERE cos >= $EmbeddingCosineThreshold
        |ORDER BY vec_a, vec_b""".stripMargin,
    "dedup_exact" ->
      """SELECT md5(text) AS fingerprint, count(*) AS n_docs, min(doc_id) AS keeper_doc_id
        |FROM documents GROUP BY 1 ORDER BY fingerprint""".stripMargin,
    "dedup_cascade" -> cascadeOracle,
    "dedup_cascade_stats" ->
      ("WITH toks AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT)" +
        " AS n_tok FROM (\n" + cascadeCorpusSql + "\n) cp)\n" +
        "SELECT c.stage, CAST(count(*) AS BIGINT) AS n_docs,\n" +
        "       CAST(sum(toks.n_tok) AS BIGINT) AS n_tokens\n" +
        "FROM (\n" + cascadeOracle + "\n) c JOIN toks USING (doc_id)\n" +
        "GROUP BY 1 ORDER BY 1"),
    "dedup_incremental" ->
      s"""WITH d AS (SELECT doc_id, text FROM documents),
        |ex AS (SELECT md5(text) AS fingerprint FROM d WHERE doc_id % 2 = 0),
        |inc AS (
        |  SELECT doc_id, text FROM d WHERE doc_id % 2 = 1
        |  UNION ALL SELECT doc_id + $RecrawlShift, text FROM d WHERE doc_id % 10 = 0
        |  UNION ALL SELECT doc_id + $BatchDupShift, text FROM d WHERE doc_id % 20 = 1),
        |k AS (SELECT md5(text) AS fingerprint, min(doc_id) AS doc_id,
        |             count(*) AS n_batch_dups
        |      FROM inc GROUP BY 1)
        |SELECT doc_id, fingerprint, n_batch_dups FROM k
        |WHERE fingerprint NOT IN (SELECT fingerprint FROM ex)
        |ORDER BY doc_id""".stripMargin,
    "dedup_incremental_near" ->
      s"""WITH $minhashBandsCte,
        |store AS (SELECT DISTINCT band, band_key FROM bands WHERE doc_id % 2 = 0)
        |SELECT b.doc_id, count(*) AS n_bands_hit
        |FROM bands b JOIN store s ON b.band = s.band AND b.band_key = s.band_key
        |WHERE b.doc_id % 2 = 1
        |GROUP BY 1 ORDER BY doc_id""".stripMargin,
    "dedup_minhash_lsh" ->
      s"""WITH $minhashPairsCte
        |SELECT doc_a, doc_b, est_jaccard FROM est ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_intradoc" ->
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |planted AS (SELECT doc_id + $IntraDupShift AS doc_id,
        |              list_concat(t[1:$ChunkWords], t) AS t
        |            FROM d WHERE doc_id % 15 = 7 AND len(t) >= $ChunkWords),
        |a AS (SELECT * FROM d UNION ALL SELECT * FROM planted),
        |f AS (SELECT doc_id,
        |        list_transform(generate_series(0, CAST(ceil(len(t) / $ChunkWords.0) AS BIGINT) - 1),
        |          i -> md5(array_to_string(t[i * $ChunkWords + 1 : i * $ChunkWords + $ChunkWords], ' '))) AS fps
        |      FROM a)
        |SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_chunks,
        |       CAST(len(fps) - len(list_distinct(fps)) AS BIGINT) AS n_dup_chunks
        |FROM f ORDER BY doc_id""".stripMargin,
    "dedup_lsh_recall" ->
      s"""WITH $minhashPairsCte,
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |skeys AS (SELECT doc_id, $shingleKeySql AS sk FROM sh),
        |keptk AS (SELECT sk FROM skeys GROUP BY sk
        |          HAVING count(*) BETWEEN 2 AND $MaxShingleDf),
        |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS intersection
        |          FROM skeys a JOIN skeys b ON a.sk = b.sk AND a.doc_id < b.doc_id
        |          JOIN keptk k ON k.sk = a.sk
        |          GROUP BY 1, 2),
        |truth AS (SELECT doc_a, doc_b,
        |            (intersection * 10) // (sa.n + sb.n - intersection) AS jac_decile
        |          FROM inter JOIN sizes sa ON sa.doc_id = doc_a
        |                     JOIN sizes sb ON sb.doc_id = doc_b
        |          WHERE intersection * 2 >= sa.n + sb.n - intersection
        |            AND (strpos('0123456789abcdef',
        |                   substr(md5(doc_a || ':' || doc_b), 4, 1)) - 1)
        |                % $RecallSampleMod = 0)
        |SELECT jac_decile, CAST(count(*) AS BIGINT) AS n_true,
        |       CAST(count(c.doc_a) AS BIGINT) AS n_hit,
        |       CAST((count(c.doc_a) * 1000000) // count(*) AS BIGINT) AS recall_ppm
        |FROM truth t LEFT JOIN cand c ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "dedup_clusters" ->
      s"""WITH RECURSIVE $minhashPairsCte,
        |$clusterLabelsCte
        |SELECT doc_id, cluster_id, doc_id = cluster_id AS is_keeper
        |FROM labels ORDER BY doc_id""".stripMargin,
    "dedup_cluster_sizes" ->
      s"""WITH RECURSIVE $minhashPairsCte,
        |$clusterLabelsCte,
        |sizes AS (SELECT cluster_id, count(*) AS cluster_size FROM labels GROUP BY 1)
        |SELECT cluster_size, count(*) AS n_clusters,
        |       CAST(sum(cluster_size) AS BIGINT) AS n_docs
        |FROM sizes GROUP BY 1 ORDER BY cluster_size""".stripMargin,
    "dedup_simhash" ->
      s"""WITH $simhashCte
        |SELECT doc_id, simhash_hi, simhash_lo, bucket16
        |FROM sig ORDER BY doc_id""".stripMargin,
    "dedup_simhash_pairs" ->
      s"""WITH $simhashCte,
        |banded AS (
        |  SELECT doc_id, simhash_hi, simhash_lo, bd.band,
        |         CASE bd.band WHEN 0 THEN simhash_hi // 65536
        |                      WHEN 1 THEN simhash_hi % 65536
        |                      WHEN 2 THEN simhash_lo // 65536
        |                      ELSE simhash_lo % 65536 END AS band_key
        |  FROM sig, (SELECT unnest(generate_series(0, 3)) AS band) bd),
        |bkept AS (SELECT band, band_key FROM banded GROUP BY 1, 2
        |          HAVING count(*) <= $MaxBandBucket),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM banded a JOIN banded b
        |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
        |  JOIN bkept k ON k.band = a.band AND k.band_key = a.band_key)
        |SELECT doc_a, doc_b,
        |       CAST(bit_count(xor(sa.simhash_hi, sb.simhash_hi))
        |          + bit_count(xor(sa.simhash_lo, sb.simhash_lo)) AS BIGINT) AS hamming
        |FROM cand JOIN sig sa ON sa.doc_id = doc_a
        |          JOIN sig sb ON sb.doc_id = doc_b
        |WHERE bit_count(xor(sa.simhash_hi, sb.simhash_hi))
        |    + bit_count(xor(sa.simhash_lo, sb.simhash_lo)) <= $SimhashMaxHamming
        |ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_containment" ->
      s"""WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + $ExcerptShift AS doc_id,
        |         array_to_string(string_split(text, ' ')[1:$ExcerptWords], ' ') AS text
        |  FROM documents WHERE doc_id % 25 = 0),
        |${shingleCteOver("corpus")},
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |skeys AS (SELECT doc_id, $shingleKeySql AS sk FROM sh),
        |kept AS (SELECT sk FROM skeys GROUP BY sk
        |         HAVING count(*) BETWEEN 2 AND $MaxShingleDf),
        |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS intersection
        |          FROM skeys a JOIN skeys b ON a.sk = b.sk AND a.doc_id < b.doc_id
        |          JOIN kept k ON k.sk = a.sk
        |          GROUP BY 1, 2)
        |SELECT doc_a, doc_b, intersection,
        |       intersection * 1.0 / least(sa.n, sb.n) AS containment,
        |       intersection * 1.0 / (sa.n + sb.n - intersection) AS jaccard
        |FROM inter
        |JOIN sizes sa ON sa.doc_id = doc_a
        |JOIN sizes sb ON sb.doc_id = doc_b
        |WHERE intersection * 1.0 / least(sa.n, sb.n) >= $ContainmentThreshold
        |ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_normalized" ->
      s"""WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + $CaseNoiseShift, upper(text) || ' !!'
        |  FROM documents WHERE doc_id % 20 = 3
        |  UNION ALL
        |  SELECT doc_id + $SpaceNoiseShift, replace(text, ' ', '  ')
        |  FROM documents WHERE doc_id % 20 = 5)
        |SELECT md5(${TextAnalysis.normalizeDuckSql("text")}) AS fingerprint,
        |       count(*) AS n_docs,
        |       count(DISTINCT md5(text)) AS n_raw_forms,
        |       min(doc_id) AS keeper_doc_id
        |FROM corpus GROUP BY 1 ORDER BY fingerprint""".stripMargin,
    "dedup_ngram_jaccard" ->
      s"""WITH $shingleCte,
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |skeys AS (SELECT doc_id, $shingleKeySql AS sk FROM sh),
        |kept AS (SELECT sk FROM skeys GROUP BY sk
        |         HAVING count(*) BETWEEN 2 AND $MaxShingleDf),
        |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS intersection
        |          FROM skeys a JOIN skeys b ON a.sk = b.sk AND a.doc_id < b.doc_id
        |          JOIN kept k ON k.sk = a.sk
        |          GROUP BY 1, 2)
        |SELECT doc_a, doc_b, intersection,
        |       intersection * 1.0 / (sa.n + sb.n - intersection) AS jaccard
        |FROM inter
        |JOIN sizes sa ON sa.doc_id = doc_a
        |JOIN sizes sb ON sb.doc_id = doc_b
        |WHERE intersection * 1.0 / (sa.n + sb.n - intersection) >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin,
  )
}
