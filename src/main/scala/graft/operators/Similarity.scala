package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._

import graft.engine.Tables
import graft.functions.Vectors
import graft.plans.ArrayExpressions

/** Similarity search over the `embeddings` table (64-dim float
  * vectors, FIXTURES.md §B): brute-force cosine top-k as the exact
  * baseline, and a sign-bucket LSH variant as the scale path (prune
  * candidates to one bucket before scoring — at 100 TB the bucket join
  * replaces the cross join entirely).
  *
  * Cosine values are rounded to 6 dp before ranking so results are
  * reproducible across engines (double accumulation order differs at
  * the last ulp); ties then break deterministically on vec_id.
  */
object Similarity {

  private val NumQueries = 5
  private val TopK = 5

  /** Default sign-LSH bucket width. 2^bits buckets: more bits → smaller
    * buckets → more parallelism and pruning but lower single-bucket
    * recall. At 100 TB raise the bits (buckets must stay executor-
    * sized) and recover recall with [[lshTopKMultiProbe]]'s hamming-1
    * probing instead of widening buckets. The SparkEntry oracles
    * document the default — callers overriding it diverge from
    * `oracle` by design.
    */
  val LshBucketBits = 8

  private def emb(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "embeddings")
      .select($"vec_id", Vectors.toDouble($"embedding").as("emb"))
      .withColumn("nrm", Vectors.norm($"emb"))
  }

  /** (vec_id, emb, nrm, bucket) — the shared prelude for every
    * sign-bucketed consumer (here and the Dedup embedding near-dups):
    * the bucketing and rounding conventions the cross-engine oracles
    * depend on live in exactly one place.
    */
  private[operators] def embWithBucket(spark: SparkSession, dir: String,
      bits: Int): DataFrame =
    embWithBucketOf(Tables.load(spark, dir, "embeddings"), bits)

  /** [[embWithBucket]] over an arbitrary `(vec_id, embedding)` frame —
    * the seam the streaming embedding-cluster maintainer needs (an
    * incoming vector batch is not the `embeddings` table). The
    * toDouble/norm/signBucket conventions every cross-engine oracle
    * depends on live HERE, once, for both faces.
    */
  private[graft] def embWithBucketOf(vecs: DataFrame, bits: Int): DataFrame = {
    import vecs.sparkSession.implicits._
    vecs.select($"vec_id", Vectors.toDouble($"embedding").as("emb"))
      .withColumn("nrm", Vectors.norm($"emb"))
      .withColumn("bucket", Vectors.signBucket($"emb", bits))
  }

  /** Exact brute-force cosine top-k over ANY (id, array<double>) frame
    * — the reusable exact path (media features ride through here too).
    * Queries are the rows with id < `numQueries`.
    */
  def cosineTopKOver(e0: DataFrame, idCol: String, embCol: String,
      numQueries: Int = NumQueries, k: Int = TopK): DataFrame = {
    val spark = e0.sparkSession
    import spark.implicits._
    val e = e0.select(col(idCol).as("vec_id"), col(embCol).as("emb"))
      .withColumn("nrm", Vectors.norm($"emb"))
    val q = e.filter($"vec_id" < numQueries)
      .select($"vec_id".as("q_id"), $"emb".as("qe"), $"nrm".as("nq"))
    // the probe side is <= numQueries rows at ANY corpus size — hint
    // it explicitly: left unhinted, Spark's size estimate for the
    // filtered side grows with the corpus and the plan flips from
    // broadcast-nested-loop to CartesianProduct right when the data
    // gets big (measured r11b at 30x: 1.0 -> 16.4 s on the SQ twin)
    broadcast(q).join(e, $"vec_id" =!= $"q_id")
      // native codegen'd dot (bit-identical to Vectors.dot — see
      // ArrayExpressionsSpec) for the q×n hot loop
      .withColumn("cos", round(ArrayExpressions.dot($"qe", $"emb") / ($"nq" * $"nrm"), 6))
      .withColumn("rnk",
        row_number().over(Window.partitionBy($"q_id").orderBy($"cos".desc, $"vec_id"))
          .cast("long"))
      .filter($"rnk" <= k)
      .select($"q_id", $"vec_id", $"cos", $"rnk")
      .orderBy($"q_id", $"rnk")
  }

  /** Exact brute-force cosine top-k for the first `NumQueries` vectors. */
  def cosineTopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    cosineTopKOver(
      Tables.load(spark, dir, "embeddings")
        .select($"vec_id", Vectors.toDouble($"embedding").as("emb")),
      "vec_id", "emb")
  }

  /** LSH-bucketed ANN: candidates restricted to the query's sign
    * bucket (first `bits` dims), then exact cosine within the bucket.
    */
  def lshTopK(spark: SparkSession, dir: String,
      bits: Int = LshBucketBits): DataFrame = {
    import spark.implicits._
    val e = embWithBucket(spark, dir, bits)
    val q = e.filter($"vec_id" < NumQueries)
      .select($"vec_id".as("q_id"), $"emb".as("qe"), $"nrm".as("nq"), $"bucket")
    // fixed-size probe side: broadcast explicitly (see cosineTopKOver)
    broadcast(q).join(e, Seq("bucket"))
      .filter($"vec_id" =!= $"q_id")
      .withColumn("cos", round(ArrayExpressions.dot($"qe", $"emb") / ($"nq" * $"nrm"), 6))
      .withColumn("rnk",
        row_number().over(Window.partitionBy($"q_id").orderBy($"cos".desc, $"vec_id"))
          .cast("long"))
      .filter($"rnk" <= TopK)
      .select($"q_id", $"bucket", $"vec_id", $"cos", $"rnk")
      .orderBy($"q_id", $"rnk")
  }

  /** Multi-probe LSH ANN: each query probes its own sign bucket PLUS
    * every bucket at hamming distance 1 (one flipped bit) — `bits`+1
    * probe keys per query. A data vector lives in exactly one bucket,
    * so probes never duplicate a candidate; recall lost to a borderline
    * sign (the common near-neighbor failure: one dimension near 0
    * flips) is recovered without enlarging any bucket. This is the
    * scale recipe: raise `bits` to keep buckets small, multi-probe to
    * keep recall.
    */
  def lshTopKMultiProbe(spark: SparkSession, dir: String,
      bits: Int = LshBucketBits): DataFrame = {
    import spark.implicits._
    val e = embWithBucket(spark, dir, bits)
    val q = e.filter($"vec_id" < NumQueries)
      .select($"vec_id".as("q_id"), $"emb".as("qe"), $"nrm".as("nq"),
        explode(Vectors.probeBuckets($"bucket", bits)).as("bucket"))
    // fixed-size probe side: broadcast explicitly (see cosineTopKOver)
    broadcast(q).join(e, Seq("bucket"))
      .filter($"vec_id" =!= $"q_id")
      .withColumn("cos", round(ArrayExpressions.dot($"qe", $"emb") / ($"nq" * $"nrm"), 6))
      .withColumn("rnk",
        row_number().over(Window.partitionBy($"q_id").orderBy($"cos".desc, $"vec_id"))
          .cast("long"))
      .filter($"rnk" <= TopK)
      .select($"q_id", $"vec_id", $"cos", $"rnk")
      .orderBy($"q_id", $"rnk")
  }

  /** IVF list count / probe fan-out / k-means training rounds. */
  val IvfNumCentroids = 8
  val IvfNProbe = 2
  val IvfKmeansIters = 3

  /** Fixed-point NORMALIZED embedding components for centroid
    * training: `floor((x/‖v‖)·10⁴) + 10⁶`. Normalizing first makes
    * Euclidean distance monotone in cosine (‖â−b̂‖² = 2−2cosθ), so the
    * k-means lists agree with the cosine scoring metric — spherical
    * k-means, which is what an IVF index over cosine similarity
    * trains. floor is exact cross-engine (emb_quantize precedent); the
    * shift keeps every value (hence every cluster sum) non-negative so
    * integer division truncates identically in the JVM (toward zero)
    * and DuckDB (floor). Distances are shift-invariant and far below
    * BIGINT range. The double division before floor sits ~1e-12 from
    * any boundary only with probability ~1e-12 per component —
    * accumulation shapes mirror each other (sequential folds) anyway.
    */
  private val IvfScale = 10000
  private val IvfShift = 1000000L
  private def ivCol =
    expr(s"transform(emb, x -> CAST(floor(x / nrm * $IvfScale) AS BIGINT) + $IvfShift)")

  /** Squared integer distance from the `iv` column to a literal
    * centroid — a pure codegen'd projection (the collection argument
    * of the fold is the zip, computed once — not re-evaluated per
    * element).
    */
  private def sqDistTo(c: Seq[Long]): org.apache.spark.sql.Column =
    expr(s"aggregate(zip_with(iv, array(${c.mkString(", ")}), " +
      "(a, b) -> (a - b) * (a - b)), CAST(0 AS BIGINT), (s, t) -> s + t)")

  /** TRAIN-ONCE, SERVE-MANY model cache: (applicationId, trainer key)
    * → frozen driver-literal model. Training (deterministic k-means
    * over a fixture) is an INGEST-TIME job in any real index build —
    * FAISS trains once and publishes; every query serves against the
    * frozen artifact. Ten ANN queries each re-running the identical
    * training rounds is pure redundant driver round-trip latency at
    * sf0.1 and pure redundant corpus scans at 100 TB. Same precedent
    * as [[Graph]]'s span-pair layout cache: keyed by application id so
    * a fresh session (new fixture generation, tests) re-trains; the
    * models are deterministic functions of (fixture, hyperparams), so
    * a cache hit is bit-identical to retraining — results and oracles
    * unchanged.
    */
  private val modelCache = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.CompletableFuture[AnyRef]]()

  private def trainOnce[T <: AnyRef](spark: SparkSession, key: String)(
      train: => T): T = {
    // fold the fixture fingerprint of any directory token into the
    // cache key: regenerating fixture files at the same path within
    // one application re-trains instead of serving a stale model
    // (same staleness contract as Layouts.layoutOnce)
    val fp = key.split(" ").filter(_.contains("/"))
      .map(graft.engine.Layouts.fixtureFingerprint).mkString
    val ck = spark.sparkContext.applicationId + " " + key + " " + fp
    // per-key memoized future, same shape as Layouts.layoutOnce:
    // training (multi-round k-means = Spark jobs) runs OUTSIDE any map
    // lock, concurrent first-lookups on different keys never
    // serialize, and a failed training clears its slot for retry
    val fresh = new java.util.concurrent.CompletableFuture[AnyRef]()
    val prior = modelCache.putIfAbsent(ck, fresh)
    val slot = if (prior != null) prior else {
      try fresh.complete(train)
      catch { case e: Throwable =>
        modelCache.remove(ck, fresh)
        fresh.completeExceptionally(e)
        throw e
      }
      fresh
    }
    slot.join().asInstanceOf[T]
  }

  /** Deterministic k-means over the fixed-point vectors: init = the
    * first `k` vectors (content-seeded, oracle-replayable), then
    * `iters` rounds of nearest-centroid assignment (ties → lowest
    * cent_id) and integer-mean update (empty cluster keeps its
    * centroid). All arithmetic is exact integer math, so the DuckDB
    * oracle replays training bit-for-bit.
    *
    * Each round collects only k × dims component means — metadata
    * bounded by configuration, like Ranking's bucket offsets, never
    * data. Assignment against driver-literal centroids stays a pure
    * projection: the corpus is never multiplied by k in a join.
    */
  /** The standard training input — `(vec_id, iv)` fixed-point vectors
    * over the fixture. Exposed as a seam so specs exercise the EXACT
    * production prep (quantization scale/shift included) instead of
    * re-implementing it with copied literals that would silently
    * diverge if the constants are retuned.
    */
  private[graft] def ivFrame(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    emb(spark, dir).select($"vec_id", ivCol.as("iv"))
  }

  private[graft] def trainIvfCentroids(spark: SparkSession, dir: String,
      k: Int = IvfNumCentroids, iters: Int = IvfKmeansIters): IndexedSeq[IndexedSeq[Long]] =
    trainOnce(spark, s"ivf $dir $k $iters") {
      trainIvfCentroidsOver(ivFrame(spark, dir), k, iters)
    }

  /** [[trainIvfCentroids]] over an arbitrary `(vec_id, iv)` frame. */
  private[graft] def trainIvfCentroidsOver(e: DataFrame,
      k: Int, iters: Int): IndexedSeq[IndexedSeq[Long]] = {
    val spark = e.sparkSession
    import spark.implicits._
    var cents: IndexedSeq[IndexedSeq[Long]] = e.filter($"vec_id" < k)
      .orderBy($"vec_id").collect()
      .map(_.getSeq[Long](1).toIndexedSeq).toIndexedSeq
    val dims = cents.head.length
    for (_ <- 1 to iters) {
      val dists = cents.zipWithIndex.map { case (c, i) => sqDistTo(c).as(s"d$i") }
      val m = least(cents.indices.map(i => col(s"d$i")): _*)
      val cid = coalesce(cents.indices.map(i => when(col(s"d$i") === m, i)): _*)
      val comp = e.select(($"iv" +: dists): _*)
        .withColumn("cid", cid)
        .select($"cid", posexplode($"iv").as(Seq("dim", "v")))
        .groupBy($"cid", $"dim")
        .agg(sum($"v").as("s"), count(lit(1)).as("n"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2) / r.getLong(3))
        .toMap
      cents = cents.indices.map(i =>
        (0 until dims).map(d => comp.getOrElse((i, d), cents(i)(d))).toIndexedSeq)
    }
    cents
  }

  /** IVF-style ANN with TRAINED centroids: deterministic k-means
    * ([[trainIvfCentroids]]), then every vector map-side-assigned to
    * its nearest list (distances to driver-literal centroids — an
    * embarrassingly parallel projection, no corpus × k join, no window
    * over the corpus), and each query scores only its `nProbe` nearest
    * inverted lists. The candidate join distributes on cent_id —
    * list-partitioned, exactly how a 1000-executor IVF shards. Ties
    * and floats are pinned the usual way (cosines rounded to 6 dp,
    * ranks break on id).
    */
  def ivfTopK(spark: SparkSession, dir: String,
      numCentroids: Int = IvfNumCentroids, nProbe: Int = IvfNProbe,
      iters: Int = IvfKmeansIters): DataFrame = {
    import spark.implicits._
    ivfTopKOver(
      Tables.load(spark, dir, "embeddings")
        .select($"vec_id", Vectors.toDouble($"embedding").as("emb")),
      "vec_id", "emb", numCentroids, nProbe, iters,
      modelKey = Some(s"ivf $dir $numCentroids $iters"))
  }

  /** Train + assign: the quantized/cached corpus frame, the trained
    * centroid vectors, and the `(vec_id, emb, nrm, cent_id)`
    * assignment — the IVF steps [[ivfTopKOver]] (probe search) and
    * [[ivfBalance]] (index health) share.
    */
  private def ivfAssignOver(e0: DataFrame, idCol: String, embCol: String,
      numCentroids: Int, iters: Int,
      modelKey: Option[String]): (DataFrame, Seq[Seq[Long]], DataFrame) = {
    val spark = e0.sparkSession
    import spark.implicits._
    // cache = a projection-collapse BARRIER, not just reuse: without
    // it Catalyst inlines `iv` (which itself inlines `nrm`'s 64-term
    // fold) into every per-centroid distance lambda — a 64×64×k
    // expression blowup per row (the r2 HOF-inlining trap, ~10× wall
    // clock here). Materialized once, each distance is a 2×64-op fold
    // over the stored array. At cluster scale, persist the quantized
    // column the same way (or write it — an IVF index stores codes).
    val e = e0.select(col(idCol).as("vec_id"), col(embCol).as("emb"))
      .withColumn("nrm", Vectors.norm($"emb"))
      .withColumn("iv", ivCol)
      .cache()
    // modelKey present = the standard fixture index: serve the frozen
    // train-once model (see modelCache); absent = generic seam, train
    val cents = modelKey match {
      case Some(key) => trainOnce(spark, key)(
        trainIvfCentroidsOver(e.select($"vec_id", $"iv"), numCentroids, iters))
      case None =>
        trainIvfCentroidsOver(e.select($"vec_id", $"iv"), numCentroids, iters)
    }
    val dists = cents.zipWithIndex.map { case (c, i) => sqDistTo(c).as(s"d$i") }
    val withD = e.select(($"vec_id" +: $"emb" +: $"nrm" +: $"iv" +: dists): _*)
    val m = least(cents.indices.map(i => col(s"d$i")): _*)
    val cid = coalesce(cents.indices.map(i => when(col(s"d$i") === m, i)): _*)
    val assign = withD.withColumn("cent_id", cid)
      .select($"vec_id", $"emb", $"nrm", $"cent_id")
    (e, cents, assign)
  }

  /** IVF INDEX-HEALTH report — the list-balance table an IVF rollout
    * is judged by before it serves traffic: per centroid the assigned
    * vector count and its load in ppm of perfect balance (1e6 = the
    * exact fair share; a 4e6 list is a hot shard that slows every
    * probe hitting it, a 0 list wastes a probe). Empty centroids are
    * reported, not dropped. One keyed count over the assignment plus
    * a broadcast total — the corpus never shuffles on anything but
    * cent_id.
    */
  def ivfBalance(spark: SparkSession, dir: String,
      numCentroids: Int = IvfNumCentroids, iters: Int = IvfKmeansIters): DataFrame = {
    import spark.implicits._
    val (_, cents, assign) = ivfAssignOver(
      Tables.load(spark, dir, "embeddings")
        .select($"vec_id", Vectors.toDouble($"embedding").as("emb")),
      "vec_id", "emb", numCentroids, iters,
      Some(s"ivf $dir $numCentroids $iters"))
    val counts = assign.groupBy($"cent_id").agg(count(lit(1)).as("n_vecs"))
    spark.range(cents.length).select($"id".cast("int").as("cent_id"))
      .join(counts, Seq("cent_id"), "left")
      .withColumn("n_vecs", coalesce($"n_vecs", lit(0L)))
      .crossJoin(broadcast(assign.agg(count(lit(1)).as("__t"))))
      .withColumn("load_ppm",
        expr(s"(n_vecs * ${cents.length} * 1000000) div __t"))
      .drop("__t")
      .orderBy($"cent_id")
  }

  /** Tombstone modulus for [[ivfCompact]] (deterministic stand-in for
    * the index's delete queue) and the deleted-fraction bar above
    * which a list is flagged for compaction (5% in ppm).
    */
  val CompactTombMod = 17L
  val CompactBarPpm = 50000L

  /** IVF DELETE/COMPACT report — the missing half of the index
    * lifecycle (train [[trainIvfCentroids]] / serve [[ivfTopK]] /
    * ingest [[ivfAssignWith]] / balance [[ivfBalance]] cover the
    * rest): deletes against a serving ANN index are TOMBSTONED, not
    * applied — scoring skips tombstoned ids and each inverted list is
    * physically rewritten only when its dead fraction crosses a bar.
    * This query is the table that drives that trigger: per list the
    * live/dead membership, the deleted fraction in ppm, the
    * post-compaction load share, and the rewrite flag. The
    * `vec_id mod 17` set stands in for the delete queue; production
    * swaps in an anti-join against the tombstone table (or its bloom
    * prefilter). One keyed aggregate over the assignment — the
    * corpus shuffles once on cent_id, the report is k rows.
    */
  def ivfCompact(spark: SparkSession, dir: String,
      numCentroids: Int = IvfNumCentroids, iters: Int = IvfKmeansIters): DataFrame = {
    import spark.implicits._
    val (_, cents, assign) = ivfAssignOver(
      Tables.load(spark, dir, "embeddings")
        .select($"vec_id", Vectors.toDouble($"embedding").as("emb")),
      "vec_id", "emb", numCentroids, iters,
      Some(s"ivf $dir $numCentroids $iters"))
    val flagged = assign.select($"vec_id", $"cent_id",
      ($"vec_id" % CompactTombMod === 0L).as("tomb"))
    val counts = flagged.groupBy($"cent_id")
      .agg(count(lit(1)).as("n_before"),
        sum(when($"tomb", 1L).otherwise(0L)).as("n_deleted"))
    spark.range(cents.length).select($"id".cast("int").as("cent_id"))
      .join(counts, Seq("cent_id"), "left")
      .select($"cent_id",
        coalesce($"n_before", lit(0L)).as("n_before"),
        coalesce($"n_deleted", lit(0L)).as("n_deleted"))
      .withColumn("n_after", $"n_before" - $"n_deleted")
      .withColumn("del_ppm", expr(
        "CASE WHEN n_before = 0 THEN 0 ELSE (n_deleted * 1000000) div n_before END"))
      .withColumn("needs_compact", $"del_ppm" >= CompactBarPpm)
      .crossJoin(broadcast(flagged.filter(!$"tomb").agg(count(lit(1)).as("__t"))))
      // an all-tombstoned index has no live mass — report 0 load, not
      // a division error / NULL (mirrored in the oracle)
      .withColumn("load_ppm_after", expr(
        s"CASE WHEN __t = 0 THEN CAST(0 AS BIGINT) " +
          s"ELSE (n_after * ${cents.length} * 1000000) div __t END"))
      .drop("__t")
      .orderBy($"cent_id")
  }

  /** [[ivfTopK]] over ANY (id, array<double>) frame (spec seam and
    * media-feature path, mirroring [[cosineTopKOver]]).
    */
  def ivfTopKOver(e0: DataFrame, idCol: String, embCol: String,
      numCentroids: Int = IvfNumCentroids, nProbe: Int = IvfNProbe,
      iters: Int = IvfKmeansIters, numQueries: Int = NumQueries,
      topK: Int = TopK, modelKey: Option[String] = None): DataFrame = {
    val spark = e0.sparkSession
    import spark.implicits._
    val (e, cents, assign) =
      ivfAssignOver(e0, idCol, embCol, numCentroids, iters, modelKey)
    // r16: the query batch (numQueries rows — config-bounded metadata,
    // see collectBatchArr) is collected once and coarse routing runs
    // as the routeProbes driver twin, so the probe table enters the
    // plan as a driver-local relation instead of a per-run
    // shuffle+window stage + broadcast-build job. The float query
    // vectors ride the collect untouched (no arithmetic — exact).
    val qRows = e.filter($"vec_id" < numQueries)
      .select($"vec_id", $"emb", $"nrm", $"iv").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2),
        r.getSeq[Long](3).toIndexedSeq))
      .sortBy(_._1).toIndexedSeq
    val byId = qRows.map(q => q._1 -> q).toMap
    val probes = routeProbes(qRows.map(q => (q._1, q._4)), cents, nProbe)
      .map { case (q, c) => (q, byId(q)._2, byId(q)._3, c) }
      .toDF("q_id", "qe", "nq", "cent_id")
    broadcast(probes).join(assign, Seq("cent_id"))
      .filter($"vec_id" =!= $"q_id")
      .withColumn("cos", round(ArrayExpressions.dot($"qe", $"emb") / ($"nq" * $"nrm"), 6))
      .withColumn("rnk",
        row_number().over(Window.partitionBy($"q_id").orderBy($"cos".desc, $"vec_id"))
          .cast("long"))
      .filter($"rnk" <= topK)
      .select($"q_id", $"vec_id", $"cos", $"rnk")
      .orderBy($"q_id", $"rnk")
  }

  /** RRF smoothing constant — Cormack, Clarke & Buettcher's k = 60
    * ("Reciprocal rank fusion outperforms Condorcet and individual
    * rank learning methods", SIGIR 2009) — and the scale that keeps
    * the reciprocal integral: points = RrfScale div (k + rank).
    */
  val RrfK = 60
  val RrfScale = 1000000L

  /** RECIPROCAL-RANK FUSION of the three ANN indexes — the hybrid-
    * retrieval verb: the exact brute-force ranking, the sign-LSH
    * bucket ranking, and the trained-IVF probe ranking each vote
    * [[RrfScale]] div ([[RrfK]] + rank) points per (query, candidate),
    * and candidates are re-ranked by total points. A candidate an
    * index misses simply contributes nothing (the LSH/IVF recall
    * holes the fusion exists to paper over); `n_lists` records how
    * many indexes surfaced each survivor. All-integer scoring, so the
    * oracle replays the fusion — and each constituent ranking —
    * bit-for-bit.
    *
    * Scale shape: each constituent already bounds itself to k rows
    * per query (WindowGroupLimit rank filters), so the fusion's
    * input is ≤ 3·k·|queries| rows — METADATA, not data. The
    * (q_id, vec_id) aggregate and the per-query re-rank never touch
    * the corpus; the heavy lifting stays inside the constituent
    * index scans.
    */
  def rrfFusion(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val lists = Seq(
      cosineTopK(spark, dir),
      lshTopK(spark, dir),
      ivfTopK(spark, dir))
    lists.map(_.select($"q_id", $"vec_id", $"rnk")).reduce(_ unionByName _)
      .withColumn("pts", expr(s"$RrfScale div ($RrfK + rnk)"))
      .groupBy($"q_id", $"vec_id")
      .agg(sum($"pts").as("rrf"), count(lit(1)).as("n_lists"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy($"q_id").orderBy($"rrf".desc, $"vec_id")).cast("long"))
      .filter($"rnk" <= TopK)
      .select($"q_id", $"vec_id", $"rrf", $"n_lists", $"rnk")
      .orderBy($"q_id", $"rnk")
  }

  /** RECALL REPORT over the ANN index family — the eval table an
    * index rollout decision reads (the [[Dedup.lshRecall]] idea
    * applied to similarity search): each approximate index's top-k
    * pairs are probed against the exact brute-force truth
    * ([[cosineTopK]]) and reported as hits / truth-size / recall ppm
    * per index. Integer ppm through DECIMAL; index names are literal
    * strings so the row set is bounded by the registry, not data.
    * Scale shape: each constituent bounds itself to k rows per query
    * before this query ever sees it — the report joins and counts
    * METADATA (3·k·|queries| rows), adding nothing to the index
    * scans' own cost.
    */
  def recallReport(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val truth = cosineTopK(spark, dir).select($"q_id", $"vec_id", lit(1L).as("t"))
    val lists = Seq(
      "ivf" -> ivfTopK(spark, dir),
      "lsh" -> lshTopK(spark, dir),
      "lsh_multiprobe" -> lshTopKMultiProbe(spark, dir))
    lists.map { case (nm, df) =>
      df.select(lit(nm).as("index_name"), $"q_id", $"vec_id")
    }.reduce(_ unionByName _)
      .join(broadcast(truth), Seq("q_id", "vec_id"), "left")
      .groupBy($"index_name")
      .agg(sum(coalesce($"t", lit(0L))).as("n_hit"))
      .crossJoin(broadcast(truth.agg(count(lit(1)).as("n_truth"))))
      .withColumn("recall_ppm", expr(
        "CAST((CAST(n_hit AS DECIMAL(38,0)) * 1000000) div n_truth AS BIGINT)"))
      .select($"index_name", $"n_truth", $"n_hit", $"recall_ppm")
      .orderBy($"index_name")
  }

  /** [[recallReport]]'s QUANTIZED-space sibling: the two integer
    * cascades ([[pqTopK]], [[rpTopK]]) probed against THEIR native
    * exact truth — the full-width integer code dot ([[sqTopK]]) —
    * instead of float cosine, so the table measures what the
    * shortlist stage loses, not the quantizer itself. Same bounded
    * metadata shape as the float report.
    */
  def recallQuantized(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // r16 (guide §2.3 exchange/scan reuse, VERDICT #5): truth, PQ
    // cascade and sketch cascade all live in the SAME int8 code space —
    // score all three over ONE shared coded materialization
    // (pqCodedFrame) instead of three independent scan+quantize
    // passes, and serve the quantizer bounds from the trainOnce slot
    // (previously the truth and sketch branches each re-collected the
    // stats per run). Constituent results are bit-identical: the
    // seams (sqTopKOver/pqTopKOver/rpTopKOver) run the exact same
    // scoring expressions over the exact same codes.
    val coded = pqCodedFrame(spark, dir)
    val truth = sqTopKOver(coded, NumQueries, TopK)
      .select($"q_id", $"vec_id", lit(1L).as("t"))
    Seq("pq" -> pqTopKOver(spark, dir, coded, NumQueries, TopK),
        "rp_sketch" -> rpTopKOver(spark, dir, coded, NumQueries, TopK))
      .map { case (nm, df) => df.select(lit(nm).as("index_name"), $"q_id", $"vec_id") }
      .reduce(_ unionByName _)
      .join(broadcast(truth), Seq("q_id", "vec_id"), "left")
      .groupBy($"index_name")
      .agg(sum(coalesce($"t", lit(0L))).as("n_hit"))
      .crossJoin(broadcast(truth.agg(count(lit(1)).as("n_truth"))))
      .withColumn("recall_ppm", expr(
        "CAST((CAST(n_hit AS DECIMAL(38,0)) * 1000000) div n_truth AS BIGINT)"))
      .select($"index_name", $"n_truth", $"n_hit", $"recall_ppm")
      .orderBy($"index_name")
  }

  /** The untrained baseline: centroids are just the first `k` vectors
    * (round-3's variant, kept as the recall comparison point for the
    * ExtensionSpec assertion that training helps).
    */
  def ivfTopKSampled(spark: SparkSession, dir: String,
      numCentroids: Int = IvfNumCentroids, nProbe: Int = IvfNProbe): DataFrame = {
    import spark.implicits._
    ivfTopKSampledOver(
      Tables.load(spark, dir, "embeddings")
        .select($"vec_id", Vectors.toDouble($"embedding").as("emb")),
      "vec_id", "emb", numCentroids, nProbe)
  }

  /** [[ivfTopKSampled]] over ANY (id, array<double>) frame. */
  def ivfTopKSampledOver(e0: DataFrame, idCol: String, embCol: String,
      numCentroids: Int = IvfNumCentroids, nProbe: Int = IvfNProbe,
      numQueries: Int = NumQueries, topK: Int = TopK): DataFrame = {
    val spark = e0.sparkSession
    import spark.implicits._
    val e = e0.select(col(idCol).as("vec_id"), col(embCol).as("emb"))
      .withColumn("nrm", Vectors.norm($"emb"))
    val cents = e.filter($"vec_id" < numCentroids)
      .select($"vec_id".as("cent_id"), $"emb".as("cemb"), $"nrm".as("cnrm"))
    val ranked = e.crossJoin(broadcast(cents))
      .withColumn("csim",
        round(ArrayExpressions.dot($"emb", $"cemb") / ($"nrm" * $"cnrm"), 6))
      .withColumn("crnk",
        row_number().over(Window.partitionBy($"vec_id").orderBy($"csim".desc, $"cent_id"))
          .cast("long"))
    val assign = ranked.filter($"crnk" === 1)
      .select($"vec_id", $"emb", $"nrm", $"cent_id")
    val probes = ranked.filter($"vec_id" < numQueries && $"crnk" <= nProbe)
      .select($"vec_id".as("q_id"), $"emb".as("qe"), $"nrm".as("nq"), $"cent_id")
    broadcast(probes).join(assign, Seq("cent_id"))
      .filter($"vec_id" =!= $"q_id")
      .withColumn("cos", round(ArrayExpressions.dot($"qe", $"emb") / ($"nq" * $"nrm"), 6))
      .withColumn("rnk",
        row_number().over(Window.partitionBy($"q_id").orderBy($"cos".desc, $"vec_id"))
          .cast("long"))
      .filter($"rnk" <= topK)
      .select($"q_id", $"vec_id", $"cos", $"rnk")
      .orderBy($"q_id", $"rnk")
  }

  /** Per-dimension int8-style quantization of the embedding corpus —
    * the storage-compression pass an ANN index runs before serving
    * (scalar quantization: 4× smaller than float32, 8× than float64).
    * Dimension ranges come from one tiny aggregate (posexplode →
    * per-dim min/max → 64 rows) broadcast back; codes are
    * `floor((x − mn) · 255 / (mx − mn))` clamped to 255 — floor, NOT
    * round (round's half-up vs half-even differs across engines), all
    * arithmetic in double after an exact float→double widening, so
    * codes are bit-identical anywhere. Output is the unnested
    * (vec_id, dim, code) relation.
    */
  def quantize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dims = Tables.load(spark, dir, "embeddings")
      .select(posexplode(Vectors.toDouble($"embedding")).as(Seq("dim", "x")))
      .groupBy($"dim")
      .agg(min($"x").as("mn"), max($"x").as("mx"))
    Tables.load(spark, dir, "embeddings")
      .select($"vec_id", posexplode(Vectors.toDouble($"embedding")).as(Seq("dim", "x")))
      .join(broadcast(dims), Seq("dim"))
      .select($"vec_id", $"dim".cast("long").as("dim"),
        when($"mx" === $"mn", lit(0L))
          .otherwise(least(floor(($"x" - $"mn") * 255.0 / ($"mx" - $"mn")), lit(255.0))
            .cast("long")).as("code"))
      .orderBy($"vec_id", $"dim")
  }

  /** Asymmetric search over QUANTIZED codes — the memory-bandwidth
    * shape a billion-vector scan actually runs (scalar-quantization
    * analog of a PQ/ADC pass): every vector is reduced to its int8
    * codes ([[quantize]]'s exact formula) and ranking is the INTEGER
    * dot product of code arrays — ¼ the bytes of float64 per scanned
    * vector and a cross-engine-exact score (no float summation order
    * anywhere). The per-dim (min, max) quantization model is collected
    * to the driver — 2×64 doubles, model metadata exactly like the IVF
    * centroid literals — and re-enters the plan as array literals, so
    * code computation is a pure codegen'd map-side projection; the
    * q×n loop is a tiny-query-side broadcast join. The ranking lives
    * in the per-dim min-max-normalized space (the quantizer's
    * codomain); the spec pins every score to a driver-side recompute.
    */
  def sqTopK(spark: SparkSession, dir: String,
      numQueries: Int = NumQueries, k: Int = TopK): DataFrame = {
    import spark.implicits._
    // r16 (guide §1.2/§2.4): the quantizer bounds are the frozen PQ
    // model's other half — served from the same trainOnce slot as
    // pqCodedFrame's instead of re-collected per invocation (the
    // explode+aggregate+collect was one full corpus pass and 2-3
    // scheduled jobs per run for a constant the model already owns)
    val (mns, mxs) = quantStats(spark, dir)
    val e = Tables.load(spark, dir, "embeddings")
      .select($"vec_id", Vectors.toDouble($"embedding").as("emb"))
      .select($"vec_id", pqCodesCol(mns, mxs).as("vc"))
    sqTopKOver(e, numQueries, k)
  }

  /** [[sqTopK]]'s scoring core over a prepared `(vec_id, vc)` coded
    * frame — the seam that lets [[recallQuantized]] score truth,
    * PQ-cascade and sketch-cascade over ONE shared coded
    * materialization instead of three scan+quantize passes.
    */
  private def sqTopKOver(coded: DataFrame,
      numQueries: Int, k: Int): DataFrame = {
    import coded.sparkSession.implicits._
    val q = coded.filter($"vec_id" < numQueries)
      .select($"vec_id".as("q_id"), $"vc".as("qc"))
    // fixed-size probe side: broadcast explicitly (see cosineTopKOver)
    broadcast(q).join(coded, $"vec_id" =!= $"q_id")
      .withColumn("score", ArrayExpressions.dotL($"qc", $"vc"))
      .withColumn("rnk",
        row_number().over(Window.partitionBy($"q_id").orderBy($"score".desc, $"vec_id"))
          .cast("long"))
      .filter($"rnk" <= k)
      .select($"q_id", $"vec_id", $"score", $"rnk")
      .orderBy($"q_id", $"rnk")
  }

  /** Product-quantization geometry: [[PqSubspaces]] × [[PqSubDims]]
    * covers the 64 dims; [[PqCentroids]] entries per sub-codebook,
    * [[PqIters]] k-means rounds — all mirrored by the oracle's
    * unrolled CTEs. Deliberately tiny so the oracle replay stays
    * tractable; a production index widens to 256 entries per book and
    * the identical shapes.
    */
  val PqSubspaces = 8
  val PqSubDims = 8
  val PqCentroids = 8
  val PqIters = 2

  /** ADC-shortlist size fed to [[pqTopK]]'s exact re-rank. */
  val PqCandK = 50

  /** Appends per-subspace nearest-codebook-entry columns `sc0..scM`
    * to the coded frame — every subspace's distances and argmin in
    * ONE projection over one scan (8 scans and 8 union branches
    * otherwise; ties → lowest entry id, the k-means convention).
    */
  private def withSubCodes(coded: DataFrame,
      books: IndexedSeq[IndexedSeq[IndexedSeq[Long]]],
      extra: Seq[String] = Nil): DataFrame = {
    val distCols = for {
      m <- 0 until PqSubspaces; i <- 0 until PqCentroids
    } yield expr(
      s"""aggregate(zip_with(slice(vc, ${m * PqSubDims + 1}, $PqSubDims),
         |  array(${books(m)(i).mkString(", ")}),
         |  (a, b) -> (a - b) * (a - b)), CAST(0 AS BIGINT), (s, t) -> s + t)"""
        .stripMargin).as(s"m${m}d$i")
    val withD = coded.select(
      (col("vec_id") +: col("vc") +: (extra.map(col) ++ distCols)): _*)
    (0 until PqSubspaces).foldLeft(withD) { (df, m) =>
      val mn = least((0 until PqCentroids).map(i => col(s"m${m}d$i")): _*)
      df.withColumn(s"sc$m",
        coalesce((0 until PqCentroids).map(i => when(col(s"m${m}d$i") === mn, i)): _*))
    }
  }

  /** All [[PqSubspaces]] codebooks trained TOGETHER: the same
    * deterministic integer k-means as [[trainIvfCentroidsOver]]
    * (first-k seeds, min-id ties, floor-mean update, empty cluster
    * keeps its centroid), but every iteration runs the 8 subspaces'
    * assignment + component means in ONE Spark job — the per-subspace
    * loop was 16 sequential collect jobs, pure round-trip latency,
    * for identical results (the aggregates are independent per
    * subspace either way; the oracle replays per-subspace and still
    * matches).
    */
  private def trainPqBooks(
      coded: DataFrame): IndexedSeq[IndexedSeq[IndexedSeq[Long]]] = {
    val spark = coded.sparkSession
    import spark.implicits._
    val seeds = coded.filter($"vec_id" < PqCentroids).orderBy($"vec_id").collect()
      .map(_.getSeq[Long](1).toIndexedSeq).toIndexedSeq
    var books = (0 until PqSubspaces).map(m =>
      seeds.map(v => v.slice(m * PqSubDims, (m + 1) * PqSubDims)))
    for (_ <- 1 to PqIters) {
      val comp = withSubCodes(coded, books)
        .select((0 until PqSubspaces).map(m => col(s"sc$m")) :+
          posexplode($"vc").as(Seq("dim", "v")): _*)
        .withColumn("m", expr(s"CAST(dim div $PqSubDims AS BIGINT)"))
        .withColumn("cid", element_at(
          array((0 until PqSubspaces).map(m => col(s"sc$m")): _*),
          col("m").cast("int") + 1))
        .groupBy($"m", $"cid", expr(s"CAST(dim % $PqSubDims AS BIGINT)").as("sdim"))
        .agg(sum($"v").as("s"), count(lit(1)).as("n"))
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)) -> r.getLong(3) / r.getLong(4))
        .toMap
      books = (0 until PqSubspaces).map(m =>
        (0 until PqCentroids).map(i =>
          (0 until PqSubDims).map(d =>
            comp.getOrElse((m.toLong, i, d.toLong), books(m)(i)(d))).toIndexedSeq))
    }
    books
  }

  /** PRODUCT-QUANTIZATION ANN (Jégou, Douze & Schmid, "Product
    * quantization for nearest neighbor search", TPAMI 2011) over the
    * int8 codes, integer-exact end to end: each 16-dim subvector is
    * vector-quantized against its own [[trainIvfCentroidsOver]]-
    * trained codebook (deterministic integer k-means — the IVF
    * trainer reused verbatim, per subspace), compressing every vector
    * to [[PqSubspaces]] sub-codes; queries score candidates by ADC —
    * the asymmetric Σₘ ⟨q_subₘ, codebookₘ[scodeₘ]⟩, evaluated as a
    * per-query LOOKUP TABLE join, never a full-width dot per pair —
    * and the [[PqCandK]]-deep ADC shortlist is re-ranked by the
    * exact full-width code dot ([[sqTopK]]'s score): the coarse-scan
    * + exact-tail cascade every serving PQ index runs (IndexIVFPQ's
    * refine stage), same two-rank-filter shape as [[rpTopK]].
    *
    * Scale shape: codebooks are driver literals (M·K·16 ints — model
    * metadata); ENCODING is a pure map-side projection against those
    * literals (the corpus is never joined with k rows); the LUT is
    * queries × M × K rows — broadcast; and the scan joins it to the
    * (vec_id, m, scode) relation — 4 integer adds per candidate in
    * compressed space, the memory-bandwidth miracle that serves
    * billion-vector indexes from RAM. Top-k via the partitioned rank
    * filter (WindowGroupLimit).
    */
  def pqTopK(spark: SparkSession, dir: String,
      numQueries: Int = NumQueries, k: Int = TopK): DataFrame =
    pqTopKOver(spark, dir, pqCodedFrame(spark, dir), numQueries, k)

  /** [[pqTopK]]'s cascade over a prepared coded frame (see
    * [[sqTopKOver]] — the [[recallQuantized]] shared-materialization
    * seam). Codebooks still come from the per-(application, fixture)
    * trainOnce slot.
    */
  private def pqTopKOver(spark: SparkSession, dir: String, coded: DataFrame,
      numQueries: Int, k: Int): DataFrame = {
    import spark.implicits._
    val books = trainOnce(spark, s"pq $dir")(trainPqBooks(coded))
    // packed-array ADC (r15): one row per (query, vector) with an
    // in-expression M-lookup fold, replacing the corpus×M enc explode
    // + LUT join + hash aggregate — identical integer sums
    // the shortlist carries vc through the ADC window (pqEncArrWithVc)
    // so the exact rerank shares the window's q_id exchange
    val encA = pqEncArrWithVc(coded, books)
    // r16: the query batch is collected ONCE (see collectBatchArr) and
    // the ADC LUTs + rerank query codes become driver-local relations —
    // one tiny job instead of two broadcast-build jobs re-deriving the
    // query subtree from the coded frame per run
    val qvc = collectBatchArr(coded, "vec_id", "vc", numQueries)
    val lutA = qvc.map { case (q, vc) =>
      (q, lutArrOf(vc, books, squared = false))
    }.toDF("q_id", "pts")
    val cand = encA.join(broadcast(lutA), $"vec_id" =!= $"q_id")
      .withColumn("adc", adcFoldCol)
      .withColumn("crnk",
        row_number().over(Window.partitionBy($"q_id").orderBy($"adc".desc, $"vec_id")))
      .filter($"crnk" <= PqCandK)
      .select($"q_id", $"vec_id", $"vc")
    pqExactRerank(cand,
      qvc.map { case (q, vc) => (q, vc) }.toDF("q_id", "qc"), k)
  }

  /** The int8-coded corpus `(vec_id, vc)` — [[quantize]]'s per-dim
    * min/max 0..255 codes, localCheckpointed because it feeds
    * training, encoding, and the query LUT (the rpTopK
    * materialization-barrier lesson).
    */
  private def pqCodedFrame(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e0 = Tables.load(spark, dir, "embeddings")
      .select($"vec_id", Vectors.toDouble($"embedding").as("emb"))
    // the bounds are the OTHER half of the frozen PQ model (the
    // quantizer trainedPqModel publishes) — train-once like the
    // codebooks (r15: the per-invocation stats job was one collect +
    // shuffle per bench run for a constant the model already owns)
    val (mns, mxs) = quantStats(spark, dir)
    e0.select($"vec_id", pqCodesCol(mns, mxs).as("vc")).localCheckpoint()
  }

  /** The frozen quantizer bounds for a fixture, through the
    * per-(application, fixture) trainOnce slot — ONE stats job per
    * session serves every consumer of the same quantizer model
    * (sq/rp/PQ cascades, the embedding monitors). r16: previously
    * sqTopK, rpSketch, rpTopK, sqOutliers and centroidDrift each
    * re-ran the explode+aggregate+collect per invocation — a full
    * corpus pass and 2-3 scheduled jobs per bench run, per query, for
    * a deterministic model constant (guide §1.2 step 1: don't compute
    * things you already have).
    */
  private def quantStats(spark: SparkSession,
      dir: String): (Seq[Double], Seq[Double]) = {
    import spark.implicits._
    trainOnce(spark, s"pqstats $dir")(pqStatsOf(
      Tables.load(spark, dir, "embeddings")
        .select($"vec_id", Vectors.toDouble($"embedding").as("emb"))))
  }

  /** The quantizer bounds — per-dim min/max over the corpus, the
    * model half the codebooks are trained against. */
  private def pqStatsOf(e0: DataFrame): (Seq[Double], Seq[Double]) = {
    import e0.sparkSession.implicits._
    val stats = e0.select(posexplode($"emb").as(Seq("dim", "x")))
      .groupBy($"dim").agg(min($"x").as("mn"), max($"x").as("mx"))
      .collect().sortBy(_.getInt(0))
    (stats.map(_.getDouble(1)).toSeq, stats.map(_.getDouble(2)).toSeq)
  }

  /** The 0..255 quantize projection over an `emb` column, against
    * LITERAL bounds — pure, so it runs identically on batch and
    * streaming frames. */
  private def pqCodesCol(mnsV: Seq[Double], mxsV: Seq[Double]): Column = {
    val mns = lit(mnsV.toArray)
    val mxs = lit(mxsV.toArray)
    transform(sequence(lit(0), lit(mnsV.length - 1)), i => {
      val x = element_at(col("emb"), i + 1)
      val mn = element_at(mns, i + 1)
      val mx = element_at(mxs, i + 1)
      when(mx === mn, lit(0L))
        .otherwise(least(floor((x - mn) * 255.0 / (mx - mn)), lit(255.0)).cast("long"))
    })
  }

  /** The FROZEN serving model of the PQ index — quantizer bounds +
    * trained sub-codebooks — as driver literals, the artifact an
    * index build publishes and every encoder (batch backfill or
    * streaming ingest) applies unchanged.
    */
  private[graft] def trainedPqModel(spark: SparkSession, dir: String):
      (Seq[Double], Seq[Double], IndexedSeq[IndexedSeq[IndexedSeq[Long]]]) = {
    import spark.implicits._
    val e0 = Tables.load(spark, dir, "embeddings")
      .select($"vec_id", Vectors.toDouble($"embedding").as("emb"))
    val (mns, mxs) = trainOnce(spark, s"pqstats $dir")(pqStatsOf(e0))
    val coded = e0.select($"vec_id", pqCodesCol(mns, mxs).as("vc")).localCheckpoint()
    (mns, mxs, trainOnce(spark, s"pq $dir")(trainPqBooks(coded)))
  }

  /** Map-side PQ ENCODER against a frozen model: any `(vec_id, emb)`
    * frame → `(vec_id, m, scode)` sub-codes. Every step (quantize,
    * per-subspace distances, argmin) is a projection against driver
    * literals — no state, no shuffle — so it works VERBATIM on a
    * structured stream: this is how an ANN index ingests new vectors
    * without retraining (`EventStreams.encodeVectorStream`).
    */
  def pqEncodeWith(vecs: DataFrame, mns: Seq[Double], mxs: Seq[Double],
      books: IndexedSeq[IndexedSeq[IndexedSeq[Long]]]): DataFrame = {
    import vecs.sparkSession.implicits._
    pqEnc(vecs.select($"vec_id", pqCodesCol(mns, mxs).as("vc")), books)
  }

  /** PQ ENCODING `(vec_id, m, scode)` — each vector reduced to its
    * [[PqSubspaces]] nearest-codebook-entry ids, a map-side projection
    * against driver-literal codebooks.
    */
  private def pqEnc(coded: DataFrame,
      books: IndexedSeq[IndexedSeq[IndexedSeq[Long]]]): DataFrame = {
    import coded.sparkSession.implicits._
    withSubCodes(coded, books)
      .select($"vec_id", posexplode(array(
        (0 until PqSubspaces).map(m => col(s"sc$m").cast("long")): _*))
        .as(Seq("m", "scode")))
      .select($"vec_id", $"m".cast("long").as("m"), $"scode")
  }

  /** The M sub-codes packed into ONE `codes` array column per vector
    * (r15): the row-per-(m, scode) [[pqEnc]] shape multiplied every
    * candidate by M through the ADC LUT join; packed codes keep the
    * scan at one row per vector and the ADC becomes [[adcFoldCol]]'s
    * in-expression M-lookup fold. The full-width codes `vc` ride
    * along: the shortlist carries them through the ADC window so the exact
    * rerank runs in the SAME post-exchange stage (both windows key on
    * q_id) instead of joining back to the coded frame: one fewer
    * exchange + broadcast-build + coded re-scan per cascade (r16). The
    * carried payload is WindowGroupLimit-bounded (maps × PqCandK rows
    * per query) at any corpus scale.
    */
  private def pqEncArrWithVc(coded: DataFrame,
      books: IndexedSeq[IndexedSeq[IndexedSeq[Long]]]): DataFrame =
    withSubCodes(coded, books).select(col("vec_id"),
      array((0 until PqSubspaces).map(m => col(s"sc$m").cast("long")): _*)
        .as("codes"),
      col("vc"))

  /** The ADC sum over packed `codes`/`pts` columns: Σₘ
    * pts[m·K + codes[m]] — eight in-expression array lookups per
    * candidate instead of an M-row join + hash aggregate. `codes` is
    * the zip_with COLLECTION argument (referenced once — the r2
    * HOF-inlining rule) and `pts` is a join-side attribute, so
    * neither projection re-inlines into the lambda.
    */
  private def adcFoldCol: Column = expr(
    s"""aggregate(zip_with(codes, sequence(0, ${PqSubspaces - 1}),
       |  (c, m) -> element_at(pts, CAST(m * $PqCentroids + c + 1 AS INT))),
       |  CAST(0 AS BIGINT), (s, t) -> s + t)""".stripMargin)

  /** The QUERY BATCH's id→array rows pulled to the driver, sorted by
    * id — numQueries rows, CONFIG-bounded metadata of the same class
    * as the trained centroid/codebook literals (an ANN serving tier
    * holds its query batch driver-side by construction; the
    * vec_id < numQueries convention is just how the fixture plants
    * one). Collected PER INVOCATION from the live frame — one tiny
    * job inside the timed query, nothing cached across runs — so the
    * coarse-routing table, the ADC LUTs and the rerank query codes
    * can enter the plan as driver-local relations: each one
    * previously re-derived its own query-side subtree per run (a
    * shuffle+window stage and/or a broadcast-build job each — r16
    * measured ann_ivfpq_topk at 14 scheduled jobs/run, ~half driver
    * gaps between AQE stage jobs).
    */
  private def collectBatchArr(df: DataFrame, idCol: String, arrCol: String,
      numQueries: Int): IndexedSeq[(Long, IndexedSeq[Long])] = {
    df.filter(col(idCol) < numQueries).select(col(idCol), col(arrCol))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toIndexedSeq))
      .sortBy(_._1).toIndexedSeq
  }

  /** Per-query ADC LOOKUP TABLE over one collected query-code array:
    * entry `m·K + c` holds the dot (or, for the residual L2 form, the
    * squared distance) of query subvector `m` with codebook entry `c`,
    * the `pts` layout [[adcFoldCol]] reads.
    */
  private def lutArrOf(vc: IndexedSeq[Long],
      books: IndexedSeq[IndexedSeq[IndexedSeq[Long]]],
      squared: Boolean): Seq[Long] =
    for { m <- 0 until PqSubspaces; c <- 0 until PqCentroids } yield {
      var s = 0L
      var j = 0
      while (j < PqSubDims) {
        val a = vc(m * PqSubDims + j)
        val b = books(m)(c)(j)
        s += (if (squared) (a - b) * (a - b) else a * b)
        j += 1
      }
      s
    }

  /** Driver twin of the coarse-routing window: each query's `nProbe`
    * nearest centroids by (squared integer distance, cent_id) — the
    * exact (d, cent_id)-ascending row_number election, over the same
    * [[ArrayExpressions.sqDistL]] Long arithmetic.
    */
  private def routeProbes(qiv: IndexedSeq[(Long, IndexedSeq[Long])],
      cents: Seq[Seq[Long]], nProbe: Int): Seq[(Long, Int)] =
    qiv.flatMap { case (q, iv) =>
      cents.zipWithIndex.map { case (c, i) =>
        val n = math.min(iv.length, c.length)
        var s = 0L
        var j = 0
        while (j < n) { val d = iv(j) - c(j); s += d * d; j += 1 }
        (s, i)
      }.sorted.take(nProbe).map { case (_, i) => (q, i) }
    }

  /** The exact-tail refine stage shared by the PQ cascades: the ADC
    * shortlist `(q_id, vec_id)` re-ranked by the exact full-width code
    * dot, top `k` per query. `qc` is the collected query batch's
    * `(q_id, qc)` — a driver-local relation, so attaching the query
    * codes costs no broadcast-build job over the coded frame.
    */
  private def pqExactRerank(cand: DataFrame, qc: DataFrame, k: Int): DataFrame = {
    import cand.sparkSession.implicits._
    cand
      .join(broadcast(qc), Seq("q_id"))
      .withColumn("score", ArrayExpressions.dotL($"qc", $"vc"))
      .withColumn("rnk",
        row_number().over(Window.partitionBy($"q_id").orderBy($"score".desc, $"vec_id"))
          .cast("long"))
      .filter($"rnk" <= k)
      .select($"q_id", $"vec_id", $"score", $"rnk")
      .orderBy($"q_id", $"rnk")
  }

  /** FILTERED ANN — vector search under a metadata predicate, the
    * production retrieval verb every vector store grows next
    * (category-scoped product search, label-scoped hard-negative
    * mining, tenant-scoped RAG): each query's top-k cosine neighbours
    * among ONLY the vectors sharing its `label`. The predicate is not
    * a post-filter over an unfiltered top-k (which under-fills k when
    * the label is rare — the classic filtered-ANN recall bug); it is
    * the candidate-generation JOIN KEY, so the scan partitions on
    * label and each query scores exactly its label's vectors.
    *
    * Scale shape: queries broadcast (query-sized), the corpus side
    * shuffles on label only if the join doesn't broadcast — with a
    * bounded label domain this is the label-sharded layout a filtered
    * index uses; rank filter compiles to WindowGroupLimit. At 100 TB
    * the label join composes with any of the index cascades (route
    * the IVF/PQ scan per label partition) — this operator pins the
    * semantics those compositions must preserve.
    */
  def filteredTopK(spark: SparkSession, dir: String,
      numQueries: Int = NumQueries, k: Int = TopK): DataFrame = {
    import spark.implicits._
    val e = Tables.load(spark, dir, "embeddings")
      .select($"vec_id", $"label".cast("long").as("label"),
        Vectors.toDouble($"embedding").as("emb"))
      .withColumn("nrm", Vectors.norm($"emb"))
    val q = e.filter($"vec_id" < numQueries)
      .select($"vec_id".as("q_id"), $"label", $"emb".as("qe"), $"nrm".as("nq"))
    broadcast(q).join(e, Seq("label"))
      .filter($"vec_id" =!= $"q_id")
      .withColumn("cos", round(ArrayExpressions.dot($"qe", $"emb") / ($"nq" * $"nrm"), 6))
      .withColumn("rnk",
        row_number().over(Window.partitionBy($"q_id").orderBy($"cos".desc, $"vec_id"))
          .cast("long"))
      .filter($"rnk" <= k)
      .select($"q_id", $"label", $"vec_id", $"cos", $"rnk")
      .orderBy($"q_id", $"rnk")
  }

  /** IVF+PQ composed ANN — the IndexIVFPQ serving shape (Jégou et al.
    * TPAMI 2011 §V; FAISS IndexIVFPQ with `by_residual=false`): the
    * trained coarse quantizer ([[trainIvfCentroidsOver]]) routes each
    * query to its [[IvfNProbe]] nearest inverted lists, and ONLY the
    * vectors in those lists are ADC-scored against the per-query
    * codebook LUT, then the shortlist is re-ranked by the exact code
    * dot. [[pqTopK]] scans every vector's codes; this composition
    * scans ~nProbe/k of them — the structure that serves
    * billion-vector indexes, because the ADC scan cost becomes
    * proportional to the probed lists, not the corpus.
    *
    * Scale shape: coarse assignment and PQ encoding are both map-side
    * projections against driver-literal models; the candidate join
    * distributes on cent_id (list-partitioned, how a cluster shards an
    * IVF index); the LUT join is a broadcast on (q_id, m, scode); ADC
    * is 8 integer adds per candidate in compressed space; both rank
    * filters compile to WindowGroupLimit. Integer-exact end to end, so
    * the DuckDB oracle replays coarse training, PQ training, routing,
    * ADC, and the refine bit-for-bit.
    */
  def ivfPqTopK(spark: SparkSession, dir: String,
      numQueries: Int = NumQueries, k: Int = TopK,
      nProbe: Int = IvfNProbe): DataFrame = {
    import spark.implicits._
    val e0 = Tables.load(spark, dir, "embeddings")
      .select($"vec_id", Vectors.toDouble($"embedding").as("emb"))
    val (e, cents, assign) = ivfAssignOver(e0, "vec_id", "emb",
      IvfNumCentroids, IvfKmeansIters,
      Some(s"ivf $dir $IvfNumCentroids $IvfKmeansIters"))
    val coded = pqCodedFrame(spark, dir)
    val books = trainOnce(spark, s"pq $dir")(trainPqBooks(coded))
    // packed-array ADC (r15, see pqTopK): candidates stay one row per
    // (query, vector) through the whole cascade; vc rides the
    // shortlist so the exact rerank shares the ADC window's exchange
    val encA = pqEncArrWithVc(coded, books)
    // r16: query batch collected once per run (collectBatchArr) —
    // coarse routing runs as the driver twin of the (d, cent_id)
    // window election (routeProbes) and the routing table / ADC LUTs /
    // rerank query codes enter the plan as driver-local relations.
    // Replaces a shuffle+window stage plus three broadcast-build jobs
    // that each re-derived the 5-row query subtree per run.
    val qiv = collectBatchArr(e, "vec_id", "iv", numQueries)
    val qvc = collectBatchArr(coded, "vec_id", "vc", numQueries)
    val lutA = qvc.map { case (q, vc) =>
      (q, lutArrOf(vc, books, squared = false))
    }.toDF("q_id", "pts")
    val probes = routeProbes(qiv, cents, nProbe).toDF("q_id", "cent_id")
    // the probed inverted lists — the ONLY vectors ADC ever touches
    val clist = broadcast(probes)
      .join(assign.select($"vec_id", $"cent_id"), Seq("cent_id"))
      .filter($"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id")
    val cand = clist
      .join(encA, Seq("vec_id"))
      .join(broadcast(lutA), Seq("q_id"))
      .withColumn("adc", adcFoldCol)
      .withColumn("crnk",
        row_number().over(Window.partitionBy($"q_id").orderBy($"adc".desc, $"vec_id")))
      .filter($"crnk" <= PqCandK)
      .select($"q_id", $"vec_id", $"vc")
    pqExactRerank(cand,
      qvc.map { case (q, vc) => (q, vc) }.toDF("q_id", "qc"), k)
  }

  /** MMR candidate-pool depth and the λ=7/10 relevance/diversity
    * trade-off as exact integers (mmr = 7·sim(q,d) − 3·max_sel sim). */
  val MmrCand = 20
  val MmrLambdaNum = 7
  val MmrLambdaDen = 10

  /** MAXIMAL-MARGINAL-RELEVANCE diversified top-k (Carbonell &
    * Goldstein, SIGIR 1998) — the diversity-aware selection verb a
    * training-data pipeline runs where plain top-k returns five copies
    * of the same boilerplate: greedily pick the candidate maximizing
    * λ·sim(query, d) − (1−λ)·max_{s∈selected} sim(d, s), so each pick
    * is relevant AND far from what's already chosen (diverse few-shot
    * example selection, dedup-aware retrieval, eval-set curation).
    *
    * Similarity is the int8 code dot ([[sqTopK]]'s integer score) and
    * λ = [[MmrLambdaNum]]/[[MmrLambdaDen]], so every MMR score is an
    * exact BIGINT and the oracle replays the greedy rounds
    * bit-for-bit (ties → lowest vec_id; the empty-selection max is 0,
    * safe because code dots are non-negative).
    *
    * Scale shape: the corpus-sized work is ONE scored scan per query
    * batch (broadcast queries, rank filter → WindowGroupLimit) that
    * bounds the pool to [[MmrCand]] per query; the k greedy rounds
    * then fold INSIDE one row-local expression over each query's
    * collected pool (queries × C struct rows — METADATA), so the whole
    * selection is a single job instead of k driver-scheduled rounds
    * (r15: the round loop's wall was ~k sequential checkpoint jobs
    * over ~100 rows, pure scheduling floor — measured, see
    * OPTIMIZATION_r15.md). The O(C²) pairwise sims are evaluated
    * inside that fold and never touch the corpus.
    */
  def mmrTopK(spark: SparkSession, dir: String,
      numQueries: Int = NumQueries, k: Int = TopK): DataFrame = {
    import spark.implicits._
    val coded = pqCodedFrame(spark, dir)
    val codeDot = ArrayExpressions.dotL($"qc", $"vc")
    val q = coded.filter($"vec_id" < numQueries)
      .select($"vec_id".as("q_id"), $"vc".as("qc"))
    val cand = broadcast(q).join(coded, $"vec_id" =!= $"q_id")
      .withColumn("qsim", codeDot)
      .withColumn("rn",
        row_number().over(Window.partitionBy($"q_id").orderBy($"qsim".desc, $"vec_id")))
      .filter($"rn" <= MmrCand)
      .select($"q_id", $"vec_id", $"qsim", $"vc")
    // The k greedy rounds fold INSIDE one expression over each query's
    // collected pool (queries × MmrCand struct rows — model-sized by
    // construction) instead of k driver-scheduled rounds: the r15
    // measurement showed the loop's wall was ~k sequential
    // checkpoint/join jobs over ~100 rows, pure job-scheduling floor.
    // Semantics unchanged: per round the remaining candidate maximizing
    // λ·qsim − (1−λ)·max_{s∈sel} dot(d, s) wins (ties → lowest vec_id);
    // the empty-selection max is 0 — safe to seed the max fold with,
    // because code dots are non-negative.
    val lam = MmrLambdaNum
    val oneMinusLam = MmrLambdaDen - MmrLambdaNum
    // the round's argmax — the fold's dominant kernel — bound ONCE per
    // round as a single-element transform's lambda variable (r16,
    // ADVICE: the r15 string-substitution inlined this aggregate into
    // both the sentinel check and the array_append, running it twice
    // per round; and a textual .replace of "best" was a trap for any
    // future occurrence of the substring)
    val bestAgg =
      s"""aggregate(
         |  transform(
         |    filter(pool, p -> !exists(sel, s0 -> s0.vec_id = p.vec_id)),
         |    p -> named_struct(
         |      'vec_id', p.vec_id,
         |      'mmr', $lam * p.qsim - $oneMinusLam * aggregate(sel,
         |               CAST(0 AS BIGINT),
         |               (m, s1) -> greatest(m, aggregate(
         |                 zip_with(p.vc, s1.vc, (x, y) -> x * y),
         |                 CAST(0 AS BIGINT), (a2, v) -> a2 + v))),
         |      'rnd', CAST(t AS BIGINT),
         |      'vc', p.vc)),
         |  named_struct('vec_id', CAST(-1 AS BIGINT),
         |               'mmr', CAST(-1000000000000000 AS BIGINT),
         |               'rnd', CAST(t AS BIGINT),
         |               'vc', CAST(array() AS ARRAY<BIGINT>)),
         |  (b, x) -> CASE WHEN x.mmr > b.mmr OR
         |                      (x.mmr = b.mmr AND x.vec_id < b.vec_id)
         |                 THEN x ELSE b END)""".stripMargin
    val selExpr = expr(
      s"""aggregate(
         |  sequence(1, $k),
         |  CAST(array() AS ARRAY<STRUCT<vec_id: BIGINT, mmr: BIGINT,
         |                               rnd: BIGINT, vc: ARRAY<BIGINT>>>),
         |  (sel, t) -> CASE WHEN size(sel) < t - 1 THEN sel ELSE
         |    element_at(transform(array($bestAgg), b ->
         |      CASE WHEN b.vec_id < 0 THEN sel ELSE
         |        array_append(sel, b) END), 1)
         |  END)""".stripMargin)
    cand.groupBy($"q_id")
      .agg(collect_list(struct($"vec_id", $"qsim", $"vc")).as("pool"))
      .select($"q_id", explode(selExpr).as("s"))
      .select($"q_id", $"s.vec_id".as("vec_id"), $"s.mmr".as("mmr"),
        $"s.rnd".as("rnd"))
      .orderBy($"q_id", $"rnd")
  }

  /** RESIDUAL-encoding IVF+PQ — the ACTUAL IndexIVFPQ default (Jégou
    * et al. TPAMI 2011 §V-A; FAISS `by_residual=true`): PQ codebooks
    * are trained on the RESIDUALS x − c(x) of each vector to its
    * coarse centroid, which concentrates the quantizer's budget on
    * the within-list variation (the part the coarse step didn't
    * explain) — the fidelity step that separates a toy IVFPQ from the
    * shipping one. Each query builds ONE ADC LUT PER PROBED LIST
    * (its residual differs per centroid), scores only that list's
    * codes, and the shortlist re-ranks by the exact fixed-point L2
    * (shift-invariant — the +[[IvfShift]] offset cancels in a − b).
    *
    * Everything runs in the [[ivCol]] fixed-point integer space —
    * residuals are SIGNED, so the codebook mean-update uses
    * truncating division on both engines (Scala `/` truncates; the
    * oracle spells the floor-vs-trunc difference out as an abs-first
    * CASE). Codebooks/centroids are driver literals; encoding and
    * routing are map-side; the LUT is queries × nProbe × M × K rows —
    * broadcast; ADC is 8 integer adds per candidate. Scale shape
    * identical to [[ivfPqTopK]] with a per-(q, list) LUT key.
    */
  def ivfPqResidualTopK(spark: SparkSession, dir: String,
      numQueries: Int = NumQueries, k: Int = TopK,
      nProbe: Int = IvfNProbe): DataFrame = {
    import spark.implicits._
    val (e, cents, assign) = ivfAssignOver(
      Tables.load(spark, dir, "embeddings")
        .select($"vec_id", Vectors.toDouble($"embedding").as("emb")),
      "vec_id", "emb", IvfNumCentroids, IvfKmeansIters,
      Some(s"ivf $dir $IvfNumCentroids $IvfKmeansIters"))
    val centsArrSql = s"array(${cents.map(c => s"array(${c.mkString(", ")})").mkString(", ")})"
    // residuals in fixed-point space, re-labelled `vc` so the PQ
    // trainer/encoder run unchanged; localCheckpoint = the barrier
    // (feeds training, encoding, and the exact-L2 refine)
    val rcv = e.select($"vec_id", $"iv")
      .join(assign.select($"vec_id", $"cent_id"), Seq("vec_id"))
      .withColumn("vc", expr(
        s"zip_with(iv, element_at($centsArrSql, cent_id + 1), (a, b) -> a - b)"))
      .select($"vec_id", $"cent_id", $"iv", $"vc")
      .localCheckpoint()
    val books = trainOnce(spark, s"pq-residual $dir")(
      trainPqBooks(rcv.select($"vec_id", $"vc")))
    // packed-array ADC (r15, see pqTopK) with the residual L2 kernel;
    // iv rides the shortlist so the exact-L2 refine shares the ADC
    // window's q_id exchange instead of joining back to rcv
    val encA = withSubCodes(rcv.select($"vec_id", $"vc", $"iv"), books,
        extra = Seq("iv"))
      .select(col("vec_id"),
        array((0 until PqSubspaces).map(m => col(s"sc$m").cast("long")): _*)
          .as("codes"),
        col("iv"))
    // r16: query batch collected once per run (collectBatchArr); the
    // coarse routing runs as routeProbes (the driver twin of the
    // (d, cent_id) window election) and the per-(q, list) residual
    // LUTs + the exact-refine query vectors enter the plan as
    // driver-local relations — replaces a shuffle+window probe stage
    // and three broadcast-build jobs re-deriving the 5-row query
    // subtree per run.
    val qiv = collectBatchArr(e, "vec_id", "iv", numQueries)
    val probesL = routeProbes(qiv, cents, nProbe)
    val probes = probesL.toDF("q_id", "cent_id")
    // one LUT per (query, probed list): the query's residual w.r.t.
    // THAT list's centroid — L2 ADC (the FAISS form): per-subspace
    // SQUARED DISTANCE of the query residual to each codebook entry;
    // within a shared list Σₘ ‖rq_m − code_m‖² approximates ‖x − y‖²
    // exactly up to code error, because x − y = rx − ry under the
    // same centroid. Packed into one pts array per (q, list) row —
    // books and query residuals are driver values (lutArrOf twin).
    val qivMap = qiv.toMap
    val lutA = probesL.map { case (q, c) =>
      val res = qivMap(q).zip(cents(c)).map { case (a, b) => a - b }
      (q, c, lutArrOf(res.toIndexedSeq, books, squared = true))
    }.toDF("q_id", "cent_id", "pts")
    // scan: only the probed lists' codes, keyed by (q, list)
    val cand = broadcast(probes)
      .join(rcv.select($"vec_id", $"cent_id"), Seq("cent_id"))
      .filter($"vec_id" =!= $"q_id")
      .join(encA, Seq("vec_id"))
      .join(broadcast(lutA), Seq("q_id", "cent_id"))
      .withColumn("adc", adcFoldCol)
      .withColumn("crnk",
        row_number().over(Window.partitionBy($"q_id").orderBy($"adc", $"vec_id")))
      .filter($"crnk" <= PqCandK)
      .select($"q_id", $"vec_id", $"iv")
    // exact refine: fixed-point L2 (the shift cancels), rank ascending —
    // runs in the SAME post-exchange stage (iv carried by the shortlist)
    cand
      .join(broadcast(qiv.toDF("q_id", "qiv")), Seq("q_id"))
      .withColumn("dist", ArrayExpressions.sqDistL($"qiv", $"iv"))
      .withColumn("rnk",
        row_number().over(Window.partitionBy($"q_id").orderBy($"dist", $"vec_id"))
          .cast("long"))
      .filter($"rnk" <= k)
      .select($"q_id", $"vec_id", $"dist", $"rnk")
      .orderBy($"q_id", $"rnk")
  }

  /** Map-side IVF ASSIGNER against FROZEN centroids: any `(vec_id,
    * emb)` frame → `(vec_id, cent_id)` — the list-routing step an IVF
    * index applies to every newly ingested vector, published-model
    * form (the coarse twin of [[pqEncodeWith]]). Pure projections
    * against driver literals, so it runs VERBATIM on a structured
    * stream (`EventStreams.assignVectorStream`).
    *
    * Stream-safety note: the batch path ([[ivfAssignOver]]) uses
    * `.cache()` as a projection-collapse barrier so the norm fold
    * isn't re-inlined into every per-centroid distance lambda (the
    * r2/r4 HOF trap) — a stream can't cache. Here the norm enters the
    * quantizer as a COLLECTION ARGUMENT (`array_repeat(nrm, …)`),
    * which Spark evaluates once per row, so the expression is safe
    * without a barrier; the arithmetic is bit-identical to [[ivCol]]'s
    * (same divide, floor, shift per element).
    */
  def ivfAssignWith(vecs: DataFrame, cents: Seq[Seq[Long]]): DataFrame = {
    import vecs.sparkSession.implicits._
    val e = vecs
      .withColumn("nrm", Vectors.norm($"emb"))
      .withColumn("iv", expr(
        s"zip_with(emb, array_repeat(nrm, size(emb)), " +
          s"(x, n) -> CAST(floor(x / n * $IvfScale) AS BIGINT) + $IvfShift)"))
    val dists = cents.zipWithIndex.map { case (c, i) => sqDistTo(c).as(s"d$i") }
    val withD = e.select(($"vec_id" +: dists): _*)
    val m = least(cents.indices.map(i => col(s"d$i")): _*)
    val cid = coalesce(cents.indices.map(i => when(col(s"d$i") === m, i)): _*)
    withD.withColumn("cent_id", cid).select($"vec_id", $"cent_id")
  }

  /** IVF SCAN-FRACTION report — the efficiency table that justifies
    * routing: per query, how many vectors its [[IvfNProbe]] probed
    * lists actually contain (`n_cand`) against the corpus size, in
    * ppm. This is the number an IVF rollout watches next to
    * [[ivfBalance]]: balance says the lists are even, scan-fraction
    * says each query touches ~nProbe/k of the data — together they
    * are the capacity model (`expected scan cost = scan_ppm × corpus
    * bytes`). Lists are disjoint (each vector lives in exactly one),
    * so the count needs no distinct.
    */
  def ivfPqScanFrac(spark: SparkSession, dir: String,
      numQueries: Int = NumQueries, nProbe: Int = IvfNProbe): DataFrame = {
    import spark.implicits._
    val (e, cents, assign) = ivfAssignOver(
      Tables.load(spark, dir, "embeddings")
        .select($"vec_id", Vectors.toDouble($"embedding").as("emb")),
      "vec_id", "emb", IvfNumCentroids, IvfKmeansIters,
      Some(s"ivf $dir $IvfNumCentroids $IvfKmeansIters"))
    // r16: driver-twin coarse routing over the collected query batch
    // (see ivfPqTopK) — the probe table enters as a local relation
    val probes = routeProbes(collectBatchArr(e, "vec_id", "iv", numQueries),
      cents, nProbe).toDF("q_id", "cent_id")
    broadcast(probes)
      .join(assign.select($"vec_id", $"cent_id"), Seq("cent_id"))
      .filter($"vec_id" =!= $"q_id")
      .groupBy($"q_id").agg(count(lit(1)).as("n_cand"))
      .crossJoin(broadcast(assign.agg(count(lit(1)).as("n_corpus"))))
      .withColumn("scan_ppm", expr("n_cand * 1000000 div n_corpus"))
      .orderBy($"q_id")
  }

  /** Power-iteration rounds and the fixed-point scale of the iterated
    * direction vector. The scale bounds the exact integers: with codes
    * centered into [−255, 255] and |v| ≤ [[PowerScale]], a vector's
    * projection stays ≤ 64·255·10³ ≈ 1.6e7 and each component of
    * u = C·v ≤ N·4.2e9. u must fit BIGINT, as the DuckDB oracle's
    * per-dim sums do, which holds up to N ≈ 2·10⁹ vectors; past that
    * the power round fails instead of wrapping. The Gram entries
    * themselves (≤ N·255²) fit up to N ≈ 1.4·10¹⁴, and the
    * renormalization |u|·scale runs in exact integers. */
  val PowerIters = 3
  val PowerScale = 1000L

  /** TOP PRINCIPAL DIRECTION of the embedding distribution by POWER
    * ITERATION — the anisotropy probe an embedding pipeline runs
    * before trusting cosine distances (a collapsed or rogue dominant
    * direction makes every similarity score lie; cf. the
    * representation-degeneration literature): iterate v ← C·v over
    * the covariance C of the CENTERED int8 codes, renormalizing each
    * round to fixed-point scale [[PowerScale]] by the max |component|.
    *
    * All-integer end to end — centering by the floor per-dim mean,
    * C and C·v exact, normalization as sign(u)·((|u|·scale) div
    * max|u|) (abs-first, so truncating and floor division agree on
    * negatives) — so the DuckDB oracle, which runs each round as
    * v ← Xᵀ(X v) over the centered codes, matches bit-for-bit:
    * (XᵀX)v = Xᵀ(Xv) over the integers.
    *
    * Scale shape: ONE corpus scan ([[codeGram]]) aggregates the exact
    * BIGINT Gram statistics Σx·xᵀ (64×64), Σx and n of the codes; the
    * centering, the [[PowerIters]] rounds and the output are 64×64
    * driver algebra, and the 64 rows leave as a local relation already
    * in `dim` order (no sort, no exchange). Per vector the scan costs
    * 64·65/2 checked multiply-adds; its result is model-sized at any N.
    *
    * The Gram is recomputed on every call and never memoized: it is a
    * function of the table's current rows, not a frozen model like the
    * [[quantStats]] bounds it codes against, so keeping it across
    * calls would serve a result computed by an earlier query.
    */
  def principalDir(spark: SparkSession, dir: String,
      iters: Int = PowerIters): DataFrame = {
    import spark.implicits._
    val (_, _, v) = covarianceAndDirection(spark, dir, iters)
    v.zipWithIndex.map { case (c, d) => (d.toLong, c) }.toDF("dim", "v")
  }

  /** The corpus size n, the centered covariance C and the
    * power-iterated direction, from one [[codeGram]] pass — shared by
    * [[principalDir]] and [[anisotropy]]. */
  private def covarianceAndDirection(spark: SparkSession, dir: String,
      iters: Int): (Long, IndexedSeq[IndexedSeq[BigInt]], IndexedSeq[Long]) = {
    val (mns, mxs) = quantStats(spark, dir)
    val (n, c) = centeredCovariance(codeGram(spark, dir, mns, mxs), mns.length)
    var v: IndexedSeq[Long] = IndexedSeq.fill(c.length)(1L)
    for (_ <- 1 to iters) {
      val u = c.map(row => row.indices.map(j => row(j) * v(j)).sum)
      u.find(!_.isValidLong).foreach(ud =>
        throw new ArithmeticException(s"BIGINT overflow in a power round: $ud"))
      val m = u.map(_.abs).max
      require(m > 0, "degenerate direction: all components zero")
      v = u.map(ud => (ud.abs * PowerScale / m * ud.signum).toLong)
    }
    (n, c, v)
  }

  /** One described corpus pass: every embedding's codes under the
    * frozen quantizer bounds `mns`/`mxs` ([[quantStats]]), aggregated
    * by [[GramAgg]] into its exact statistics buffer. Its jobs carry
    * the description `graft.gram <dir>`. */
  private def codeGram(spark: SparkSession, dir: String,
      mns: Seq[Double], mxs: Seq[Double]): Array[Long] = {
    import spark.implicits._
    val gram = udaf(new GramAgg(mns.length))
    val emb = Tables.load(spark, dir, "embeddings")
      .select(Vectors.toDouble($"embedding").as("emb"))
    Tables.describe(spark, s"graft.gram $dir") {
      emb.select(gram(pqCodesCol(mns, mxs))).as[Array[Long]].collect().head
    }
  }

  /** (n, C) from a [[GramAgg]] buffer over `d`-long vectors:
    * μ = Σx div n (non-negative code sums, so truncating and floor
    * division agree), then
    * C = G − μ·Σxᵀ − Σx·μᵀ + n·μμᵀ = Σ (x − μ)(x − μ)ᵀ, exactly. */
  private def centeredCovariance(stats: Array[Long],
      d: Int): (Long, IndexedSeq[IndexedSeq[BigInt]]) = {
    val n = stats(d * d + d)
    require(n > 0, "no vectors to center")
    val sx = (0 until d).map(i => BigInt(stats(d * d + i)))
    val mu = sx.map(_ / n)
    val c = (0 until d).map { i =>
      (0 until d).map { j =>
        val g = BigInt(stats(math.min(i, j) * d + math.max(i, j)))
        g - mu(i) * sx(j) - sx(i) * mu(j) + mu(i) * mu(j) * n
      }
    }
    (n, c)
  }

  /** Exact BIGINT Gram statistics of `d`-long code vectors, for
    * [[codeGram]]. The buffer (also the result) is
    * `[G (d·d, row-major, upper triangle i ≤ j filled) | Σx (d) | n]`.
    * Every sum and product is checked (`Math.addExact` /
    * `multiplyExact`), so an overflow fails the query with an
    * `ArithmeticException` instead of wrapping — as ANSI sums do. A
    * null vector, a vector of another length or a null element fails
    * loudly too; none yields a result.
    */
  private[graft] final class GramAgg(d: Int)
      extends Aggregator[Array[java.lang.Long], Array[Long], Array[Long]] {
    def zero: Array[Long] = new Array[Long](d * d + d + 1)

    // boxed input: a primitive array would decode a null element as 0
    def reduce(b: Array[Long], in: Array[java.lang.Long]): Array[Long] = {
      require(in != null, "null code vector")
      require(in.length == d, s"code vector of length ${in.length}, expected $d")
      val x = in.map { e => require(e != null, "null element in a code vector"); e.longValue }
      var i = 0
      while (i < d) {
        val xi = x(i)
        var j = i
        while (j < d) {
          b(i * d + j) = Math.addExact(b(i * d + j), Math.multiplyExact(xi, x(j)))
          j += 1
        }
        b(d * d + i) = Math.addExact(b(d * d + i), xi)
        i += 1
      }
      b(d * d + d) = Math.addExact(b(d * d + d), 1L)
      b
    }

    def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var k = 0
      while (k < a.length) { a(k) = Math.addExact(a(k), b(k)); k += 1 }
      a
    }

    def finish(b: Array[Long]): Array[Long] = b
    def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
    def outputEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
  }

  /** ANISOTROPY report — the one-row verdict on [[principalDir]]'s
    * probe: how much of the total variance the top direction
    * captures, as the exact Rayleigh-quotient ratio
    * Σ(x·v)² / (|v|²·Σ|x|²) in ppm (≤ 10⁶ by Cauchy–Schwarz). A
    * healthy isotropic embedding sits near 1/64·10⁶ ≈ 15625; a
    * collapsed one nears 10⁶ — the "all my cosines are 0.9"
    * pathology. Over the centered codes Σ(x·v)² = vᵀCv and
    * Σ|x|² = trace(C), so the ratio comes from the same one-pass Gram
    * as the direction, in exact integers on the driver (no extra
    * corpus scan, no overflow at any N the Gram holds).
    */
  def anisotropy(spark: SparkSession, dir: String,
      iters: Int = PowerIters): DataFrame = {
    import spark.implicits._
    val (n, c, v) = covarianceAndDirection(spark, dir, iters)
    val ss = c.indices.map(i => c(i).indices.map(j => c(i)(j) * v(j)).sum * v(i)).sum
    val xx = c.indices.map(i => c(i)(i)).sum
    val vv = BigInt(v.map(x => x * x).sum)
    // Option keeps explained_ppm nullable, as the SQL division made it
    Seq((n, Option((ss * 1000000 / (vv * xx)).toLong))).toDF("n_vecs", "explained_ppm")
  }

  /** Embedding-space OUTLIERS per class — the "these examples don't
    * belong to their label" audit a curation pass runs before
    * training: every vector is reduced to [[quantize]]'s int8 codes,
    * each label's centroid is the per-dim INTEGER mean of its codes
    * (floor division of non-negative sums — exact in both engines; a
    * float centroid would inherit cross-row float-sum ordering and
    * could never be oracle-checked), and each vector's squared
    * integer distance to its own label's centroid ranks the k
    * farthest per label.
    *
    * Scale shape: one 64× posexplode, a (label, dim)-keyed aggregate
    * whose result is labels×dims rows (broadcast back), a vec-keyed
    * aggregate for distances, and a rank filter that compiles to
    * WindowGroupLimit (map-side k-heaps — the label partition key is
    * bounded-domain, but no task ever sorts a whole label's vectors).
    * Distances are ≤ 255²·64 per vector — integer, no overflow, no
    * IEEE anywhere past the quantizer.
    */
  def sqOutliers(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    import spark.implicits._
    val e0 = Tables.load(spark, dir, "embeddings")
      .select($"vec_id", $"label".cast("long").as("label"),
        Vectors.toDouble($"embedding").as("emb"))
    // frozen quantizer bounds from the shared trainOnce slot (r16 —
    // see quantStats; the per-invocation collect is gone)
    val (mnsV, mxsV) = quantStats(spark, dir)
    val codes = pqCodesCol(mnsV, mxsV)
    val coded = e0.select($"vec_id", $"label", posexplode(codes).as(Seq("dim", "code")))
    val cent = coded.groupBy($"label", $"dim")
      .agg(expr("CAST(sum(code) div count(1) AS BIGINT)").as("cent"))
    val dist = coded.join(broadcast(cent), Seq("label", "dim"))
      .groupBy($"vec_id", $"label")
      .agg(sum(($"code" - $"cent") * ($"code" - $"cent")).as("dist2"))
    dist
      .withColumn("rnk", row_number().over(
        Window.partitionBy($"label").orderBy($"dist2".desc, $"vec_id")).cast("long"))
      .filter($"rnk" <= k)
      .select($"label", $"vec_id", $"dist2", $"rnk")
      .orderBy($"label", $"rnk")
  }

  /** HARD-NEGATIVE mining — the contrastive-training verb: for each
    * query vector, the k most-similar vectors carrying a DIFFERENT
    * label (the "looks like X but isn't" examples a contrastive or
    * reranker fine-tune is built from). [[cosineTopKOver]]'s exact
    * brute-force scan with the cross-label predicate pushed into the
    * join condition — the filter prunes pairs before any scoring work,
    * and the same rounding/tie conventions keep it oracle-exact. Scale
    * path: swap the brute scan for the IVF/LSH candidate set; the
    * label predicate composes unchanged.
    */
  def hardNegatives(spark: SparkSession, dir: String,
      numQueries: Int = NumQueries, k: Int = TopK): DataFrame = {
    import spark.implicits._
    val e = Tables.load(spark, dir, "embeddings")
      .select($"vec_id", $"label".cast("long").as("label"),
        Vectors.toDouble($"embedding").as("emb"))
      .withColumn("nrm", Vectors.norm($"emb"))
    val q = e.filter($"vec_id" < numQueries)
      .select($"vec_id".as("q_id"), $"label".as("q_label"),
        $"emb".as("qe"), $"nrm".as("nq"))
    // fixed-size probe side: broadcast explicitly (see cosineTopKOver)
    broadcast(q).join(e, $"vec_id" =!= $"q_id" && $"label" =!= $"q_label")
      .withColumn("cos", round(ArrayExpressions.dot($"qe", $"emb") / ($"nq" * $"nrm"), 6))
      .withColumn("rnk",
        row_number().over(Window.partitionBy($"q_id").orderBy($"cos".desc, $"vec_id"))
          .cast("long"))
      .filter($"rnk" <= k)
      .select($"q_id", $"vec_id", $"label", $"cos", $"rnk")
      .orderBy($"q_id", $"rnk")
  }

  /** Fixed-point scale for [[dimStats]] (µ-units: 10⁶ per 1.0). */
  val DimStatsScale = 1000000L

  /** Per-DIMENSION embedding health report — the "is this embedding
    * column sane" audit run before any ANN index or dedup pass trusts
    * the vectors: per dim the count, min/max/sum and population
    * variance of the components in exact µ-fixed-point
    * (`floor(x·10⁶)` — floor, not round, one IEEE double multiply per
    * value, bit-identical across engines). Dead dimensions (variance
    * 0), clipped ranges, and scale drift between dims are all visible,
    * and the whole report is hash-checkable — a float mean/variance
    * would inherit cross-row float-summation order and never could be.
    *
    * Scale shape: one 64× posexplode into a dim-keyed aggregate — 64
    * result rows whatever the corpus, map-side partials collapse every
    * task to ≤64 rows before the shuffle. The variance numerator
    * n·Σq² − (Σq)² runs in DECIMAL(38,0) (at 10¹² vectors it reaches
    * ~10³⁶ — silent BIGINT-wrap territory) and is divided back to a
    * per-value BIGINT before emission; no DECIMAL crosses the hashed
    * contract. Truncating `div` equals floor here because the
    * numerator is a scaled variance (≥ 0) and n² > 0.
    */
  def dimStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "embeddings")
      .select(posexplode(Vectors.toDouble($"embedding")).as(Seq("dim", "x")))
      .select($"dim".cast("long").as("dim"),
        floor($"x" * lit(DimStatsScale.toDouble)).cast("long").as("q"))
      .groupBy($"dim")
      .agg(count(lit(1)).as("n"),
        min($"q").as("min_q"), max($"q").as("max_q"), sum($"q").as("sum_q"),
        expr("""CAST((count(1) * sum(CAST(q AS DECIMAL(38,0)) * CAST(q AS DECIMAL(38,0)))
               |      - CAST(sum(q) AS DECIMAL(38,0)) * CAST(sum(q) AS DECIMAL(38,0)))
               |     div (count(1) * count(1)) AS BIGINT)""".stripMargin).as("var_q"))
      .orderBy($"dim")
  }

  /** Output dimensionality of [[rpSketch]]. */
  val RpSketchDims = 16

  /** Deterministic ±1 for sketch dim `j`, input dim `d`: parity of
    * the first hex nibble of md5("j|d") — the same value both engines
    * compute from the same string, and (being md5) uniform enough for
    * a JL sign matrix. Computed driver-side here (MD5 is MD5); the
    * oracle computes it in SQL.
    */
  private[graft] def rpSign(j: Int, d: Int): Long = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$j|$d".getBytes("UTF-8"))
    if (((h(0) >> 4) & 1) == 0) 1L else -1L
  }

  /** RANDOM-SIGN PROJECTION sketch (Johnson–Lindenstrauss with a
    * ±1 matrix — Achlioptas' database-friendly construction): every
    * embedding's int8 codes ([[quantize]]'s exact formula) are
    * projected to [[RpSketchDims]] integer dims, `sketch_j =
    * Σ_d code_d · sign(j, d)` — the dimensionality-reduction verb an
    * ANN pipeline runs to cut the bytes-per-vector a first-pass scan
    * touches (64 int8 dims → 16 small ints, distances preserved to
    * JL tolerance; candidates re-rank in the full space). The sign
    * matrix is a deterministic hash function of (j, d), so the sketch
    * is reproducible anywhere with no stored model beyond the
    * quantizer's 2×64 floats.
    *
    * Scale shape: codes are the collected-model map-side projection
    * (no shuffle); the projection is one posexplode joined against
    * the broadcast 16×64 sign matrix with a map-side-combinable
    * (vec_id, sdim) sum — partials collapse before any exchange.
    * Integer end to end: no IEEE sum order anywhere.
    */
  def rpSketch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e0 = Tables.load(spark, dir, "embeddings")
      .select($"vec_id", Vectors.toDouble($"embedding").as("emb"))
    // frozen quantizer bounds from the shared trainOnce slot (r16 —
    // see quantStats; the per-invocation collect is gone)
    val (mnsV, mxsV) = quantStats(spark, dir)
    val codes = pqCodesCol(mnsV, mxsV)
    val signs = (0 until RpSketchDims).flatMap(j =>
      mnsV.indices.map(d => (j.toLong, d.toLong, rpSign(j, d))))
      .toDF("sdim", "dim", "sign")
    e0.select($"vec_id", posexplode(codes).as(Seq("dim", "code")))
      .join(broadcast(signs), Seq("dim"))
      .groupBy($"vec_id", $"sdim")
      .agg(sum($"code" * $"sign").as("sval"))
      .orderBy($"vec_id", $"sdim")
  }

  /** Sketch-prefilter candidate-set size for [[rpTopK]]. */
  val RpCandK = 100

  /** ANN through the SKETCH: [[rpSketch]]'s 16 integer dims rank a
    * candidate set of [[RpCandK]] per query by the exact integer
    * sketch DOT PRODUCT (¼ the bytes of the full code scan — for
    * ±1 random signs ⟨sk_q,sk_v⟩ is an unbiased estimator of the
    * code dot ⟨q,v⟩ scaled by the sketch width, so the coarse rank
    * targets the same MIPS objective the re-rank scores), then ONLY
    * the candidates are re-ranked by the full 64-dim integer code
    * dot ([[sqTopK]]'s exact score). This is the two-stage shape a
    * billion-vector serving path runs — coarse scan cheap, exact
    * math on a vanishing fraction — expressed as two rank filters
    * that both compile to WindowGroupLimit. Integer end to end, so
    * the whole cascade is oracle-exact; the spec measures its recall
    * against the uncompressed [[sqTopK]] truth. (Ranking candidates
    * by sketch L2 instead is the classic MIPS mistake: high-dot,
    * high-norm vectors sit far in L2 and never enter the candidate
    * set — recall collapsed to 0.16 when this stage did that.)
    */
  def rpTopK(spark: SparkSession, dir: String,
      numQueries: Int = NumQueries, k: Int = TopK): DataFrame =
    // the coded frame is a materialization barrier: vc feeds both the
    // sketch agg and the re-rank dot; without it CollapseProject
    // re-inlines the whole quantizer into every consumer (the r4
    // lesson). pqCodedFrame IS that barrier (same codes, same eager
    // localCheckpoint), shared with the PQ cascade's derivation.
    rpTopKOver(spark, dir, pqCodedFrame(spark, dir), numQueries, k)

  /** [[rpTopK]]'s cascade over a prepared coded frame (see
    * [[sqTopKOver]] — the [[recallQuantized]] shared-materialization
    * seam).
    */
  private def rpTopKOver(spark: SparkSession, dir: String, coded: DataFrame,
      numQueries: Int, k: Int): DataFrame = {
    import spark.implicits._
    val (mnsV, _) = quantStats(spark, dir)
    val signs = (0 until RpSketchDims).flatMap(j =>
      mnsV.indices.map(d => (j.toLong, d.toLong, rpSign(j, d))))
      .toDF("sdim", "dim", "sign")
    val sk = coded.select($"vec_id", posexplode($"vc").as(Seq("dim", "code")))
      .join(broadcast(signs), Seq("dim"))
      .groupBy($"vec_id", $"sdim").agg(sum($"code" * $"sign").as("sval"))
      .groupBy($"vec_id")
      .agg(expr("transform(array_sort(collect_list(struct(sdim, sval))), s -> s.sval)")
        .as("sk"))
    val q = sk.filter($"vec_id" < numQueries)
      .select($"vec_id".as("q_id"), $"sk".as("qs"))
    val cand = broadcast(q).join(sk, $"vec_id" =!= $"q_id")
      .withColumn("sdot", ArrayExpressions.dotL($"qs", $"sk"))
      .withColumn("crnk",
        row_number().over(Window.partitionBy($"q_id").orderBy($"sdot".desc, $"vec_id")))
      .filter($"crnk" <= RpCandK)
      .select($"q_id", $"vec_id")
    cand
      .join(coded, Seq("vec_id"))
      .join(broadcast(coded.filter($"vec_id" < numQueries)
        .select($"vec_id".as("q_id"), $"vc".as("qc"))), Seq("q_id"))
      .withColumn("score", ArrayExpressions.dotL($"qc", $"vc"))
      .withColumn("rnk",
        row_number().over(Window.partitionBy($"q_id").orderBy($"score".desc, $"vec_id"))
          .cast("long"))
      .filter($"rnk" <= k)
      .select($"q_id", $"vec_id", $"score", $"rnk")
      .orderBy($"q_id", $"rnk")
  }

  /** Per-label CENTROID DRIFT between two corpus snapshots (the
    * even/odd `vec_id` halves, the repo's standing two-snapshot
    * convention) — the embedding-space monitoring verb a pipeline
    * runs across crawls or encoder versions: each half's per-label
    * integer centroid ([[sqOutliers]]'s floor-div form), compared as
    * the exact integer squared L2 between centroids. A drifting
    * label means the two snapshots' examples of that class live in
    * different regions — retrain/recalibrate evidence. One
    * (half, label, dim)-keyed aggregate over the 64× explode, a
    * labels×dims join, a label-keyed sum: all bounded-domain keys.
    */
  def centroidDrift(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e0 = Tables.load(spark, dir, "embeddings")
      .select($"vec_id", $"label".cast("long").as("label"),
        Vectors.toDouble($"embedding").as("emb"))
    val stats = e0.select(posexplode($"emb").as(Seq("dim", "x")))
      .groupBy($"dim").agg(min($"x").as("mn"), max($"x").as("mx"))
      .collect().sortBy(_.getInt(0))
    val mns = lit(stats.map(_.getDouble(1)))
    val mxs = lit(stats.map(_.getDouble(2)))
    val codes = transform(sequence(lit(0), lit(stats.length - 1)), i => {
      val x = element_at($"emb", i + 1)
      val mn = element_at(mns, i + 1)
      val mx = element_at(mxs, i + 1)
      when(mx === mn, lit(0L))
        .otherwise(least(floor((x - mn) * 255.0 / (mx - mn)), lit(255.0)).cast("long"))
    })
    val coded = e0
      .select($"vec_id", ($"vec_id" % 2).as("half"), $"label",
        posexplode(codes).as(Seq("dim", "code")))
    val cent = coded.groupBy($"half", $"label", $"dim")
      .agg(expr("CAST(sum(code) div count(1) AS BIGINT)").as("cent"),
        countDistinct($"vec_id").as("n"))
    val a = cent.filter($"half" === 0)
      .select($"label", $"dim", $"cent".as("ca"), $"n".as("n_a"))
    val b = cent.filter($"half" === 1)
      .select($"label", $"dim", $"cent".as("cb"), $"n".as("n_b"))
    a.join(b, Seq("label", "dim"))
      .groupBy($"label")
      .agg(max($"n_a").as("n_a"), max($"n_b").as("n_b"),
        sum(($"ca" - $"cb") * ($"ca" - $"cb")).as("drift2"))
      .orderBy($"label")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ann_rp_topk" -> ((s: SparkSession, d: String) => rpTopK(s, d)),
    "emb_centroid_drift" -> centroidDrift _,
    "emb_rp_sketch" -> rpSketch _,
    "emb_dim_stats" -> dimStats _,
    "ann_hard_negatives" -> ((s: SparkSession, d: String) => hardNegatives(s, d)),
    "emb_sq_outliers" -> ((s: SparkSession, d: String) => sqOutliers(s, d)),
    "ann_sq_topk" -> ((s: SparkSession, d: String) => sqTopK(s, d)),
    "emb_quantize" -> quantize _,
    "ann_cosine_topk" -> cosineTopK _,
    "ann_lsh_topk" -> ((s: SparkSession, d: String) => lshTopK(s, d)),
    "ann_lsh_multiprobe" -> ((s: SparkSession, d: String) => lshTopKMultiProbe(s, d)),
    "ann_ivf_topk" -> ((s: SparkSession, d: String) => ivfTopK(s, d)),
    "ann_ivf_balance" -> ((s: SparkSession, d: String) => ivfBalance(s, d)),
    "ann_ivf_compact" -> ((s: SparkSession, d: String) => ivfCompact(s, d)),
    "ann_rrf_fusion" -> rrfFusion _,
    "ann_pq_topk" -> ((s: SparkSession, d: String) => pqTopK(s, d)),
    "ann_ivfpq_topk" -> ((s: SparkSession, d: String) => ivfPqTopK(s, d)),
    "ann_filtered_topk" -> ((s: SparkSession, d: String) => filteredTopK(s, d)),
    "ann_mmr_topk" -> ((s: SparkSession, d: String) => mmrTopK(s, d)),
    "ann_ivfpq_scanfrac" -> ((s: SparkSession, d: String) => ivfPqScanFrac(s, d)),
    "emb_principal_dir" -> ((s: SparkSession, d: String) => principalDir(s, d)),
    "ann_ivfpq_residual_topk" -> ((s: SparkSession, d: String) => ivfPqResidualTopK(s, d)),
    "emb_anisotropy" -> ((s: SparkSession, d: String) => anisotropy(s, d)),
    "ann_recall_report" -> recallReport _,
    "ann_recall_quantized" -> recallQuantized _,
  )

  private def rpTopKOracle: String =
    s"""WITH d AS (
        |  SELECT i - 1 AS dim,
        |         min(CAST(embedding[i] AS DOUBLE)) AS mn,
        |         max(CAST(embedding[i] AS DOUBLE)) AS mx
        |  FROM embeddings CROSS JOIN generate_series(1, 64) AS t(i)
        |  GROUP BY 1),
        |codes AS (SELECT vec_id, d.dim,
        |            CASE WHEN mx = mn THEN 0
        |                 ELSE CAST(least(floor((CAST(embedding[d.dim + 1] AS DOUBLE) - mn) * 255.0
        |                                       / (mx - mn)), 255.0) AS BIGINT) END AS code
        |          FROM embeddings CROSS JOIN d),
        |signs AS (SELECT s.sdim, dd.dim,
        |            CASE WHEN (strpos('0123456789abcdef',
        |                   substr(md5(s.sdim || '|' || dd.dim), 1, 1)) - 1) % 2 = 0
        |                 THEN 1 ELSE -1 END AS sign
        |          FROM generate_series(0, ${RpSketchDims - 1}) AS s(sdim)
        |          CROSS JOIN generate_series(0, 63) AS dd(dim)),
        |sk AS (SELECT vec_id, s.sdim, CAST(sum(code * sign) AS BIGINT) AS sval
        |       FROM codes JOIN signs s ON s.dim = codes.dim GROUP BY 1, 2),
        |q AS (SELECT vec_id AS q_id, sdim, sval AS qval FROM sk WHERE vec_id < $NumQueries),
        |sdots AS (SELECT q.q_id, s.vec_id,
        |         CAST(sum(q.qval * s.sval) AS BIGINT) AS sdot
        |       FROM q JOIN sk s ON s.sdim = q.sdim AND s.vec_id <> q.q_id
        |       GROUP BY 1, 2),
        |cand AS (SELECT q_id, vec_id FROM
        |           (SELECT *, row_number() OVER (PARTITION BY q_id
        |              ORDER BY sdot DESC, vec_id) AS crnk FROM sdots)
        |         WHERE crnk <= $RpCandK),
        |dots AS (SELECT c.q_id, c.vec_id, CAST(sum(cq.code * cv.code) AS BIGINT) AS score
        |         FROM cand c
        |         JOIN codes cq ON cq.vec_id = c.q_id
        |         JOIN codes cv ON cv.vec_id = c.vec_id AND cv.dim = cq.dim
        |         GROUP BY 1, 2),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY q_id
        |        ORDER BY score DESC, vec_id) AS BIGINT) AS rnk FROM dots)
        |SELECT q_id, vec_id, score, rnk FROM r WHERE rnk <= $TopK
        |ORDER BY q_id, rnk""".stripMargin

  private def sqTopKOracle: String =
      """WITH d AS (
        |  SELECT i - 1 AS dim,
        |         min(CAST(embedding[i] AS DOUBLE)) AS mn,
        |         max(CAST(embedding[i] AS DOUBLE)) AS mx
        |  FROM embeddings CROSS JOIN generate_series(1, 64) AS t(i)
        |  GROUP BY 1),
        |q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings WHERE vec_id < 5),
        |pairs AS (SELECT q_id, e.vec_id, qe, e.embedding AS ve
        |          FROM q, embeddings e WHERE e.vec_id <> q_id),
        |flat AS (SELECT p.q_id, p.vec_id,
        |           CASE WHEN mx = mn THEN 0
        |                ELSE CAST(least(floor((CAST(qe[d.dim + 1] AS DOUBLE) - mn) * 255.0
        |                                      / (mx - mn)), 255.0) AS BIGINT) END AS cq,
        |           CASE WHEN mx = mn THEN 0
        |                ELSE CAST(least(floor((CAST(ve[d.dim + 1] AS DOUBLE) - mn) * 255.0
        |                                      / (mx - mn)), 255.0) AS BIGINT) END AS cv
        |         FROM pairs p CROSS JOIN d),
        |s AS (SELECT q_id, vec_id, CAST(sum(cq * cv) AS BIGINT) AS score
        |      FROM flat GROUP BY 1, 2),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY q_id
        |        ORDER BY score DESC, vec_id) AS BIGINT) AS rnk FROM s)
        |SELECT q_id, vec_id, score, rnk FROM r WHERE rnk <= 5
        |ORDER BY q_id, rnk""".stripMargin

  val oracle: Map[String, String] = Map(
    "ann_recall_quantized" -> recallQuantizedOracle,
    "ann_rp_topk" -> rpTopKOracle,
    "emb_centroid_drift" ->
      """WITH d AS (
        |  SELECT i - 1 AS dim,
        |         min(CAST(embedding[i] AS DOUBLE)) AS mn,
        |         max(CAST(embedding[i] AS DOUBLE)) AS mx
        |  FROM embeddings CROSS JOIN generate_series(1, 64) AS t(i)
        |  GROUP BY 1),
        |codes AS (SELECT vec_id, vec_id % 2 AS half, CAST(label AS BIGINT) AS label, d.dim,
        |            CASE WHEN mx = mn THEN 0
        |                 ELSE CAST(least(floor((CAST(embedding[d.dim + 1] AS DOUBLE) - mn) * 255.0
        |                                       / (mx - mn)), 255.0) AS BIGINT) END AS code
        |          FROM embeddings CROSS JOIN d),
        |cent AS (SELECT half, label, dim,
        |           CAST(sum(code) // count(*) AS BIGINT) AS cent,
        |           CAST(count(DISTINCT vec_id) AS BIGINT) AS n
        |         FROM codes GROUP BY 1, 2, 3)
        |SELECT a.label, max(a.n) AS n_a, max(b.n) AS n_b,
        |       CAST(sum((a.cent - b.cent) * (a.cent - b.cent)) AS BIGINT) AS drift2
        |FROM cent a JOIN cent b ON a.label = b.label AND a.dim = b.dim
        |WHERE a.half = 0 AND b.half = 1
        |GROUP BY 1 ORDER BY a.label""".stripMargin,
    "emb_rp_sketch" ->
      s"""WITH d AS (
        |  SELECT i - 1 AS dim,
        |         min(CAST(embedding[i] AS DOUBLE)) AS mn,
        |         max(CAST(embedding[i] AS DOUBLE)) AS mx
        |  FROM embeddings CROSS JOIN generate_series(1, 64) AS t(i)
        |  GROUP BY 1),
        |codes AS (SELECT vec_id, d.dim,
        |            CASE WHEN mx = mn THEN 0
        |                 ELSE CAST(least(floor((CAST(embedding[d.dim + 1] AS DOUBLE) - mn) * 255.0
        |                                       / (mx - mn)), 255.0) AS BIGINT) END AS code
        |          FROM embeddings CROSS JOIN d),
        |signs AS (SELECT s.sdim, dd.dim,
        |            CASE WHEN (strpos('0123456789abcdef',
        |                   substr(md5(s.sdim || '|' || dd.dim), 1, 1)) - 1) % 2 = 0
        |                 THEN 1 ELSE -1 END AS sign
        |          FROM generate_series(0, ${RpSketchDims - 1}) AS s(sdim)
        |          CROSS JOIN generate_series(0, 63) AS dd(dim))
        |SELECT vec_id, CAST(s.sdim AS BIGINT) AS sdim,
        |       CAST(sum(code * sign) AS BIGINT) AS sval
        |FROM codes JOIN signs s ON s.dim = codes.dim
        |GROUP BY 1, 2 ORDER BY vec_id, sdim""".stripMargin,
    "emb_dim_stats" ->
      s"""WITH q AS (
        |  SELECT i - 1 AS dim,
        |         CAST(floor(CAST(embedding[i] AS DOUBLE) * ${DimStatsScale}.0) AS BIGINT) AS q
        |  FROM embeddings CROSS JOIN generate_series(1, 64) AS t(i))
        |SELECT CAST(dim AS BIGINT) AS dim, CAST(count(*) AS BIGINT) AS n,
        |       min(q) AS min_q, max(q) AS max_q, CAST(sum(q) AS BIGINT) AS sum_q,
        |       CAST((count(*) * sum(q * q) - sum(q) * sum(q))
        |            // (count(*) * count(*)) AS BIGINT) AS var_q
        |FROM q GROUP BY dim ORDER BY dim""".stripMargin,
    "emb_sq_outliers" ->
      """WITH d AS (
        |  SELECT i - 1 AS dim,
        |         min(CAST(embedding[i] AS DOUBLE)) AS mn,
        |         max(CAST(embedding[i] AS DOUBLE)) AS mx
        |  FROM embeddings CROSS JOIN generate_series(1, 64) AS t(i)
        |  GROUP BY 1),
        |c AS (SELECT vec_id, CAST(label AS BIGINT) AS label, d.dim,
        |        CASE WHEN mx = mn THEN 0
        |             ELSE CAST(least(floor((CAST(embedding[d.dim + 1] AS DOUBLE) - mn) * 255.0
        |                                   / (mx - mn)), 255.0) AS BIGINT) END AS code
        |      FROM embeddings CROSS JOIN d),
        |cent AS (SELECT label, dim, CAST(sum(code) // count(*) AS BIGINT) AS cent
        |         FROM c GROUP BY 1, 2),
        |dist AS (SELECT c.vec_id, c.label,
        |           CAST(sum((code - cent) * (code - cent)) AS BIGINT) AS dist2
        |         FROM c JOIN cent USING (label, dim) GROUP BY 1, 2),
        |r AS (SELECT label, vec_id, dist2,
        |        CAST(row_number() OVER (PARTITION BY label
        |             ORDER BY dist2 DESC, vec_id) AS BIGINT) AS rnk
        |      FROM dist)
        |SELECT label, vec_id, dist2, rnk FROM r WHERE rnk <= 10
        |ORDER BY label, rnk""".stripMargin,
    "ann_sq_topk" -> sqTopKOracle,
    "emb_quantize" ->
      """WITH d AS (
        |  SELECT i - 1 AS dim,
        |         min(CAST(embedding[i] AS DOUBLE)) AS mn,
        |         max(CAST(embedding[i] AS DOUBLE)) AS mx
        |  FROM embeddings CROSS JOIN generate_series(1, 64) AS t(i)
        |  GROUP BY 1)
        |SELECT vec_id, d.dim,
        |       CASE WHEN mx = mn THEN 0
        |            ELSE CAST(least(floor((CAST(embedding[d.dim + 1] AS DOUBLE) - mn) * 255.0
        |                                  / (mx - mn)), 255.0) AS BIGINT) END AS code
        |FROM embeddings CROSS JOIN d
        |ORDER BY vec_id, dim""".stripMargin,
    "ann_hard_negatives" ->
      """WITH q AS (SELECT vec_id AS q_id, label AS q_label, embedding AS qe
        |           FROM embeddings WHERE vec_id < 5),
        |pairs AS (SELECT q_id, e.vec_id, CAST(e.label AS BIGINT) AS label,
        |                 qe, e.embedding AS ve
        |          FROM q, embeddings e WHERE e.vec_id <> q_id AND e.label <> q_label),
        |flat AS (SELECT q_id, vec_id, label, CAST(unnest(qe) AS DOUBLE) AS x,
        |                CAST(unnest(ve) AS DOUBLE) AS y FROM pairs),
        |dots AS (SELECT q_id, vec_id, label, sum(x*y) AS dot,
        |                sqrt(sum(x*x)) AS nq, sqrt(sum(y*y)) AS nv
        |         FROM flat GROUP BY 1, 2, 3),
        |scored AS (SELECT q_id, vec_id, label, round(dot/(nq*nv), 6) AS cos,
        |                  CAST(row_number() OVER (PARTITION BY q_id
        |                       ORDER BY round(dot/(nq*nv), 6) DESC, vec_id) AS BIGINT) AS rnk
        |           FROM dots)
        |SELECT q_id, vec_id, label, cos, rnk FROM scored WHERE rnk <= 5
        |ORDER BY q_id, rnk""".stripMargin,
    "ann_cosine_topk" -> cosineOracle,
    "ann_lsh_topk" -> lshOracle,
    "ann_rrf_fusion" -> rrfOracle,
    "ann_pq_topk" -> pqOracle,
    "ann_ivfpq_topk" -> ivfPqOracle,
    "ann_filtered_topk" -> filteredOracle,
    "ann_mmr_topk" -> mmrOracle,
    "ann_ivfpq_scanfrac" -> scanFracOracle,
    "emb_principal_dir" -> principalDirOracle,
    "ann_ivfpq_residual_topk" -> ivfPqResidualOracle,
    "emb_anisotropy" -> anisotropyOracle,
    "ann_lsh_multiprobe" -> multiprobeOracle,
    "ann_ivf_topk" -> ivfOracle,
    "ann_ivf_balance" ->
      s"""WITH $ivfAssignCtes,
        |counts AS (SELECT cent_id, CAST(count(*) AS BIGINT) AS n_vecs
        |           FROM assign GROUP BY 1),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS tot FROM assign),
        |ids AS (SELECT unnest(generate_series(0, $IvfNumCentroids - 1)) AS cent_id)
        |SELECT CAST(ids.cent_id AS INT) AS cent_id,
        |       coalesce(c.n_vecs, 0) AS n_vecs,
        |       (coalesce(c.n_vecs, 0) * $IvfNumCentroids * 1000000) // t.tot AS load_ppm
        |FROM ids LEFT JOIN counts c ON c.cent_id = ids.cent_id, t
        |ORDER BY cent_id""".stripMargin,
    "ann_recall_report" -> recallReportOracle,
    "ann_ivf_compact" ->
      s"""WITH $ivfAssignCtes,
        |cfl AS (SELECT vec_id, cent_id, vec_id % $CompactTombMod = 0 AS tomb FROM assign),
        |cc AS (SELECT cent_id, CAST(count(*) AS BIGINT) AS n_before,
        |         CAST(sum(CASE WHEN tomb THEN 1 ELSE 0 END) AS BIGINT) AS n_deleted
        |       FROM cfl GROUP BY 1),
        |ct AS (SELECT CAST(count(*) AS BIGINT) AS tot FROM cfl WHERE NOT tomb),
        |cids AS (SELECT unnest(generate_series(0, $IvfNumCentroids - 1)) AS cent_id)
        |SELECT CAST(cids.cent_id AS INT) AS cent_id,
        |       coalesce(cc.n_before, 0) AS n_before,
        |       coalesce(cc.n_deleted, 0) AS n_deleted,
        |       coalesce(cc.n_before, 0) - coalesce(cc.n_deleted, 0) AS n_after,
        |       CASE WHEN coalesce(cc.n_before, 0) = 0 THEN 0
        |            ELSE (coalesce(cc.n_deleted, 0) * 1000000) // cc.n_before
        |       END AS del_ppm,
        |       CASE WHEN coalesce(cc.n_before, 0) = 0 THEN 0
        |            ELSE (coalesce(cc.n_deleted, 0) * 1000000) // cc.n_before
        |       END >= $CompactBarPpm AS needs_compact,
        |       CASE WHEN ct.tot = 0 THEN CAST(0 AS BIGINT)
        |            ELSE ((coalesce(cc.n_before, 0) - coalesce(cc.n_deleted, 0))
        |                   * $IvfNumCentroids * 1000000) // ct.tot
        |       END AS load_ppm_after
        |FROM cids LEFT JOIN cc ON cc.cent_id = cids.cent_id, ct
        |ORDER BY cent_id""".stripMargin,
  )

  /** The brute-force / LSH oracle bodies live in named vals so
    * [[rrfOracle]] can nest the SAME text as subqueries — the fusion
    * oracle is the constituent oracles by construction, not a copy
    * that could drift.
    */
  private def cosineOracle: String =
    """WITH q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings WHERE vec_id < 5),
      |pairs AS (SELECT q_id, e.vec_id, qe, e.embedding AS ve
      |          FROM q, embeddings e WHERE e.vec_id <> q_id),
      |flat AS (SELECT q_id, vec_id, CAST(unnest(qe) AS DOUBLE) AS x,
      |                CAST(unnest(ve) AS DOUBLE) AS y FROM pairs),
      |dots AS (SELECT q_id, vec_id, sum(x*y) AS dot,
      |                sqrt(sum(x*x)) AS nq, sqrt(sum(y*y)) AS nv
      |         FROM flat GROUP BY 1, 2),
      |scored AS (SELECT q_id, vec_id, round(dot/(nq*nv), 6) AS cos,
      |                  CAST(row_number() OVER (PARTITION BY q_id
      |                       ORDER BY round(dot/(nq*nv), 6) DESC, vec_id) AS BIGINT) AS rnk
      |           FROM dots)
      |SELECT q_id, vec_id, cos, rnk FROM scored WHERE rnk <= 5
      |ORDER BY q_id, rnk""".stripMargin

  /** [[filteredTopK]]'s oracle — the cosine oracle with the label
    * equi-predicate inside candidate generation. */
  private def filteredOracle: String =
    """WITH q AS (SELECT vec_id AS q_id, CAST(label AS BIGINT) AS label, embedding AS qe
      |           FROM embeddings WHERE vec_id < 5),
      |pairs AS (SELECT q_id, q.label, e.vec_id, qe, e.embedding AS ve
      |          FROM q JOIN embeddings e ON CAST(e.label AS BIGINT) = q.label
      |          WHERE e.vec_id <> q_id),
      |flat AS (SELECT q_id, label, vec_id, CAST(unnest(qe) AS DOUBLE) AS x,
      |                CAST(unnest(ve) AS DOUBLE) AS y FROM pairs),
      |dots AS (SELECT q_id, label, vec_id, sum(x*y) AS dot,
      |                sqrt(sum(x*x)) AS nq, sqrt(sum(y*y)) AS nv
      |         FROM flat GROUP BY 1, 2, 3),
      |scored AS (SELECT q_id, label, vec_id, round(dot/(nq*nv), 6) AS cos,
      |                  CAST(row_number() OVER (PARTITION BY q_id
      |                       ORDER BY round(dot/(nq*nv), 6) DESC, vec_id) AS BIGINT) AS rnk
      |           FROM dots)
      |SELECT q_id, label, vec_id, cos, rnk FROM scored WHERE rnk <= 5
      |ORDER BY q_id, rnk""".stripMargin

  private def lshOracle: String =
    """WITH b AS (SELECT vec_id, embedding,
      |             array_to_string(list_transform(embedding[1:8],
      |               x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), '') AS bucket
      |           FROM embeddings),
      |q AS (SELECT vec_id AS q_id, embedding AS qe, bucket FROM b WHERE vec_id < 5),
      |pairs AS (SELECT q.q_id, q.bucket, e.vec_id, q.qe, e.embedding AS ve
      |          FROM q JOIN b e ON q.bucket = e.bucket AND e.vec_id <> q.q_id),
      |flat AS (SELECT q_id, bucket, vec_id, CAST(unnest(qe) AS DOUBLE) AS x,
      |                CAST(unnest(ve) AS DOUBLE) AS y FROM pairs),
      |dots AS (SELECT q_id, bucket, vec_id, sum(x*y) AS dot,
      |                sqrt(sum(x*x)) AS nq, sqrt(sum(y*y)) AS nv
      |         FROM flat GROUP BY 1, 2, 3),
      |scored AS (SELECT q_id, bucket, vec_id, round(dot/(nq*nv), 6) AS cos,
      |                  CAST(row_number() OVER (PARTITION BY q_id
      |                       ORDER BY round(dot/(nq*nv), 6) DESC, vec_id) AS BIGINT) AS rnk
      |           FROM dots)
      |SELECT q_id, bucket, vec_id, cos, rnk FROM scored WHERE rnk <= 5
      |ORDER BY q_id, rnk""".stripMargin

  private def multiprobeOracle: String =
    """WITH b AS (SELECT vec_id, embedding,
      |             array_to_string(list_transform(embedding[1:8],
      |               x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), '') AS bucket
      |           FROM embeddings),
      |q AS (SELECT vec_id AS q_id, embedding AS qe, bucket FROM b WHERE vec_id < 5),
      |probes AS (SELECT q_id, qe,
      |             CASE WHEN i = 0 THEN bucket
      |                  ELSE substr(bucket, 1, i - 1)
      |                    || (CASE WHEN substr(bucket, i, 1) = '1' THEN '0' ELSE '1' END)
      |                    || substr(bucket, i + 1) END AS bucket
      |           FROM q, (SELECT unnest(generate_series(0, 8)) AS i)),
      |pairs AS (SELECT p.q_id, e.vec_id, p.qe, e.embedding AS ve
      |          FROM probes p JOIN b e ON p.bucket = e.bucket AND e.vec_id <> p.q_id),
      |flat AS (SELECT q_id, vec_id, CAST(unnest(qe) AS DOUBLE) AS x,
      |                CAST(unnest(ve) AS DOUBLE) AS y FROM pairs),
      |dots AS (SELECT q_id, vec_id, sum(x*y) AS dot,
      |                sqrt(sum(x*x)) AS nq, sqrt(sum(y*y)) AS nv
      |         FROM flat GROUP BY 1, 2),
      |scored AS (SELECT q_id, vec_id, round(dot/(nq*nv), 6) AS cos,
      |                  CAST(row_number() OVER (PARTITION BY q_id
      |                       ORDER BY round(dot/(nq*nv), 6) DESC, vec_id) AS BIGINT) AS rnk
      |           FROM dots)
      |SELECT q_id, vec_id, cos, rnk FROM scored WHERE rnk <= 5
      |ORDER BY q_id, rnk""".stripMargin

  /** [[recallReport]]'s oracle: constituent oracle texts nested as
    * subqueries, probed against the brute-force truth subquery.
    */
  private def recallReportOracle: String = {
    // plain concatenation, NOT an interpolated stripMargin template:
    // stripMargin would re-process the nested oracle texts and eat the
    // leading pipe of multiprobe's `||` concat lines
    def probe(nm: String, sql: String) =
      s"SELECT '$nm' AS index_name, a.q_id, a.vec_id\n" +
        s"FROM (SELECT q_id, vec_id FROM (\n$sql\n) s_$nm) a"
    "WITH truth AS (SELECT q_id, vec_id FROM (\n" + cosineOracle + "\n) tr),\n" +
      "probes AS (\n  " + probe("ivf", ivfOracle) +
      "\n  UNION ALL " + probe("lsh", lshOracle) +
      "\n  UNION ALL " + probe("lsh_multiprobe", multiprobeOracle) + "),\n" +
      """h AS (SELECT index_name,
        |        CAST(sum(CASE WHEN t.q_id IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_hit
        |      FROM probes p LEFT JOIN truth t
        |        ON t.q_id = p.q_id AND t.vec_id = p.vec_id
        |      GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM truth)
        |SELECT index_name, n_truth, n_hit,
        |       CAST((CAST(n_hit AS HUGEINT) * 1000000) // n_truth AS BIGINT) AS recall_ppm
        |FROM h, n ORDER BY index_name""".stripMargin
  }

  /** [[recallQuantized]]'s oracle — plain concatenation, same nesting
    * discipline as [[recallReportOracle]].
    */
  private def recallQuantizedOracle: String = {
    def probe(nm: String, sql: String) =
      s"SELECT '$nm' AS index_name, a.q_id, a.vec_id\n" +
        s"FROM (SELECT q_id, vec_id FROM (\n$sql\n) s_$nm) a"
    "WITH truth AS (SELECT q_id, vec_id FROM (\n" + sqTopKOracle + "\n) tr),\n" +
      "probes AS (\n  " + probe("pq", pqOracle) +
      "\n  UNION ALL " + probe("rp_sketch", rpTopKOracle) + "),\n" +
      """h AS (SELECT index_name,
        |        CAST(sum(CASE WHEN t.q_id IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_hit
        |      FROM probes p LEFT JOIN truth t
        |        ON t.q_id = p.q_id AND t.vec_id = p.vec_id
        |      GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM truth)
        |SELECT index_name, n_truth, n_hit,
        |       CAST((CAST(n_hit AS HUGEINT) * 1000000) // n_truth AS BIGINT) AS recall_ppm
        |FROM h, n ORDER BY index_name""".stripMargin
  }

  /** [[rrfFusion]]'s oracle: the three constituent oracle texts nested
    * verbatim as subqueries (DuckDB accepts WITH inside a derived
    * table), fused by the same integer reciprocal-rank points.
    */
  private def rrfOracle: String =
    s"""WITH u AS (
      |  SELECT q_id, vec_id, rnk FROM ($cosineOracle) r1
      |  UNION ALL
      |  SELECT q_id, vec_id, rnk FROM ($lshOracle) r2
      |  UNION ALL
      |  SELECT q_id, vec_id, rnk FROM ($ivfOracle) r3),
      |sc AS (SELECT q_id, vec_id,
      |         CAST(sum($RrfScale // ($RrfK + rnk)) AS BIGINT) AS rrf,
      |         CAST(count(*) AS BIGINT) AS n_lists
      |       FROM u GROUP BY 1, 2),
      |r AS (SELECT q_id, vec_id, rrf, n_lists,
      |        CAST(row_number() OVER (PARTITION BY q_id
      |             ORDER BY rrf DESC, vec_id) AS BIGINT) AS rnk
      |      FROM sc)
      |SELECT q_id, vec_id, rrf, n_lists, rnk FROM r WHERE rnk <= 5
      |ORDER BY q_id, rnk""".stripMargin

  /** [[pqTopK]]'s oracle: per subspace the codebook training is
    * unrolled exactly like [[ivfOracle]]'s rounds (16-dim slices of
    * the quantized code list), then encoding, the per-query LUT, and
    * the ADC sum — every step exact integer arithmetic (code sums are
    * non-negative, so Spark's truncating Long division and DuckDB's
    * floor `//` agree on the centroid means).
    */
  private def pqOracle: String = {
    val subAll = (0 until PqSubspaces).map(pqSubCtes).mkString(",\n")
    s"""WITH $pqCodesCte,
      |$subAll,
      |u AS (
      |  $pqAdcUnions),
      |sc AS (SELECT q_id, vec_id, CAST(sum(pts) AS BIGINT) AS adc
      |       FROM u WHERE vec_id <> q_id GROUP BY 1, 2),
      |cand AS (SELECT q_id, vec_id FROM (SELECT q_id, vec_id,
      |    row_number() OVER (PARTITION BY q_id ORDER BY adc DESC, vec_id) AS crnk
      |  FROM sc) WHERE crnk <= $PqCandK),
      |$pqRerankCtes
      |SELECT q_id, vec_id, score, rnk FROM r WHERE rnk <= $TopK
      |ORDER BY q_id, rnk""".stripMargin
  }

  /** The int8-code CTEs (`d`, `codes`) shared by the PQ-family
    * oracles — [[pqCodedFrame]]'s replay. */
  private def pqCodesCte: String =
    """d AS (
      |  SELECT i - 1 AS dim,
      |         min(CAST(embedding[i] AS DOUBLE)) AS mn,
      |         max(CAST(embedding[i] AS DOUBLE)) AS mx
      |  FROM embeddings CROSS JOIN generate_series(1, 64) AS t(i)
      |  GROUP BY 1),
      |codes AS (
      |  SELECT e.vec_id, list(CASE WHEN mx = mn THEN 0
      |      ELSE CAST(least(floor((CAST(embedding[d.dim + 1] AS DOUBLE) - mn) * 255.0
      |                            / (mx - mn)), 255.0) AS BIGINT) END ORDER BY d.dim) AS vc
      |  FROM embeddings e CROSS JOIN d GROUP BY e.vec_id)""".stripMargin

  /** Per-(query, candidate, subspace) ADC points: `lut$m ⋈ enc$m` per
    * subspace, unioned — each pair surfaces exactly [[PqSubspaces]]
    * rows. Shared by [[pqOracle]] and [[ivfPqOracle]]. */
  private def pqAdcUnions: String =
    (0 until PqSubspaces).map(m =>
      s"SELECT l.q_id, e.vec_id, l.pts FROM lut$m l JOIN enc$m e ON e.scode = l.scode")
      .mkString("\n  UNION ALL ")

  /** The exact-code-dot refine CTEs (`dots`, `r`) over a `cand`
    * shortlist — [[pqExactRerank]]'s replay. */
  private def pqRerankCtes: String =
    s"""dots AS (SELECT c.q_id, c.vec_id,
      |    CAST(list_aggregate(list_transform(generate_series(1, 64),
      |      i -> q.vc[i] * v.vc[i]), 'sum') AS BIGINT) AS score
      |  FROM cand c JOIN codes q ON q.vec_id = c.q_id
      |              JOIN codes v ON v.vec_id = c.vec_id),
      |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY q_id
      |        ORDER BY score DESC, vec_id) AS BIGINT) AS rnk FROM dots)""".stripMargin

  /** One subspace's training + encoding + LUT CTE chain (`s$m` …
    * `enc$m`, `lut$m`) — [[trainPqBooks]] / [[pqEnc]] / [[pqLut]]
    * replayed per subspace. */
  private def pqSubCtes(m: Int): String = {
      val lo = m * PqSubDims + 1
      val hi = (m + 1) * PqSubDims
      def dist(name: String, cents: String) =
        s"""$name AS (SELECT v.vec_id, c.cent_id,
          |  list_aggregate(list_transform(generate_series(1, $PqSubDims),
          |    i -> (v.iv[i] - c.civ[i]) * (v.iv[i] - c.civ[i])), 'sum') AS d
          |  FROM s$m v CROSS JOIN $cents c)""".stripMargin
      val iters = (1 to PqIters).map { t =>
        s"""${dist(s"m${m}d$t", s"m${m}c${t - 1}")},
          |m${m}a$t AS (SELECT vec_id, cent_id FROM (SELECT vec_id, cent_id,
          |  row_number() OVER (PARTITION BY vec_id ORDER BY d, cent_id) AS rn
          |  FROM m${m}d$t) WHERE rn = 1),
          |m${m}u$t AS (SELECT a.cent_id, i AS dim, CAST(sum(v.iv[i]) AS BIGINT) AS s,
          |    count(*) AS cnt
          |  FROM m${m}a$t a JOIN s$m v USING (vec_id)
          |  CROSS JOIN generate_series(1, $PqSubDims) AS g(i)
          |  GROUP BY 1, 2),
          |m${m}n$t AS (SELECT cent_id, list(s // cnt ORDER BY dim) AS civ
          |  FROM m${m}u$t GROUP BY cent_id),
          |m${m}c$t AS (SELECT c.cent_id, coalesce(nw.civ, c.civ) AS civ
          |  FROM m${m}c${t - 1} c LEFT JOIN m${m}n$t nw USING (cent_id))""".stripMargin
      }.mkString(",\n")
      s"""s$m AS (SELECT vec_id, vc[$lo:$hi] AS iv FROM codes),
        |m${m}c0 AS (SELECT vec_id AS cent_id, iv AS civ FROM s$m WHERE vec_id < $PqCentroids),
        |$iters,
        |${dist(s"m${m}fd", s"m${m}c$PqIters")},
        |enc$m AS (SELECT vec_id, cent_id AS scode FROM (SELECT vec_id, cent_id,
        |  row_number() OVER (PARTITION BY vec_id ORDER BY d, cent_id) AS rn
        |  FROM m${m}fd) WHERE rn = 1),
        |lut$m AS (SELECT q.vec_id AS q_id, c.cent_id AS scode,
        |    CAST(list_aggregate(list_transform(generate_series(1, $PqSubDims),
        |      i -> q.iv[i] * c.civ[i]), 'sum') AS BIGINT) AS pts
        |  FROM s$m q CROSS JOIN m${m}c$PqIters c WHERE q.vec_id < $NumQueries)""".stripMargin
  }

  /** [[mmrTopK]]'s oracle: the candidate pool and pairwise code dots
    * as CTEs, then the greedy selection unrolled one CTE round per
    * pick — every MMR score exact BIGINT, ties on vec_id. The t≥2
    * max-to-selected join is inner (every remaining candidate has a
    * pair row to every selected one — both live in the pool), the
    * same totality the Spark side's coalesce never fires on.
    */
  private def mmrOracle: String = {
    def codeDot(a: String, b: String) =
      s"CAST(list_aggregate(list_transform(generate_series(1, 64), " +
        s"i -> $a.vc[i] * $b.vc[i]), 'sum') AS BIGINT)"
    val mmrExpr = s"$MmrLambdaNum * qsim - ${MmrLambdaDen - MmrLambdaNum} * ms"
    val rounds = (2 to TopK).map { t =>
      s"""r$t AS (SELECT c.* FROM cand c WHERE NOT EXISTS
        |  (SELECT 1 FROM a${t - 1} s WHERE s.q_id = c.q_id AND s.vec_id = c.vec_id)),
        |m$t AS (SELECT r.q_id, r.vec_id, r.qsim, max(p.ds) AS ms
        |  FROM r$t r JOIN pr p ON p.q_id = r.q_id AND p.d = r.vec_id
        |  JOIN a${t - 1} s ON s.q_id = p.q_id AND s.vec_id = p.s
        |  GROUP BY 1, 2, 3),
        |w$t AS (SELECT q_id, vec_id, CAST($mmrExpr AS BIGINT) AS mmr,
        |    CAST($t AS BIGINT) AS rnd
        |  FROM (SELECT *, row_number() OVER (PARTITION BY q_id
        |        ORDER BY $mmrExpr DESC, vec_id) AS rn FROM m$t) WHERE rn = 1),
        |a$t AS (SELECT * FROM a${t - 1} UNION ALL SELECT * FROM w$t)""".stripMargin
    }.mkString(",\n")
    s"""WITH $pqCodesCte,
      |q AS (SELECT vec_id AS q_id, vc FROM codes WHERE vec_id < $NumQueries),
      |sc0 AS (SELECT q.q_id, c.vec_id, ${codeDot("q", "c")} AS qsim
      |  FROM q JOIN codes c ON c.vec_id <> q.q_id),
      |cand AS (SELECT q_id, vec_id, qsim FROM (SELECT *, row_number() OVER
      |    (PARTITION BY q_id ORDER BY qsim DESC, vec_id) AS rn FROM sc0)
      |  WHERE rn <= $MmrCand),
      |pr AS (SELECT a.q_id, a.vec_id AS d, b.vec_id AS s, ${codeDot("ca", "cb")} AS ds
      |  FROM cand a JOIN cand b ON a.q_id = b.q_id AND a.vec_id <> b.vec_id
      |  JOIN codes ca ON ca.vec_id = a.vec_id
      |  JOIN codes cb ON cb.vec_id = b.vec_id),
      |a1 AS (SELECT q_id, vec_id, CAST($MmrLambdaNum * qsim AS BIGINT) AS mmr,
      |    CAST(1 AS BIGINT) AS rnd
      |  FROM (SELECT *, row_number() OVER (PARTITION BY q_id
      |        ORDER BY $MmrLambdaNum * qsim DESC, vec_id) AS rn FROM cand) WHERE rn = 1),
      |$rounds
      |SELECT q_id, vec_id, mmr, rnd FROM a$TopK ORDER BY q_id, rnd""".stripMargin
  }

  /** [[principalDir]]'s oracle — centering, then each power round as
    * a CTE pair (projection scan + per-dim aggregate) with the
    * abs-first normalization, replayed to the same integers. */
  private def principalDirOracle: String =
    s"""WITH $powerCtes
      |SELECT CAST(dim - 1 AS BIGINT) AS dim, CAST(vv AS BIGINT) AS v
      |FROM w$PowerIters ORDER BY dim""".stripMargin

  /** [[anisotropy]]'s oracle — the shared power chain, one more
    * projection scan against the final direction, and the HUGEINT
    * Rayleigh ratio. */
  private def anisotropyOracle: String =
    s"""WITH $powerCtes,
      |sf AS (SELECT vec_id, cvc,
      |  CAST(list_aggregate(list_transform(generate_series(1, 64),
      |    i -> cvc[i] * vr$PowerIters.v[i]), 'sum') AS BIGINT) AS s
      |  FROM cv, vr$PowerIters),
      |r AS (SELECT count(*) AS n_vecs, sum(s * s) AS ss,
      |  sum(CAST(list_aggregate(list_transform(generate_series(1, 64),
      |    i -> cvc[i] * cvc[i]), 'sum') AS BIGINT)) AS xx FROM sf),
      |vsq AS (SELECT CAST(list_aggregate(list_transform(v, y -> y * y),
      |    'sum') AS HUGEINT) AS vv FROM vr$PowerIters)
      |SELECT n_vecs, CAST((ss * 1000000) // (vv * xx) AS BIGINT) AS explained_ppm
      |FROM r, vsq""".stripMargin

  /** The centering + power-round CTE chain through `w$T` / `vr$T` —
    * shared by [[principalDirOracle]] and [[anisotropyOracle]]. */
  private def powerCtes: String = {
    val rounds = (1 to PowerIters).map { t =>
      s"""s$t AS (SELECT vec_id, cvc,
        |  CAST(list_aggregate(list_transform(generate_series(1, 64),
        |    i -> cvc[i] * vr${t - 1}.v[i]), 'sum') AS BIGINT) AS s
        |  FROM cv, vr${t - 1}),
        |u$t AS (SELECT i AS dim, CAST(sum(s * cvc[i]) AS BIGINT) AS u
        |  FROM s$t CROSS JOIN generate_series(1, 64) AS g(i) GROUP BY 1),
        |mx$t AS (SELECT max(abs(u)) AS m FROM u$t),
        |w$t AS (SELECT dim, CASE WHEN u < 0
        |    THEN -(((-u) * $PowerScale) // m)
        |    ELSE (u * $PowerScale) // m END AS vv
        |  FROM u$t, mx$t),
        |vr$t AS (SELECT list(CAST(vv AS BIGINT) ORDER BY dim) AS v FROM w$t)""".stripMargin
    }.mkString(",\n")
    s"""$pqCodesCte,
      |mn AS (SELECT i AS dim, CAST(sum(vc[i]) AS BIGINT) // count(*) AS mu
      |  FROM codes CROSS JOIN generate_series(1, 64) AS g(i) GROUP BY 1),
      |mnl AS (SELECT list(mu ORDER BY dim) AS mu FROM mn),
      |cv AS (SELECT vec_id,
      |    list_transform(generate_series(1, 64), i -> vc[i] - mnl.mu[i]) AS cvc
      |  FROM codes, mnl),
      |vr0 AS (SELECT list_transform(generate_series(1, 64),
      |    i -> CAST(1 AS BIGINT)) AS v),
      |$rounds""".stripMargin
  }

  /** [[ivfPqResidualTopK]]'s oracle: the coarse chain, residuals
    * against the trained centroids, per-subspace residual codebook
    * training with the SIGN-SAFE mean update (residual sums can be
    * negative — Scala `/` truncates toward zero while DuckDB `//`
    * floors, so the CASE spells out abs-first truncation), the
    * per-(query, probed-list) L2 LUT, list-restricted ADC, and the
    * exact fixed-point-L2 refine. All CTEs prefixed `x` — disjoint
    * from the coarse chain's names by construction.
    */
  private def ivfPqResidualOracle: String = {
    // The coarse chain and the residual relation are referenced by
    // all 8 subspace chains + the LUTs; DuckDB inlines single-WITH
    // CTEs by default, re-running the whole k-means chain per
    // reference — measured ~9 min vs 0.4 s at sf0.001 with explicit
    // MATERIALIZED hints on the shared prefixes.
    def materialize(sql: String): String =
      (Seq("nrm", "iv", "fdist", "assign", "xr", "probes") ++
        (0 to IvfKmeansIters).map(t => s"cents$t"))
        .foldLeft(sql)((s, n) => s.replaceFirst(
          java.util.regex.Pattern.quote(s"$n AS ("), s"$n AS MATERIALIZED ("))
    def subCtes(m: Int): String = {
      val lo = m * PqSubDims + 1
      val hi = (m + 1) * PqSubDims
      def dist(name: String, cents: String) =
        s"""$name AS (SELECT v.vec_id, c.cent_id,
          |  list_aggregate(list_transform(generate_series(1, $PqSubDims),
          |    i -> (v.rv[i] - c.civ[i]) * (v.rv[i] - c.civ[i])), 'sum') AS d
          |  FROM xs$m v CROSS JOIN $cents c)""".stripMargin
      val iters = (1 to PqIters).map { t =>
        s"""${dist(s"xm${m}d$t", s"xm${m}c${t - 1}")},
          |xm${m}a$t AS (SELECT vec_id, cent_id FROM (SELECT vec_id, cent_id,
          |  row_number() OVER (PARTITION BY vec_id ORDER BY d, cent_id) AS rn
          |  FROM xm${m}d$t) WHERE rn = 1),
          |xm${m}u$t AS (SELECT a.cent_id, i AS dim, CAST(sum(v.rv[i]) AS BIGINT) AS s,
          |    count(*) AS cnt
          |  FROM xm${m}a$t a JOIN xs$m v USING (vec_id)
          |  CROSS JOIN generate_series(1, $PqSubDims) AS g(i)
          |  GROUP BY 1, 2),
          |xm${m}n$t AS (SELECT cent_id, list(CASE WHEN s < 0
          |    THEN -((-s) // cnt) ELSE s // cnt END ORDER BY dim) AS civ
          |  FROM xm${m}u$t GROUP BY cent_id),
          |xm${m}c$t AS (SELECT c.cent_id, coalesce(nw.civ, c.civ) AS civ
          |  FROM xm${m}c${t - 1} c LEFT JOIN xm${m}n$t nw USING (cent_id))""".stripMargin
      }.mkString(",\n")
      s"""xs$m AS (SELECT vec_id, vc[$lo:$hi] AS rv FROM xr),
        |xm${m}c0 AS (SELECT vec_id AS cent_id, rv AS civ FROM xs$m WHERE vec_id < $PqCentroids),
        |$iters,
        |${dist(s"xm${m}fd", s"xm${m}c$PqIters")},
        |xe$m AS (SELECT vec_id, cent_id AS scode FROM (SELECT vec_id, cent_id,
        |  row_number() OVER (PARTITION BY vec_id ORDER BY d, cent_id) AS rn
        |  FROM xm${m}fd) WHERE rn = 1),
        |xl$m AS (SELECT p.q_id, p.cent_id, b.cent_id AS scode,
        |    CAST(list_aggregate(list_transform(generate_series(1, $PqSubDims),
        |      i -> (q.iv[$lo + i - 1] - cc.civ[$lo + i - 1] - b.civ[i])
        |         * (q.iv[$lo + i - 1] - cc.civ[$lo + i - 1] - b.civ[i])), 'sum')
        |      AS BIGINT) AS pts
        |  FROM probes p JOIN iv q ON q.vec_id = p.q_id
        |       JOIN cents$IvfKmeansIters cc ON cc.cent_id = p.cent_id
        |       CROSS JOIN xm${m}c$PqIters b)""".stripMargin
    }
    val subAll = (0 until PqSubspaces).map(subCtes).mkString(",\n")
    val unions = (0 until PqSubspaces).map(m =>
      s"SELECT l.q_id, l.cent_id, e.vec_id, l.pts FROM xl$m l JOIN xe$m e ON e.scode = l.scode")
      .mkString("\n  UNION ALL ")
    val sql = s"""WITH $ivfAssignCtes,
      |xr AS (SELECT v.vec_id, a.cent_id,
      |    list_transform(generate_series(1, 64), i -> v.iv[i] - c.civ[i]) AS vc
      |  FROM iv v JOIN assign a USING (vec_id)
      |       JOIN cents$IvfKmeansIters c ON c.cent_id = a.cent_id),
      |probes AS (SELECT vec_id AS q_id, cent_id FROM (SELECT vec_id, cent_id,
      |  row_number() OVER (PARTITION BY vec_id ORDER BY d, cent_id) AS rn
      |  FROM fdist WHERE vec_id < $NumQueries) WHERE rn <= $IvfNProbe),
      |$subAll,
      |xu AS (
      |  $unions),
      |xc AS (SELECT p.q_id, p.cent_id, r.vec_id FROM probes p
      |  JOIN xr r ON r.cent_id = p.cent_id AND r.vec_id <> p.q_id),
      |xsc AS (SELECT u.q_id, u.vec_id, CAST(sum(u.pts) AS BIGINT) AS adc
      |  FROM xu u JOIN xc ON xc.q_id = u.q_id AND xc.cent_id = u.cent_id
      |    AND xc.vec_id = u.vec_id
      |  GROUP BY 1, 2),
      |xcand AS (SELECT q_id, vec_id FROM (SELECT q_id, vec_id,
      |    row_number() OVER (PARTITION BY q_id ORDER BY adc, vec_id) AS crnk
      |  FROM xsc) WHERE crnk <= $PqCandK),
      |xdots AS (SELECT c.q_id, c.vec_id,
      |    CAST(list_aggregate(list_transform(generate_series(1, 64),
      |      i -> (q.iv[i] - v.iv[i]) * (q.iv[i] - v.iv[i])), 'sum') AS BIGINT) AS dist
      |  FROM xcand c JOIN iv q ON q.vec_id = c.q_id
      |               JOIN iv v ON v.vec_id = c.vec_id),
      |xrank AS (SELECT *, CAST(row_number() OVER (PARTITION BY q_id
      |        ORDER BY dist, vec_id) AS BIGINT) AS rnk FROM xdots)
      |SELECT q_id, vec_id, dist, rnk FROM xrank WHERE rnk <= $TopK
      |ORDER BY q_id, rnk""".stripMargin
    materialize(sql)
  }

  /** [[ivfPqScanFrac]]'s oracle — the shared assignment chain plus
    * the probe join, counted per query. */
  private def scanFracOracle: String =
    s"""WITH $ivfAssignCtes,
      |probes AS (SELECT vec_id AS q_id, cent_id FROM (SELECT vec_id, cent_id,
      |  row_number() OVER (PARTITION BY vec_id ORDER BY d, cent_id) AS rn
      |  FROM fdist WHERE vec_id < $NumQueries) WHERE rn <= $IvfNProbe),
      |cl AS (SELECT p.q_id, a.vec_id FROM probes p
      |  JOIN assign a ON p.cent_id = a.cent_id AND a.vec_id <> p.q_id),
      |n AS (SELECT count(*) AS n_corpus FROM assign)
      |SELECT q_id, count(*) AS n_cand, n.n_corpus,
      |       CAST(count(*) * 1000000 // n.n_corpus AS BIGINT) AS scan_ppm
      |FROM cl CROSS JOIN n GROUP BY q_id, n.n_corpus ORDER BY q_id""".stripMargin

  /** [[ivfPqTopK]]'s oracle: [[ivfAssignCtes]]'s coarse training +
    * assignment composed with the PQ CTE chains — probes route each
    * query to its nProbe lists, `cl` restricts the ADC union to the
    * probed lists' vectors, and the shortlist re-ranks by the exact
    * code dot. The two CTE families share no names, so the
    * composition is literal concatenation.
    */
  private def ivfPqOracle: String = {
    val subAll = (0 until PqSubspaces).map(pqSubCtes).mkString(",\n")
    s"""WITH $ivfAssignCtes,
      |$pqCodesCte,
      |$subAll,
      |probes AS (SELECT vec_id AS q_id, cent_id FROM (SELECT vec_id, cent_id,
      |  row_number() OVER (PARTITION BY vec_id ORDER BY d, cent_id) AS rn
      |  FROM fdist WHERE vec_id < $NumQueries) WHERE rn <= $IvfNProbe),
      |cl AS (SELECT p.q_id, a.vec_id FROM probes p
      |  JOIN assign a ON p.cent_id = a.cent_id AND a.vec_id <> p.q_id),
      |u AS (
      |  $pqAdcUnions),
      |sc AS (SELECT u.q_id, u.vec_id, CAST(sum(u.pts) AS BIGINT) AS adc
      |       FROM u JOIN cl ON cl.q_id = u.q_id AND cl.vec_id = u.vec_id
      |       GROUP BY 1, 2),
      |cand AS (SELECT q_id, vec_id FROM (SELECT q_id, vec_id,
      |    row_number() OVER (PARTITION BY q_id ORDER BY adc DESC, vec_id) AS crnk
      |  FROM sc) WHERE crnk <= $PqCandK),
      |$pqRerankCtes
      |SELECT q_id, vec_id, score, rnk FROM r WHERE rnk <= $TopK
      |ORDER BY q_id, rnk""".stripMargin
  }

  /** DuckDB replay of the trained IVF: the k-means iterations are
    * generated as CTE rounds over the same fixed-point integers —
    * every operation (floor quantize, squared distance, min-id
    * tie-break, integer-mean update) is exact integer arithmetic, so
    * both engines train identical centroids.
    */
  /** The IVF training + final-assignment CTE chain (`nrm` … `assign`)
    * — shared by [[ivfOracle]] (probe search) and the
    * `ann_ivf_balance` oracle (index health over the same assignment).
    */
  private def ivfAssignCtes: String = {
    val k = IvfNumCentroids
    val dims = 64
    def distCte(name: String, cents: String, filter: String = "") =
      s"""$name AS (SELECT v.vec_id, c.cent_id,
        |  list_aggregate(list_transform(generate_series(1, $dims),
        |    i -> (v.iv[i] - c.civ[i]) * (v.iv[i] - c.civ[i])), 'sum') AS d
        |  FROM iv v CROSS JOIN $cents c$filter)""".stripMargin
    val iterations = (1 to IvfKmeansIters).map { t =>
      s"""${distCte(s"dist$t", s"cents${t - 1}")},
        |asg$t AS (SELECT vec_id, cent_id FROM (SELECT vec_id, cent_id,
        |  row_number() OVER (PARTITION BY vec_id ORDER BY d, cent_id) AS rn
        |  FROM dist$t) WHERE rn = 1),
        |upd$t AS (SELECT a.cent_id, i AS dim, CAST(sum(v.iv[i]) AS BIGINT) AS s,
        |    count(*) AS cnt
        |  FROM asg$t a JOIN iv v USING (vec_id)
        |  CROSS JOIN generate_series(1, $dims) AS g(i)
        |  GROUP BY 1, 2),
        |new$t AS (SELECT cent_id, list(s // cnt ORDER BY dim) AS civ
        |  FROM upd$t GROUP BY cent_id),
        |cents$t AS (SELECT c.cent_id, coalesce(nw.civ, c.civ) AS civ
        |  FROM cents${t - 1} c LEFT JOIN new$t nw USING (cent_id))""".stripMargin
    }.mkString(",\n")
    s"""nrm AS (SELECT vec_id, embedding,
      |    sqrt(list_aggregate(list_transform(embedding,
      |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) AS nrm
      |  FROM embeddings),
      |iv AS (SELECT vec_id,
      |    list_transform(embedding,
      |      x -> CAST(floor(CAST(x AS DOUBLE) / nrm * $IvfScale) AS BIGINT) + $IvfShift) AS iv
      |  FROM nrm),
      |cents0 AS (SELECT vec_id AS cent_id, iv AS civ FROM iv WHERE vec_id < $k),
      |$iterations,
      |${distCte("fdist", s"cents$IvfKmeansIters")},
      |assign AS (SELECT vec_id, cent_id FROM (SELECT vec_id, cent_id,
      |  row_number() OVER (PARTITION BY vec_id ORDER BY d, cent_id) AS rn
      |  FROM fdist) WHERE rn = 1)""".stripMargin
  }

  private def ivfOracle: String = {
    s"""WITH $ivfAssignCtes,
      |probes AS (SELECT vec_id AS q_id, cent_id FROM (SELECT vec_id, cent_id,
      |  row_number() OVER (PARTITION BY vec_id ORDER BY d, cent_id) AS rn
      |  FROM fdist WHERE vec_id < $NumQueries) WHERE rn <= $IvfNProbe),
      |cand AS (SELECT p.q_id, a.vec_id FROM probes p
      |  JOIN assign a ON p.cent_id = a.cent_id AND a.vec_id <> p.q_id),
      |pf AS (SELECT cand.q_id, cand.vec_id, CAST(unnest(q.embedding) AS DOUBLE) AS x,
      |    CAST(unnest(v.embedding) AS DOUBLE) AS y
      |  FROM cand JOIN embeddings q ON q.vec_id = cand.q_id
      |            JOIN embeddings v ON v.vec_id = cand.vec_id),
      |pd AS (SELECT q_id, vec_id,
      |    round(sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))), 6) AS cos
      |  FROM pf GROUP BY 1, 2),
      |scored AS (SELECT q_id, vec_id, cos,
      |    CAST(row_number() OVER (PARTITION BY q_id
      |         ORDER BY cos DESC, vec_id) AS BIGINT) AS rnk
      |  FROM pd)
      |SELECT q_id, vec_id, cos, rnk FROM scored WHERE rnk <= $TopK
      |ORDER BY q_id, rnk""".stripMargin
  }
}
