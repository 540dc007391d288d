package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Physical-layout choices — the Spark equivalents of the reference's
  * three B-tree indexes (`src/setup_database.py:108-116`; SURVEY §4):
  *
  *  - `idx_vote_voted_at`   → date-partitioned parquet: the hour/minute
  *    range queries prune whole partitions at planning time.
  *  - `idx_vote_candidate_id` / join keys → bucketed tables: co-located
  *    joins and aggregations with NO shuffle exchange at read time.
  *  - `idx_voter_state`     → parquet row-group min/max pruning comes
  *    free once data is written sorted within partitions.
  *
  * At 100 TB these are the difference between scanning everything and
  * scanning one day / one bucket; the specs assert the plan properties
  * (PartitionFilters present, Exchange absent) rather than timings.
  */
object Layouts {

  /** Write events date-partitioned (and sorted by ts within files) —
    * the `idx_vote_voted_at` replacement.
    */
  def writeDatePartitionedEvents(spark: SparkSession, dir: String, out: String): Unit = {
    import spark.implicits._
    Tables.load(spark, dir, "events")
      .withColumn("event_date", to_date($"ts"))
      .sortWithinPartitions($"ts")
      .write.mode("overwrite")
      .partitionBy("event_date")
      .parquet(out)
  }

  def readDatePartitionedEvents(spark: SparkSession, out: String): DataFrame =
    spark.read.parquet(out)

  /** Persist orders and lineitem bucketed on the join key — the
    * co-located-join layout (both sides hash into the same bucket
    * scheme, so the join needs no exchange).
    */
  def writeBucketedOrderTables(spark: SparkSession, dir: String, buckets: Int = 8): Unit = {
    Tables.load(spark, dir, "orders")
      .write.mode("overwrite")
      .bucketBy(buckets, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("orders_bucketed")
    Tables.load(spark, dir, "lineitem")
      .write.mode("overwrite")
      .bucketBy(buckets, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("lineitem_bucketed")
  }

  /** Write `df` Z-ORDERED on two integer dimensions: rows are range-
    * partitioned and sorted by the Morton interleave of (xCol, yCol),
    * so each output file covers a compact REGION of the 2-D space and
    * parquet min/max statistics prune scans filtered on EITHER
    * dimension — the multi-column data-skipping layout
    * (Delta/Iceberg OPTIMIZE ZORDER BY) for when two columns share
    * the filter load. The Morton key is a pure codegen'd bit
    * expression ([[graft.plans.ZOrder]]); `repartitionByRange` keeps
    * files balanced by key density (its per-job sampling only moves
    * file BOUNDARIES, which the layout's guarantees don't depend on).
    */
  def zorderWrite(df: DataFrame, out: String, xCol: String, yCol: String,
      files: Int): Unit =
    df.withColumn("__z", graft.plans.ZOrder.morton(xCol, yCol))
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite")
      .parquet(out)

  /** Write `df` RANGE-CLUSTERED on one sort column: range-partitioned
    * into `files` parquet files, sorted within each — every file
    * covers a disjoint key interval, so parquet min/max statistics
    * prune point/range filters on that column to ~one file. The
    * single-dimension complement of [[zorderWrite]]: when ONE column
    * carries the filter load, a plain range layout skips strictly
    * better than Morton (which pays interleave dilution for the second
    * dimension); when two columns share it, Z-order wins. Both are
    * spec-PROVEN via scanned-rows metrics, not claimed
    * (LayoutsSpec).
    */
  def rangeWrite(df: DataFrame, out: String, sortCol: String,
      files: Int): Unit =
    df.repartitionByRange(files, col(sortCol))
      .sortWithinPartitions(col(sortCol))
      .write.mode("overwrite")
      .parquet(out)

  /** DERIVE-ONCE, SCAN-MANY session layouts: (applicationId, prefix,
    * key, fixture fingerprint) → a range-clustered parquet
    * materialization of `derive`, written on first lookup and scanned
    * thereafter. One shared mechanism for every session layout (the
    * span-pair graph, the minhash-LSH and shingle pair relations) so
    * key format and temp-dir lifecycle live in one place. Keyed by
    * application id — a fresh session re-materializes — AND by
    * [[fixtureFingerprint]] of the key when it is a path, so
    * regenerating fixture files at the SAME path within a long-lived
    * application cannot silently serve a stale layout.
    *
    * Lifecycle: entries are per-key memoized futures (derivation runs
    * outside any map lock — concurrent first-lookups on different
    * keys never serialize, and a failed derivation clears its slot so
    * the next caller retries). Temp dirs live until [[dropLayouts]];
    * on a cluster these are ingest-time TABLES, not temp dirs — the
    * session scope plus the explicit drop API is the local stand-in.
    * [[layoutAccounting]] reports (key, bytes) for what is held.
    */
  private val layoutOnceCache = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.CompletableFuture[String]]()

  /** Cheap staleness token for a fixture path: for a directory, a hash
    * of the sorted (relative name, size, mtime-millis) listing; for a
    * regular file, its own size and mtime-millis; "" for anything else
    * (opaque keys pass through unfingerprinted). Re-listing ~10
    * fixture files per lookup is noise next to a Spark action; a
    * regenerated file flips the token and the next lookup re-derives
    * instead of serving stale data. The one token shared by
    * [[layoutOnce]], the ANN model cache and [[Tables.parquet]]'s
    * schema memo.
    */
  private[graft] def fixtureFingerprint(key: String): String = {
    val p = java.nio.file.Paths.get(key)
    if (java.nio.file.Files.isRegularFile(p))
      return s"${java.nio.file.Files.size(p)}:" +
        s"${java.nio.file.Files.getLastModifiedTime(p).toMillis}"
    if (!java.nio.file.Files.isDirectory(p)) return ""
    val walk = java.nio.file.Files.walk(p, 2)
    try {
      import scala.jdk.CollectionConverters._
      val entries = walk.iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .map(f => s"${p.relativize(f)}:${java.nio.file.Files.size(f)}:" +
          s"${java.nio.file.Files.getLastModifiedTime(f).toMillis}")
        .toSeq.sorted
      java.lang.Integer.toHexString(
        scala.util.hashing.MurmurHash3.orderedHash(entries))
    } finally walk.close()
  } // scala.util.Try not used: a racing delete should surface, not cache ""

  private def cacheKey(spark: SparkSession, prefix: String, key: String) =
    spark.sparkContext.applicationId + "|" + prefix + "|" + key +
      "|" + fixtureFingerprint(key)

  def layoutOnce(spark: SparkSession, prefix: String, key: String,
      sortCol: String, files: Int = 8)(derive: => DataFrame): DataFrame = {
    val ck = cacheKey(spark, prefix, key)
    val fresh = new java.util.concurrent.CompletableFuture[String]()
    val prior = layoutOnceCache.putIfAbsent(ck, fresh)
    val slot = if (prior != null) prior else {
      // this thread won the slot: derive + write OUTSIDE the map lock
      try {
        val path = java.nio.file.Files
          .createTempDirectory(s"graft-$prefix-").toString + "/layout"
        rangeWrite(derive, path, sortCol, files)
        fresh.complete(path)
      } catch { case e: Throwable =>
        layoutOnceCache.remove(ck, fresh)
        fresh.completeExceptionally(e)
        throw e
      }
      fresh
    }
    Tables.parquet(spark, slot.join())
  }

  /** Drop layouts this application derived (all of them, or one
    * `prefix` family): delete the temp dirs, clear the cache slots,
    * and return the accounting the drop freed as (cache key, bytes).
    * The eviction half of the session-layout lifecycle — a long-lived
    * serving session cycling fixtures calls this between fixtures
    * instead of accumulating temp dirs.
    */
  def dropLayouts(spark: SparkSession, prefix: String = ""): Seq[(String, Long)] = {
    import scala.jdk.CollectionConverters._
    val mine = spark.sparkContext.applicationId + "|" +
      (if (prefix.isEmpty) "" else prefix + "|")
    layoutOnceCache.keySet.asScala.filter(_.startsWith(mine)).toSeq.sorted
      .map { ck =>
        val fut = layoutOnceCache.remove(ck)
        val bytes =
          if (fut == null || !fut.isDone || fut.isCompletedExceptionally) 0L
          else {
            // the layout lives at <tmp>/layout; remove the whole tmp dir
            val root = java.nio.file.Paths.get(fut.join()).getParent
            val walk = java.nio.file.Files.walk(root)
            val files = try walk.iterator().asScala.toSeq.reverse finally walk.close()
            val n = files.filter(java.nio.file.Files.isRegularFile(_))
              .map(java.nio.file.Files.size).sum
            files.foreach(java.nio.file.Files.deleteIfExists(_))
            n
          }
        ck -> bytes
      }
  }

  /** (cache key, bytes held) for every completed layout of this
    * application — the size-accounting line a serving session logs.
    */
  def layoutAccounting(spark: SparkSession): Seq[(String, Long)] = {
    import scala.jdk.CollectionConverters._
    val mine = spark.sparkContext.applicationId + "|"
    layoutOnceCache.entrySet.asScala.toSeq
      .filter(e => e.getKey.startsWith(mine) && e.getValue.isDone &&
        !e.getValue.isCompletedExceptionally)
      .map { e =>
        val root = java.nio.file.Paths.get(e.getValue.join()).getParent
        val walk = java.nio.file.Files.walk(root)
        val bytes = try {
          walk.iterator().asScala
            .filter(java.nio.file.Files.isRegularFile(_))
            .map(java.nio.file.Files.size).sum
        } finally walk.close()
        e.getKey -> bytes
      }.sortBy(_._1)
  }

  /** Materialize the winnow span-sharing pair graph ONCE —
    * `(doc_a, doc_b, n_shared_spans, deg_a, deg_b, str_a, str_b)`
    * (per-endpoint degree AND strength), range-clustered
    * on `doc_a` — so every graph consumer (pagerank, weighted
    * pagerank, triangles, components, label prop, family profile)
    * reads a parquet relation instead of re-deriving fingerprints +
    * posting lists per query. At 100 TB the fingerprint pass is a
    * full-corpus scan + shuffle; amortizing it across the graph
    * family is the difference between one ingest-time job and N of
    * them. The per-endpoint DEGREE rides the layout (one extra
    * groupBy + two joins at WRITE time) so degree-ordered consumers —
    * [[graft.operators.Graph.trianglesOverDeg]]'s orientation — become
    * pure projections over the scan instead of re-joining degrees per
    * query. The `*Over` seams on every graph operator exist exactly so
    * this swap is a call-site change:
    * `Graph.pagerankOver(Layouts.readSpanPairs(spark, out).select(…))`
    * is plan-for-plan the post-scan part of the derivation, and
    * LayoutsSpec asserts result equality plus the absence of any
    * fingerprint recompute in the read plan.
    */
  def writeSpanPairs(spark: SparkSession, dir: String, out: String,
      files: Int = 8): Unit =
    rangeWrite(spanPairsWithStats(spark, dir), out, "doc_a", files)

  /** The layout's derivation: the pair relation with per-endpoint
    * degree and strength attached (shared by [[writeSpanPairs]] and
    * the session cache in [[graft.operators.Graph.spanPairsLayout]]).
    */
  private[graft] def spanPairsWithStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pairs = graft.operators.TextAnalysis.sharedSpans(spark, dir)
      .localCheckpoint()
    // one endpoint pass computes BOTH degree and strength (sum of
    // incident span weights) — pagerank consumes deg, weighted
    // pagerank strength, triangles the (deg, id) orientation order
    val stats = pairs
      .select($"doc_a".as("v"), $"n_shared_spans".as("w"))
      .union(pairs.select($"doc_b", $"n_shared_spans"))
      .groupBy($"v").agg(count(lit(1)).as("d"), sum($"w").as("s"))
    pairs
      .join(stats.select($"v".as("doc_a"), $"d".as("deg_a"), $"s".as("str_a")),
        Seq("doc_a"))
      .join(stats.select($"v".as("doc_b"), $"d".as("deg_b"), $"s".as("str_b")),
        Seq("doc_b"))
  }

  /** Read back [[writeSpanPairs]]'s materialized pair relation. */
  def readSpanPairs(spark: SparkSession, out: String): DataFrame =
    spark.read.parquet(out)

  /** Revenue per order over the bucketed tables — shuffle-free join. */
  def bucketedOrderRevenue(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.table("orders_bucketed")
      .join(spark.table("lineitem_bucketed"), $"o_orderkey" === $"l_orderkey")
      .groupBy($"o_orderkey")
      .agg(sum($"l_extendedprice".cast(org.apache.spark.sql.types.DecimalType(18, 2)))
        .cast("double").as("revenue"))
  }
}
