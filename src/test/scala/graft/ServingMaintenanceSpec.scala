package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, EntityResolution}
import graft.streaming.EventStreams

/** The r13 serving-maintenance closeout: the two derive-once layouts
  * that were still static-only — the ER matches layout and the cascade
  * attribution — get their streaming twins pinned here. Contracts:
  * stream-maintained state ≡ a full batch recompute over everything
  * ingested, after EVERY micro-batch; compaction changes bytes, never
  * rows; maintenance continues against a compacted store.
  */
class ServingMaintenanceSpec extends SparkSpec {

  private def ckpt(): String =
    Files.createTempDirectory("graft-ckpt").toString

  private val dir = "/root/testdata/sf0.001"

  /** Generation dirs only — a `_keys` materialization under the tree
    * is part of the layout, not a generation.
    */
  private def gens(d: String): Int = {
    val s = Files.list(java.nio.file.Paths.get(d))
    try s.iterator().asScala.count(p => Files.isDirectory(p) &&
      p.getFileName.toString.matches("base_\\d+|b\\d+|cd\\d+"))
    finally s.close()
  }

  // ---- ER matches layout ----

  private def matchRows(df: DataFrame): Seq[(Long, String, Option[Long], Option[Long], Boolean)] =
    df.select("mention_id", "mention", "matched_id", "dist", "correct")
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        r.getBoolean(4))).sortBy(_._1).toSeq

  test("streamed matches layout: init + deltas equal the batch match table, compaction is lossless") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("graft-matchstream").toString
    val (catalogDir, layoutDir) = (s"$root/catalog", s"$root/matches")
    val cat = EntityResolution.catalog(spark, dir)
    cat.write.parquet(catalogDir)
    val m = EntityResolution.mentions(spark, dir)
    // nightly artifact: a third of the mentions matched in batch mode
    EventStreams.matchesLayoutInit(
      EntityResolution.matchAgainst(m.filter($"mention_id" % 3 === 0), cat),
      layoutDir)
    val batches = Seq(1L, 2L).map(k =>
      m.filter($"mention_id" % 3 === k).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq)

    val stream = MemoryStream[(Long, String, String)]
    val q = EventStreams.maintainMatchesLayout(
        stream.toDF().toDF("mention_id", "true_name", "mention"),
        catalogDir, layoutDir)
      .option("checkpointLocation", ckpt()).start()
    batches.foreach { b => stream.addData(b); q.processAllAvailable() }

    val got = matchRows(EventStreams.readMatchesLayout(spark, layoutDir))
    // disjoint deltas: one row per mention, no fold needed
    assert(got.map(_._1).distinct.length === got.length)
    // init + stream ≡ the batch match table over all mentions
    assert(got === matchRows(EntityResolution.matchMentions(spark, dir)))

    // compaction: 2 deltas ≥ maxDeltas=2 → fires, folds everything but
    // the replay-fenced newest delta, preserves every verdict
    assert(EventStreams.compactMatchesLayout(spark, layoutDir, maxDeltas = 2, files = 2))
    assert(gens(layoutDir) === 2)
    // the stream-constant catalog keys live under the tree as `_keys`
    // (r14 ADVICE: shared storage with the layout, not a driver-local
    // temp dir) — invisible to the recursive serving read (the row
    // equalities above would break otherwise) and untouched by the
    // compactor's fold/trash pass
    assert(Files.isDirectory(java.nio.file.Paths.get(s"$layoutDir/_keys/ck")) &&
      Files.isDirectory(java.nio.file.Paths.get(s"$layoutDir/_keys/kept")))
    assert(matchRows(EventStreams.readMatchesLayout(spark, layoutDir)) === got)
    assert(!EventStreams.compactMatchesLayout(spark, layoutDir, maxDeltas = 2, files = 2))
    // the compacted base is range-clustered on mention_id: files cover
    // disjoint ranges (row-group pruning on the serving key)
    val perFile = spark.read.parquet(s"$layoutDir/base_0")
      .groupBy(input_file_name().as("f"))
      .agg(min($"mention_id").as("lo"), max($"mention_id").as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(perFile.sliding(2).forall {
      case Array((_, hi1), (lo2, _)) => hi1 <= lo2
      case _ => true
    }, s"compacted files must cover disjoint mention_id ranges: ${perFile.mkString(",")}")

    // maintenance continues against the compacted layout: a novel
    // mention appends, with the verdict the batch core would give it
    stream.addData(Seq((-1L, "zzz unseen entity", "zzz unseen entity")))
    q.processAllAvailable()
    q.stop()
    val after = matchRows(EventStreams.readMatchesLayout(spark, layoutDir))
    assert(after.length === got.length + 1)
    val want = matchRows(EntityResolution.matchAgainst(
      Seq((-1L, "zzz unseen entity", "zzz unseen entity"))
        .toDF("mention_id", "true_name", "mention"), cat))
    assert(after.filter(_._1 == -1L) === want)
  }

  // ---- span-layout degree staleness (r14 verdict #4) ----

  test("triangles off the maintained span layout ≡ batch recompute while appends change degree order") {
    import spark.implicits._
    import graft.operators.{Graph, TextAnalysis}
    implicit val sqlCtx = spark.sqlContext
    // the maintained tree stores NO degree columns (they'd go stale on
    // every append); the triangle consumer must re-derive orientation
    // from the merged view. This drives ingest → serve → ingest →
    // compact → serve and pins served ≡ batch-recomputed triangles at
    // every state.
    val d = graft.engine.Tables.load(spark, dir, "documents")
      .select($"doc_id", $"text")
    val seed = d.filter($"doc_id" % 2 === 0)
    val batches = Seq(d.filter($"doc_id" % 4 === 1), d.filter($"doc_id" % 4 === 3))
    val root = Files.createTempDirectory("graft-spandeg").toString
    val (storeDir, layoutDir) = (s"$root/store", s"$root/layout")
    TextAnalysis.winnowOf(seed).write.parquet(s"$storeDir/base")
    TextAnalysis.sharedSpansOf(TextAnalysis.winnowOf(seed))
      .write.parquet(s"$layoutDir/base")
    def triRows(pairs: DataFrame) =
      Graph.trianglesOver(pairs.select($"doc_a", $"doc_b")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    def servedPairs() = EventStreams.readSpanLayoutDeltas(spark, layoutDir)
    def degreesOf(pairs: DataFrame): Map[Long, Long] =
      pairs.select($"doc_a", $"doc_b").collect()
        .flatMap(r => Seq(r.getLong(0), r.getLong(1)))
        .groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val degSeed = degreesOf(servedPairs())

    val stream = MemoryStream[(Long, String)]
    val q = EventStreams.maintainSpanLayout(
        stream.toDF().toDF("doc_id", "text"), storeDir, layoutDir)
      .option("checkpointLocation", ckpt()).start()
    var prefix = seed
    batches.foreach { b =>
      stream.addData(b.collect().map(r => (r.getLong(0), r.getString(1))).toSeq)
      q.processAllAvailable()
      prefix = prefix.unionByName(b)
      // merge-on-read state: served triangles ≡ a from-scratch batch
      // recompute over everything ingested
      assert(triRows(servedPairs())
        === triRows(TextAnalysis.sharedSpansOf(TextAnalysis.winnowOf(prefix))))
    }
    q.stop()
    // non-vacuous: the appends actually moved the degree ORDER — some
    // edge present in the seed graph flips its (degree, id) orientation
    // under the final degrees, so serving frozen seed-time degrees
    // would mis-orient it
    val degFinal = degreesOf(servedPairs())
    val seedEdges = spark.read.parquet(s"$layoutDir/base")
      .select($"doc_a", $"doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    def orient(e: (Long, Long), deg: Map[Long, Long]) = {
      val (a, b) = e
      val (da, db) = (deg.getOrElse(a, 0L), deg.getOrElse(b, 0L))
      da < db || (da == db && a < b)
    }
    assert(seedEdges.exists(e => orient(e, degSeed) !== orient(e, degFinal)),
      "fixture batches must flip at least one edge's degree orientation")
    // post-compaction state: same equality off the folded tree
    assert(EventStreams.compactSpanLayout(spark, layoutDir, maxDeltas = 2, files = 2))
    assert(triRows(servedPairs())
      === triRows(TextAnalysis.sharedSpansOf(TextAnalysis.winnowOf(prefix))))
  }

  // ---- evolving matches store (catalog-delta re-verdicting, r14) ----

  test("evolving matches store ≡ full recompute across interleaved mention batches and catalog deltas") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("graft-evolvstream").toString
    val (catalogDir, layoutDir) = (s"$root/catalog", s"$root/matches")
    val cat0 = EntityResolution.catalog(spark, dir).localCheckpoint()
    val m = EntityResolution.mentions(spark, dir).localCheckpoint()
    def expect(mentions: DataFrame, cat: DataFrame) =
      matchRows(EntityResolution.matchAgainst(mentions, cat))
    // nightly seed: catalog store + a third of the mentions matched
    EventStreams.catalogStoreInit(cat0, catalogDir)
    val (ck0, kept0) = EntityResolution.catalogKeys(cat0)
    EventStreams.matchesStoreInit(
      EntityResolution.matchAgainstKeys(m.filter($"mention_id" % 3 === 0), ck0, kept0),
      layoutDir)

    val stream = MemoryStream[(Long, String, String)]
    val q = EventStreams.maintainMatchesStore(
        stream.toDF().toDF("mention_id", "true_name", "mention"),
        catalogDir, layoutDir)
      .option("checkpointLocation", ckpt()).start()
    def addBatch(k: Long): Unit = {
      stream.addData(m.filter($"mention_id" % 3 === k).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq)
      q.processAllAvailable()
    }
    // mention batch against the original catalog
    addBatch(1L)
    val in01 = m.filter($"mention_id" % 3 <= 1)
    assert(matchRows(EventStreams.readMatchesStore(spark, layoutDir))
      === expect(in01, cat0))

    // catalog delta 0: the planted rename+novel upsert — the store
    // must land exactly where a full re-match against the upserted
    // catalog lands, for EVERY mention ingested so far
    val delta0 = EntityResolution.catalogDeltaOf(spark, dir).localCheckpoint()
    EventStreams.applyCatalogDelta(spark, delta0, catalogDir, layoutDir, 0L)
    val cat1 = EntityResolution.upsertCatalog(cat0, delta0).localCheckpoint()
    assert(matchRows(EventStreams.readMatchesStore(spark, layoutDir))
      === expect(in01, cat1),
      "store after delta 0 must equal a full re-match against the upserted catalog")

    // a LATER mention batch scores against the evolved catalog
    addBatch(2L)
    assert(matchRows(EventStreams.readMatchesStore(spark, layoutDir))
      === expect(m, cat1))

    // catalog delta 1: constant-rename (shares NO tokens with the old
    // names), so the affected set is reachable ONLY through the old
    // names — the case that catches forgetting prior postings
    val delta1 = cat0.filter($"ent_id" % 5 === 2)
      .select($"ent_id", lit("renamed entity").as("ent_name"))
      .localCheckpoint()
    EventStreams.applyCatalogDelta(spark, delta1, catalogDir, layoutDir, 1L)
    val cat2 = EntityResolution.upsertCatalog(cat1, delta1).localCheckpoint()
    val afterD1 = matchRows(EventStreams.readMatchesStore(spark, layoutDir))
    assert(afterD1 === expect(m, cat2),
      "store after delta 1 must equal a full re-match against the twice-upserted catalog")

    // own-delta replay: re-applying the same (delta, deltaId) must
    // leave the store identical (the upsert replay contract)
    EventStreams.applyCatalogDelta(spark, delta1, catalogDir, layoutDir, 1L)
    assert(matchRows(EventStreams.readMatchesStore(spark, layoutDir)) === afterD1)
    // negative control — WHY the own-delta exclusion is load-bearing:
    // re-verdicting against a catalog that ALREADY holds the delta
    // sees the new names as the "old" ones; with a constant rename
    // sharing no mention tokens the affected set collapses to empty,
    // and a replay would overwrite the real re-verdicts with nothing
    assert(EntityResolution.reverdicts(m, cat1, delta1).count() > 0)
    assert(EntityResolution.reverdicts(m, cat2, delta1).count() === 0L)

    // compaction folds base + mention deltas + cd deltas (latest gen
    // wins), fences the newest mention delta, and preserves serving
    assert(EventStreams.compactMatchesStore(spark, layoutDir, maxDeltas = 2, files = 2))
    assert(gens(layoutDir) === 2,
      "base + the replay-fenced newest mention delta")
    assert(matchRows(EventStreams.readMatchesStore(spark, layoutDir)) === afterD1)
    // and a catalog delta applied AFTER compaction still re-verdicts
    // off the folded base (true_name survived the fold)
    val delta2 = cat0.filter($"ent_id" % 5 === 4)
      .select($"ent_id", lit("renamed entity").as("ent_name"))
      .localCheckpoint()
    EventStreams.applyCatalogDelta(spark, delta2, catalogDir, layoutDir, 2L)
    val cat3 = EntityResolution.upsertCatalog(cat2, delta2).localCheckpoint()
    assert(matchRows(EventStreams.readMatchesStore(spark, layoutDir))
      === expect(m, cat3))
    q.stop()
  }

  test("the surfaced er_match_catalog_delta rows are exactly what applyCatalogDelta upserts") {
    import spark.implicits._
    // the oracle-checked batch query and the serving maintenance verb
    // must be the same computation — pin the wiring, not just the core
    val root = Files.createTempDirectory("graft-evolvtwin").toString
    val (catalogDir, layoutDir) = (s"$root/catalog", s"$root/matches")
    val cat0 = EntityResolution.catalog(spark, dir)
    val m = EntityResolution.mentions(spark, dir)
    EventStreams.catalogStoreInit(cat0, catalogDir)
    val (ck0, kept0) = EntityResolution.catalogKeys(cat0)
    EventStreams.matchesStoreInit(
      EntityResolution.matchAgainstKeys(m, ck0, kept0), layoutDir)
    EventStreams.applyCatalogDelta(spark,
      EntityResolution.catalogDeltaOf(spark, dir), catalogDir, layoutDir, 0L)
    val cd = spark.read.parquet(s"$layoutDir/cd0")
      .select("mention_id", "mention", "matched_id", "dist", "correct")
    assert(matchRows(cd)
      === matchRows(EntityResolution.matchCatalogDelta(spark, dir)))
  }

  // ---- tombstone face of the evolving store pair (r14 verdict #1) ----

  test("evolving store pair with tombstones: store ≡ full re-match across interleaved mention batches, deletes, and a re-add; compaction erases") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-tombstream").toString
    val (catalogDir, layoutDir) = (s"$root/catalog", s"$root/matches")
    val cat0 = EntityResolution.catalog(spark, dir).localCheckpoint()
    val m = EntityResolution.mentions(spark, dir).localCheckpoint()
    def expect(mentions: DataFrame, cat: DataFrame) =
      matchRows(EntityResolution.matchAgainst(mentions, cat))
    EventStreams.catalogStoreInit(cat0, catalogDir)
    val (ck0, kept0) = EntityResolution.catalogKeys(cat0)
    EventStreams.matchesStoreInit(
      EntityResolution.matchAgainstKeys(m.filter($"mention_id" % 3 === 0), ck0, kept0),
      layoutDir)
    def mentionBatch(k: Long, batchId: Long): Unit =
      EventStreams.applyMentionBatch(m.filter($"mention_id" % 3 === k),
        catalogDir, layoutDir, batchId)
    mentionBatch(1L, 0L)

    // delta 0: the planted DELETE+RENAME tombstone delta — every
    // mention ingested so far must land where a full re-match against
    // the shrunk catalog lands
    val d0 = EntityResolution.catalogTombstoneDeltaOf(spark, dir).localCheckpoint()
    val deletedIds = d0.filter($"deleted").select($"ent_id")
      .collect().map(_.getLong(0)).toSet
    assert(deletedIds.nonEmpty, "the planted delta must actually delete")
    EventStreams.applyCatalogDelta(spark, d0, catalogDir, layoutDir, 0L)
    val cat1 = EntityResolution.upsertCatalog(cat0, d0).localCheckpoint()
    val in01 = m.filter($"mention_id" % 3 <= 1)
    assert(matchRows(EventStreams.readMatchesStore(spark, layoutDir))
      === expect(in01, cat1),
      "store after the tombstone delta must equal a full re-match against the shrunk catalog")
    // the served catalog holds no tombstoned entity
    assert(EventStreams.readCatalogStore(spark, catalogDir)
      .filter($"ent_id".isInCollection(deletedIds)).count() === 0)

    // a LATER mention batch scores against the shrunk catalog
    mentionBatch(2L, 1L)
    assert(matchRows(EventStreams.readMatchesStore(spark, layoutDir))
      === expect(m, cat1))

    // delta 1: RE-ADD one deleted entity under its original name — a
    // delete followed by a re-add of the same ent_id is an upsert of
    // an id the catalog no longer holds; its mentions re-elect it
    val readdId = deletedIds.min
    val readdName = cat0.filter($"ent_id" === readdId).head.getString(0)
    val d1 = Seq((readdId, readdName, false))
      .toDF("ent_id", "ent_name", "deleted").localCheckpoint()
    EventStreams.applyCatalogDelta(spark, d1, catalogDir, layoutDir, 1L)
    val cat2 = EntityResolution.upsertCatalog(cat1, d1).localCheckpoint()
    val afterD1 = matchRows(EventStreams.readMatchesStore(spark, layoutDir))
    assert(afterD1 === expect(m, cat2),
      "store after the re-add must equal a full re-match against the re-grown catalog")

    // own-delta replay idempotence (the monotonic guard's equal case)
    EventStreams.applyCatalogDelta(spark, d1, catalogDir, layoutDir, 1L)
    assert(matchRows(EventStreams.readMatchesStore(spark, layoutDir)) === afterD1)
    // the monotonic guard (r14 verdict #4): a REPLAYED-LOWER deltaId
    // would let stale re-verdicts outrank newer generations — refused
    // loudly, before any write
    val err = intercept[IllegalArgumentException] {
      EventStreams.applyCatalogDelta(spark, d0, catalogDir, layoutDir, 0L)
    }
    assert(err.getMessage.contains("monotonically increasing"))
    assert(matchRows(EventStreams.readMatchesStore(spark, layoutDir)) === afterD1,
      "the refused delta must not have touched either store")

    // delta 2: a rename upsert, so the delete generations are no
    // longer fenced anywhere and its own cd is non-empty
    // (deleted ids excluded: an overlap would be a silent re-add and
    // void the erasure assertions below)
    val d2 = cat0.filter($"ent_id" % 5 === 1 &&
        !$"ent_id".isInCollection(deletedIds))
      .select($"ent_id", lit("swapped placeholder").as("ent_name"),
        lit(false).as("deleted"))
      .localCheckpoint()
    EventStreams.applyCatalogDelta(spark, d2, catalogDir, layoutDir, 2L)
    val cat3 = EntityResolution.upsertCatalog(cat2, d2).localCheckpoint()
    assert(matchRows(EventStreams.readMatchesStore(spark, layoutDir))
      === expect(m, cat3))

    // the store-side erasure AUDIT before any compaction: raw rows in
    // both trees still reference the deleted ids (tombstone + original
    // catalog generations; pre-delete match generations)
    val stillDeletedDf = (deletedIds - readdId).toSeq.toDF("ent_id")
    val auditPre = EventStreams.erasureAuditStores(spark, catalogDir, layoutDir,
        stillDeletedDf)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(auditPre("catalog") > 0 && auditPre("matches") > 0,
      s"pre-compaction audit must see raw references: $auditPre")

    // CATALOG compaction (r14 verdict #3): served catalog unchanged,
    // and the ERASURE guarantee — once the delete generation folds, no
    // raw parquet row anywhere under the catalog tree carries a
    // still-deleted entity (id or name)
    val servedCat = EventStreams.readCatalogStore(spark, catalogDir)
      .collect().map(r => (r.getLong(1), r.getString(0))).sorted.toSeq
    assert(EventStreams.compactCatalogStore(spark, catalogDir, maxDeltas = 2, files = 2))
    assert(EventStreams.readCatalogStore(spark, catalogDir)
      .collect().map(r => (r.getLong(1), r.getString(0))).sorted.toSeq === servedCat)
    val stillDeleted = deletedIds - readdId
    assert(stillDeleted.nonEmpty)
    val rawCat = spark.read.option("recursiveFileLookup", "true").parquet(catalogDir)
    assert(rawCat.filter($"ent_id".isInCollection(stillDeleted)).count() === 0,
      "erasure: a folded tombstone leaves no raw row for the entity")
    val deletedNames = cat0.filter($"ent_id".isInCollection(stillDeleted))
      .select($"ent_name").collect().map(_.getString(0)).toSet
    assert(rawCat.filter($"ent_name".isInCollection(deletedNames)).count() === 0,
      "erasure: the deleted entities' names are physically gone from the tree")
    // replay of the FENCED catalog delta against the compacted tree is
    // still idempotent (gen preserved through compaction)
    EventStreams.applyCatalogDelta(spark, d2, catalogDir, layoutDir, 2L)
    assert(matchRows(EventStreams.readMatchesStore(spark, layoutDir))
      === expect(m, cat3))

    // MATCHES-store compaction triggered by the cd count (r14 ADVICE:
    // cd deltas previously counted toward no trigger): 2 mention
    // deltas + 3 cd deltas ≥ maxDeltas=4 where the b count alone (2)
    // would never fire
    assert(EventStreams.compactMatchesStore(spark, layoutDir, maxDeltas = 4, files = 2))
    assert(gens(layoutDir) === 2,
      "base + the replay-fenced newest mention delta")
    assert(matchRows(EventStreams.readMatchesStore(spark, layoutDir))
      === expect(m, cat3))
    // and the folded serving rows dangle at no deleted entity
    assert(EventStreams.readMatchesStore(spark, layoutDir)
      .filter($"matched_id".isInCollection(stillDeleted)).count() === 0)
    // the store-side erasure audit signs off: after the
    // apply-then-compact cycle NO raw row in either tree references
    // the deleted entities
    val auditPost = EventStreams.erasureAuditStores(spark, catalogDir, layoutDir,
        stillDeletedDf)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(auditPost === Map("catalog" -> 0L, "matches" -> 0L),
      s"post-compaction audit must be clean: $auditPost")
    // the audit's SCOPE row: mention-side payload (true_name/mention)
    // can still textually contain an erased name — that residue is
    // mention-source data, not catalog data, and the audit must
    // SURFACE it (non-zero here: planted mentions carry the catalog
    // names verbatim) rather than let the zero rows above imply it is
    // gone
    val auditNames = EventStreams.erasureAuditStores(spark, catalogDir, layoutDir,
        stillDeletedDf,
        Some(deletedNames.toSeq.toDF("ent_name")))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(auditNames("matches_payload") > 0L,
      s"the payload-residue row must surface the mention-side names: $auditNames")
  }

  test("the dangler probe broadcasts the deleted ids and never shuffles the matches store") {
    import spark.implicits._
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val root = Files.createTempDirectory("graft-dangler").toString
    val layoutDir = s"$root/matches"
    val cat0 = EntityResolution.catalog(spark, dir)
    val (ck0, kept0) = EntityResolution.catalogKeys(cat0)
    EventStreams.matchesStoreInit(EntityResolution.matchAgainstKeys(
      EntityResolution.mentions(spark, dir), ck0, kept0), layoutDir)
    val deletedIds = cat0.filter($"ent_id" % 11 === 6).select($"ent_id")
    val probe = EventStreams.danglingMentions(spark, layoutDir, deletedIds,
      excludeCd = -1L)
    assert(probe.count() > 0, "the fixture must have dangling verdicts")
    val plan = (probe.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }).toString
    assert(plan.contains("BroadcastHashJoin"),
      s"dangler probe must broadcast the deleted ids:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"dangler probe must not shuffle the matches store:\n$plan")
  }

  test("a malformed catalog delta (duplicate or null ent_ids) is refused before any write") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-tombshape").toString
    val (catalogDir, layoutDir) = (s"$root/catalog", s"$root/matches")
    val cat0 = EntityResolution.catalog(spark, dir)
    EventStreams.catalogStoreInit(cat0, catalogDir)
    val (ck0, kept0) = EntityResolution.catalogKeys(cat0)
    EventStreams.matchesStoreInit(EntityResolution.matchAgainstKeys(
      EntityResolution.mentions(spark, dir), ck0, kept0), layoutDir)
    def gensNow() = gens(catalogDir)
    val before = gensNow()
    // duplicate ent_id: a delete+upsert pair for one id would tie in
    // the latest-gen-wins fold
    val dup = Seq((5L, null: String, true), (5L, "re-listed", false))
      .toDF("ent_id", "ent_name", "deleted")
    val e1 = intercept[IllegalArgumentException] {
      EventStreams.applyCatalogDelta(spark, dup, catalogDir, layoutDir, 0L)
    }
    assert(e1.getMessage.contains("duplicate ent_ids"))
    val nul = Seq((Some(5L), "ok", false), (None, "ghost", false))
      .toDF("ent_id", "ent_name", "deleted")
    val e2 = intercept[IllegalArgumentException] {
      EventStreams.applyCatalogDelta(spark, nul, catalogDir, layoutDir, 0L)
    }
    assert(e2.getMessage.contains("null ent_id"))
    assert(gensNow() === before, "a refused delta must not have written a generation")
  }

  test("erasure timing: a fenced delete generation erases at the NEXT compaction, never before") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-tombfence").toString
    val (catalogDir, layoutDir) = (s"$root/catalog", s"$root/matches")
    val cat0 = EntityResolution.catalog(spark, dir).localCheckpoint()
    val m = EntityResolution.mentions(spark, dir).localCheckpoint()
    EventStreams.catalogStoreInit(cat0, catalogDir)
    val (ck0, kept0) = EntityResolution.catalogKeys(cat0)
    EventStreams.matchesStoreInit(
      EntityResolution.matchAgainstKeys(m, ck0, kept0), layoutDir)
    val victim = cat0.orderBy($"ent_id").head.getLong(1)
    val victimName = cat0.filter($"ent_id" === victim).head.getString(0)
    def rawCat() = spark.read.option("recursiveFileLookup", "true").parquet(catalogDir)
    // the delete lands as the NEWEST delta: compaction declines (only
    // the fenced delta is pending) and the tombstone row must still
    // exist raw — the replay fence owns it until a newer delta lands
    EventStreams.applyCatalogDelta(spark,
      Seq((victim, null: String, true)).toDF("ent_id", "ent_name", "deleted"),
      catalogDir, layoutDir, 0L)
    assert(!EventStreams.compactCatalogStore(spark, catalogDir, maxDeltas = 1))
    assert(rawCat().filter($"ent_id" === victim && $"deleted").count() === 1,
      "the fenced tombstone generation must survive (replay needs it)")
    // served view already erased, of course
    assert(EventStreams.readCatalogStore(spark, catalogDir)
      .filter($"ent_id" === victim).count() === 0)
    // a newer delta unfences the delete; the next compaction folds and
    // physically erases it — id AND the name carried by base_0
    EventStreams.applyCatalogDelta(spark,
      Seq((9999999L, "fresh unrelated entity", false))
        .toDF("ent_id", "ent_name", "deleted"),
      catalogDir, layoutDir, 1L)
    assert(EventStreams.compactCatalogStore(spark, catalogDir, maxDeltas = 1))
    assert(rawCat().filter($"ent_id" === victim).count() === 0)
    assert(rawCat().filter($"ent_name" === victimName).count() === 0)
  }

  test("a NULL deleted flag is an upsert, never a silent tombstone") {
    import spark.implicits._
    // r15 review: the shape guards test `!deleted`, where a NULL is
    // neither counted nor kept under three-valued logic — left raw, a
    // null-flag row sailed through the boundary and then vanished from
    // every `filter(!deleted)` serving fold as if tombstoned, with the
    // next compaction making the erasure physical. withDeletedCol now
    // coalesces NULL to false (the absent-column default), so the row
    // is what the producer shipped: an upsert.
    val root = Files.createTempDirectory("graft-nulldel").toString
    val (catalogDir, layoutDir) = (s"$root/catalog", s"$root/matches")
    val cat0 = EntityResolution.catalog(spark, dir).localCheckpoint()
    EventStreams.catalogStoreInit(cat0, catalogDir)
    val (ck0, kept0) = EntityResolution.catalogKeys(cat0)
    EventStreams.matchesStoreInit(EntityResolution.matchAgainstKeys(
      EntityResolution.mentions(spark, dir), ck0, kept0), layoutDir)
    val victim = cat0.orderBy($"ent_id").head.getLong(1)
    EventStreams.applyCatalogDelta(spark,
      Seq((victim, "renamed via null flag", None: Option[Boolean]))
        .toDF("ent_id", "ent_name", "deleted"),
      catalogDir, layoutDir, 0L)
    def served() = EventStreams.readCatalogStore(spark, catalogDir)
      .filter($"ent_id" === victim).collect().map(_.getString(0)).toSeq
    assert(served() === Seq("renamed via null flag"),
      "the null-flag row must serve as the upsert it is")
    // the landed generation carries an explicit false, so no later
    // fold can reinterpret it
    assert(spark.read.parquet(s"$catalogDir/b0")
      .filter($"ent_id" === victim && !$"deleted").count() === 1)
    // and it survives the compaction that would have made the silent
    // delete permanent (a newer delta unfences b0 first)
    EventStreams.applyCatalogDelta(spark,
      Seq((9999998L, "unfencing entity", false))
        .toDF("ent_id", "ent_name", "deleted"),
      catalogDir, layoutDir, 1L)
    assert(EventStreams.compactCatalogStore(spark, catalogDir, maxDeltas = 1))
    assert(served() === Seq("renamed via null flag"))
  }

  test("quiesced drain: a stopped stream's erasure sign-off reaches zero despite the replay fence") {
    import spark.implicits._
    // r15 review: when the newest MENTION delta predates a delete, its
    // raw gen-0 verdicts dangle at the deleted entity, the fence keeps
    // the delta out of every fold, and in a quiesced stream no newer
    // batch ever unfences it — the documented apply-then-compact cycle
    // pins the audit above zero forever. The drain (quiesced = true)
    // is the terminating procedure.
    val root = Files.createTempDirectory("graft-drain").toString
    val (catalogDir, layoutDir) = (s"$root/catalog", s"$root/matches")
    val cat0 = EntityResolution.catalog(spark, dir).localCheckpoint()
    val m = EntityResolution.mentions(spark, dir).localCheckpoint()
    EventStreams.catalogStoreInit(cat0, catalogDir)
    val (ck0, kept0) = EntityResolution.catalogKeys(cat0)
    EventStreams.matchesStoreInit(EntityResolution.matchAgainstKeys(
      m.filter($"mention_id" % 2 === 0), ck0, kept0), layoutDir)
    // the newest mention delta lands BEFORE the delete: its verdicts
    // reference the pre-delete catalog
    EventStreams.applyMentionBatch(m.filter($"mention_id" % 2 === 1),
      catalogDir, layoutDir, 0L)
    // delete an entity the fenced batch's verdicts point at
    val victim = spark.read.parquet(s"$layoutDir/b0")
      .filter($"matched_id".isNotNull).select($"matched_id")
      .orderBy($"matched_id").head.getLong(0)
    val victimDf = Seq(victim).toDF("ent_id")
    EventStreams.applyCatalogDelta(spark,
      Seq((victim, null: String, true)).toDF("ent_id", "ent_name", "deleted"),
      catalogDir, layoutDir, 0L)
    def audit() = EventStreams.erasureAuditStores(spark, catalogDir,
        layoutDir, victimDf)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    // the normal cycle: compaction folds cd0 but fences b0 (matches)
    // and the tombstone b0 (catalog) — the audit cannot reach zero
    assert(EventStreams.compactMatchesStore(spark, layoutDir, maxDeltas = 1))
    assert(!EventStreams.compactCatalogStore(spark, catalogDir, maxDeltas = 1),
      "only the fenced tombstone is pending — the normal compactor declines")
    val pinned = audit()
    assert(pinned("matches") > 0 && pinned("catalog") > 0,
      s"the fenced generations must pin the audit above zero: $pinned")
    // and the cycle is STUCK: another normal pass has nothing unfenced
    assert(!EventStreams.compactMatchesStore(spark, layoutDir, maxDeltas = 1))
    val beforeDrain = matchRows(EventStreams.readMatchesStore(spark, layoutDir))
    val servedCat = EventStreams.readCatalogStore(spark, catalogDir)
      .collect().map(r => (r.getLong(1), r.getString(0))).sorted.toSeq

    // the drain: stream stopped, fold the fenced generations too
    assert(EventStreams.compactMatchesStore(spark, layoutDir, maxDeltas = 1,
      quiesced = true))
    assert(EventStreams.compactCatalogStore(spark, catalogDir, maxDeltas = 1,
      quiesced = true))
    assert(audit() === Map("catalog" -> 0L, "matches" -> 0L),
      "after the drain the sign-off must be clean")
    // serving unchanged by the drain
    assert(matchRows(EventStreams.readMatchesStore(spark, layoutDir))
      === beforeDrain)
    assert(EventStreams.readCatalogStore(spark, catalogDir)
      .collect().map(r => (r.getLong(1), r.getString(0))).sorted.toSeq
      === servedCat)

    // the drain's replay contract (the scaladoc's argument, driven): a
    // replay of the drained mention batch re-lands gen-0 rows, but
    // every folded row either carries a cd gen > 0 (outranks) or is
    // gen 0 because no delta affected it (identical recompute) —
    // serving cannot move
    EventStreams.applyMentionBatch(m.filter($"mention_id" % 2 === 1),
      catalogDir, layoutDir, 0L)
    assert(matchRows(EventStreams.readMatchesStore(spark, layoutDir))
      === beforeDrain)
  }

  // ---- cascade label rebuild (r14 verdict #5) ----

  test("rebuildCascadeStores restores streamed ≡ batch after a mid-stream bucket cap crossing") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-rebuild").toString
    EventStreams.cascadeStoreInit(spark, root)
    val cap = 2
    // 4 docs with the IDENTICAL shingle set (a 3-word cycle repeated a
    // doc-specific number of times): identical minhash signatures →
    // every band bucket holds all four docs; distinct texts keep the
    // exact/normalized stages out of the way so the near stage is
    // what diverges
    def doc(i: Long) = (i, Seq.fill(10 + i.toInt)("red green blue").mkString(" "))
    val batchA = Seq(doc(1), doc(2)).toDF("doc_id", "text")
    val batchB = Seq(doc(3), doc(4)).toDF("doc_id", "text")
    EventStreams.applyCascadeBatch(batchA, root, 0L, maxBucket = cap)
    EventStreams.applyCascadeBatch(batchB, root, 1L, maxBucket = cap)
    // the detector sees the crossing
    assert(EventStreams.saturatedBandBuckets(spark, root, cap).count() > 0)
    def verdicts(df: DataFrame) =
      df.select("doc_id", "stage", "keeper_id").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1).toSeq
    def batchTwin(docs: DataFrame) = {
      val corpus = Dedup.fingerprintsOf(docs)
        .select($"doc_id", $"fp", $"nfp").localCheckpoint()
      val labels = Dedup.clustersOver(corpus.select($"doc_id"),
        Dedup.lshEdgesOverBands(
          Dedup.bandSigRows(Dedup.signaturesOf(docs)), maxBucket = cap),
        Dedup.ClusterMaxHops)
      verdicts(Dedup.cascadeOver(corpus,
        corpus.groupBy($"fp").agg(min($"doc_id").as("ek")),
        corpus.groupBy($"nfp").agg(min($"doc_id").as("nk")),
        labels))
    }
    val all4 = batchA.unionByName(batchB).localCheckpoint()
    val streamed = verdicts(EventStreams.readCascadeVerdicts(spark, root))
    val want = batchTwin(all4)
    // DIVERGENCE: batch A's bucket was under the cap when probed, so
    // the streamed labels keep the 1-2 edge; a batch recompute drops
    // the (now size-4) bucket wholesale and keeps everyone
    assert(streamed !== want, "the fixture must actually diverge")
    assert(streamed.find(_._1 == 2L).get._2 === "near")
    assert(want.forall(_._2 == "kept"))
    // the nightly recompute the saturation warning names
    EventStreams.rebuildCascadeStores(spark, root, maxBucket = cap)
    assert(verdicts(EventStreams.readCascadeVerdicts(spark, root)) === want)
    // maintenance continues against the rebuilt store and stays ≡ batch
    EventStreams.applyCascadeBatch(Seq(doc(5)).toDF("doc_id", "text"),
      root, 2L, maxBucket = cap)
    assert(verdicts(EventStreams.readCascadeVerdicts(spark, root))
      === batchTwin(all4.unionByName(Seq(doc(5)).toDF("doc_id", "text"))))
  }

  test("an oversized merge batch fails the streaming label seam naming the rebuild recovery") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-poison").toString
    // 4 singleton components; a batch merging 2 of them with the cap
    // at 1 — the bulk-backfill boundary, driven through the STREAMING
    // seam (r14 ADVICE: the raw guard made one oversized batch an
    // unrecoverable crash-replay loop with no operator-facing path)
    EventStreams.labelStoreInit(
      spark.range(0L, 4L).select($"id".as("doc_id"), $"id".as("cluster_id")),
      root, files = 1)
    val edges = Seq((0L, 1L), (2L, 3L)).toDF("src", "dst")
    val e = intercept[IllegalStateException] {
      EventStreams.applyLabelBatch(edges, root, 0L, maxReps = 1)
    }
    assert(e.getMessage.contains("rebuildCascadeStores"))
    assert(e.getMessage.contains("bulk-backfill"))
    assert(e.getMessage.contains("same checkpoint"))
    // at the cap the seam still lands the delta
    EventStreams.applyLabelBatch(edges, root, 0L, maxReps = 2)
    assert(EventStreams.readLabelStore(spark, root)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      === Seq((0L, 0L), (1L, 0L), (2L, 2L), (3L, 2L)))
  }

  // ---- streaming cascade stores ----

  /** Batch LSH candidate pairs over an arbitrary `(doc_id, text)`
    * frame — an independent restatement of the minhashLsh derivation
    * (band → bucket-cap → self-join → est ≥ threshold) the streamed
    * probe must reproduce pair-for-pair.
    */
  private def lshPairsOf(d: DataFrame): DataFrame = {
    val bands0 = Dedup.bandSigRows(Dedup.signaturesOf(d))
    val keptKeys = bands0.groupBy(col("band"), col("band_key"))
      .agg(count(lit(1)).as("bn")).filter(col("bn") <= Dedup.MaxBandBucket)
      .select(col("band"), col("band_key"))
    val bands = bands0.join(keptKeys, Seq("band", "band_key"))
    bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.band_key") === col("b.band_key")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
      .dropDuplicates("doc_a", "doc_b")
      .filter(expr("size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), b -> b))")
        / lit(16.0) >= Dedup.ClusterThreshold)
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
  }

  private def verdictRows(df: DataFrame): Seq[(Long, String, Long)] =
    df.select("doc_id", "stage", "keeper_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1).toSeq

  /** Full batch recompute of the cascade over everything ingested:
    * keeper elections over the prefix, labels from a converged
    * min-label loop over the prefix's LSH pairs.
    */
  private def expectedCascade(prefix: DataFrame): Seq[(Long, String, Long)] = {
    val corpus = Dedup.fingerprintsOf(prefix).select("doc_id", "fp", "nfp")
    val ex = corpus.groupBy(col("fp")).agg(min(col("doc_id")).as("ek"))
    val nx = corpus.groupBy(col("nfp")).agg(min(col("doc_id")).as("nk"))
    val edges = lshPairsOf(prefix).localCheckpoint()
    val nodes = edges.select(col("src").as("doc_id"))
      .union(edges.select(col("dst"))).distinct()
    val labels = Dedup.clustersOver(nodes, edges, Dedup.MaintenanceMaxHops)
    verdictRows(Dedup.cascadeOver(corpus, ex, nx, labels))
  }

  // ---- streaming embedding-cluster stores ----

  /** Batch cosine-LSH pairs over an arbitrary `(vec_id, embedding)`
    * frame — the embeddingCosine derivation restated (single
    * sign-bucket equality, exact 6-dp cosine ≥ threshold) as the
    * independent expectation for the streamed probe.
    */
  private def embPairsOf(prefix: DataFrame, threshold: Double): DataFrame = {
    val e = graft.operators.Similarity.embWithBucketOf(
      prefix, Dedup.EmbeddingLshBits)
    e.as("a")
      .join(e.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("src"), col("b.vec_id").as("dst"),
        round(graft.plans.ArrayExpressions.dot(col("a.emb"), col("b.emb"))
          / (col("a.nrm") * col("b.nrm")), 6).as("cos"))
      .filter(col("cos") >= threshold)
      .select(col("src"), col("dst"))
  }

  private def labelRows(df: DataFrame): Seq[(Long, Long)] =
    df.select("doc_id", "cluster_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq

  test("streamed embedding-cluster labels equal a batch recompute after every batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val vecs = graft.engine.Tables.load(spark, dir, "embeddings")
      .select($"vec_id", $"embedding")
    def toBatch(d: DataFrame): Seq[(Long, Seq[Float])] =
      d.collect().map(r =>
        (r.getLong(0), r.getSeq[Float](1).toSeq)).toSeq
    val batches = (0L until 3L).map(k => toBatch(vecs.filter($"vec_id" % 3 === k)))
    val root = Files.createTempDirectory("graft-embstream").toString + "/store"
    EventStreams.embeddingClusterStoreInit(spark, root)
    val stream = MemoryStream[(Long, Seq[Float])]
    val q = EventStreams.maintainEmbeddingClusterStores(
        stream.toDF().toDF("vec_id", "embedding"), root)
      .option("checkpointLocation", ckpt()).start()
    var prefix: Seq[(Long, Seq[Float])] = Seq.empty
    def expected(): Seq[(Long, Long)] = {
      val pairs = embPairsOf(prefix.toDF("vec_id", "embedding"),
        Dedup.EmbeddingCosineThreshold).localCheckpoint()
      val nodes = pairs.select(col("src").as("doc_id"))
        .union(pairs.select(col("dst"))).distinct()
      labelRows(Dedup.clustersOver(nodes, pairs, Dedup.MaintenanceMaxHops))
    }
    batches.foreach { b =>
      stream.addData(b)
      q.processAllAvailable()
      prefix = prefix ++ b
      assert(labelRows(EventStreams.readLabelStore(spark, s"$root/labels"))
        === expected(), s"labels diverged after a batch of ${b.length} vectors")
    }
    q.stop()
    // non-vacuous: the fixture must actually produce near-dup edges
    assert(expected().nonEmpty, "fixture must yield cosine-LSH clusters")
    // replay idempotence through the seam (batch id 2 re-applied)
    val pre = labelRows(EventStreams.readLabelStore(spark, s"$root/labels"))
    EventStreams.applyEmbeddingBatch(
      batches(2).toDF("vec_id", "embedding"), root, 2L)
    assert(labelRows(EventStreams.readLabelStore(spark, s"$root/labels")) === pre)
    // compaction: folds, preserves labels, maintenance continues
    assert(EventStreams.compactEmbeddingClusterStores(spark, root, maxDeltas = 2, files = 2))
    Seq("vecs", "labels").foreach(sub =>
      assert(gens(s"$root/$sub") === 2,
        s"$sub must fold to base + the replay-fenced newest delta"))
    assert(labelRows(EventStreams.readLabelStore(spark, s"$root/labels")) === pre)
  }

  test("replayed micro-batches are idempotent for both upsert maintainers") {
    import spark.implicits._
    // ---- label store: replay must reconstruct the pre-batch store ----
    val storeDir = Files.createTempDirectory("graft-replay").toString + "/labels"
    val baseEdges = Seq((1L, 2L), (10L, 11L), (20L, 21L)).toDF("src", "dst")
    val nodes = baseEdges.select($"src".as("doc_id"))
      .union(baseEdges.select($"dst")).distinct()
    EventStreams.labelStoreInit(
      Dedup.clustersOver(nodes, baseEdges, Dedup.MaintenanceMaxHops)
        .select($"doc_id", $"cluster_id"), storeDir)
    def labels() = EventStreams.readLabelStore(spark, storeDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val batch = Seq((2L, 10L), (21L, 40L)).toDF("src", "dst")
    EventStreams.applyLabelBatch(batch, storeDir, 0L)
    val once = labels()
    EventStreams.applyLabelBatch(batch, storeDir, 0L) // the replay
    assert(labels() === once, "replay must leave the label store unchanged")
    // negative control — WHY the own-delta exclusion is load-bearing:
    // against a store already holding the batch's effect, the
    // incremental delta is EMPTY (every batch edge contracts to a
    // self-loop); a replay reading its own delta would overwrite the
    // real one with nothing
    assert(Dedup.clustersIncrementalDelta(
      EventStreams.readLabelStore(spark, storeDir), batch).isEmpty)

    // ---- cascade stores: same contract through every sub-store ----
    val root = Files.createTempDirectory("graft-cascreplay").toString + "/store"
    EventStreams.cascadeStoreInit(spark, root)
    val d = graft.engine.Tables.load(spark, dir, "documents")
      .select($"doc_id", $"text")
    val b0 = d.filter($"doc_id" < 100)
    val b1 = d.filter($"doc_id" >= 100 && $"doc_id" < 200)
    EventStreams.applyCascadeBatch(b0, root, 0L)
    val v0 = verdictRows(EventStreams.readCascadeVerdicts(spark, root))
    EventStreams.applyCascadeBatch(b0, root, 0L) // the replay
    assert(verdictRows(EventStreams.readCascadeVerdicts(spark, root)) === v0,
      "replayed cascade batch must not change the served verdicts")
    // and maintenance proceeds correctly after the replay
    EventStreams.applyCascadeBatch(b1, root, 1L)
    assert(verdictRows(EventStreams.readCascadeVerdicts(spark, root))
      === expectedCascade(b0.unionByName(b1)))
  }

  test("compaction fences the newest delta, so a crash-compact-restart replay cannot re-append") {
    import spark.implicits._
    // the ADVICE r14 sequence, driven end-to-end: batch b1 lands its
    // deltas but (as far as any compactor can know) its checkpoint
    // offset never committed; maintenance compaction runs; the
    // restarted stream REPLAYS b1. Pre-fence, compaction folded b1
    // into base_0 and deleted it — the replay's per-directory
    // overwrite became a re-append (duplicate doc_ids in the served
    // corpus, inflated bucket counts). The fence keeps b1 in place,
    // so the replay overwrites it and every store stays exact.
    val root = Files.createTempDirectory("graft-fencereplay").toString + "/store"
    EventStreams.cascadeStoreInit(spark, root)
    val d = graft.engine.Tables.load(spark, dir, "documents")
      .select($"doc_id", $"text")
    val b0 = d.filter($"doc_id" < 150)
    val b1 = d.filter($"doc_id" >= 150 && $"doc_id" < 300)
    EventStreams.applyCascadeBatch(b0, root, 0L)
    EventStreams.applyCascadeBatch(b1, root, 1L)
    val pre = verdictRows(EventStreams.readCascadeVerdicts(spark, root))
    // "crash before commit": compact while b1 is the newest delta
    assert(EventStreams.compactCascadeStores(spark, root, maxDeltas = 2, files = 2))
    assert(Files.isDirectory(java.nio.file.Paths.get(s"$root/docs/b1")),
      "the newest delta must survive compaction (replay fence)")
    // restart → foreachBatch redelivers b1
    EventStreams.applyCascadeBatch(b1, root, 1L)
    val docs = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$root/docs")
    assert(docs.count() === docs.select("doc_id").distinct().count(),
      "replay after compaction must not duplicate served docs")
    assert(verdictRows(EventStreams.readCascadeVerdicts(spark, root)) === pre)
    assert(pre === expectedCascade(b0.unionByName(b1)))
  }

  test("a compaction interrupted between trashing the folded generations and moving the new base in loses no rows") {
    import spark.implicits._
    import java.nio.file.Paths
    def pairs(ids: Range): DataFrame =
      ids.map(i => (i.toLong, i + 1000L, 1L)).toDF("doc_a", "doc_b", "n_shared_spans")
    def served(d: String) = EventStreams.readSpanLayoutDeltas(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    // built on disk, no fault injection: base_0, b0 and b1 are folded
    // into a committed `<dir>.compacting` base and moved into
    // `<dir>.trash`; the tree keeps only the replay-fenced b2. With
    // `markComplete` the trash also carries the marker the swap leaves
    // once every folded generation is in it.
    def crashed(markComplete: Boolean): (String, Seq[(Long, Long, Long)]) = {
      val d = Files.createTempDirectory("graft-swapcrash").toString + "/layout"
      Seq("base_0" -> (0 until 10), "b0" -> (10 until 20), "b1" -> (20 until 30),
        "b2" -> (30 until 40)).foreach { case (g, ids) => pairs(ids).write.parquet(s"$d/$g") }
      val pre = served(d)
      val folded = Seq("base_0", "b0", "b1")
      spark.read.parquet(folded.map(g => s"$d/$g"): _*).write.parquet(s"$d.compacting")
      Files.createDirectories(Paths.get(s"$d.trash"))
      folded.foreach(g => Files.move(Paths.get(s"$d/$g"), Paths.get(s"$d.trash/$g")))
      if (markComplete) Files.createFile(Paths.get(s"$d.trash/_COMPLETE"))
      assert(served(d) === pre.filter(_._1 >= 30), "readers see only the fenced delta")
      (d, pre)
    }
    for (markComplete <- Seq(false, true)) {
      val (d, pre) = crashed(markComplete)
      // a compaction call recovers the tree before it counts deltas,
      // whether or not it then triggers
      assert(!EventStreams.compactSpanLayout(spark, d, maxDeltas = 100))
      assert(served(d) === pre, s"recovered rows (complete trash: $markComplete)")
      assert(!Files.exists(Paths.get(s"$d.trash")) &&
        !Files.exists(Paths.get(s"$d.compacting")))
      pairs(40 until 50).write.parquet(s"$d/b3")
      assert(EventStreams.compactSpanLayout(spark, d, maxDeltas = 2))
      assert(gens(d) === 2)
      assert(served(d) === (pre ++ served(s"$d/b3")).sorted,
        s"rows after the next compaction (complete trash: $markComplete)")
    }
  }

  test("an upsert batch applied right after an interrupted compaction gives the uncrashed store") {
    import spark.implicits._
    import java.nio.file.Paths
    def edges(es: (Long, Long)*): DataFrame = es.toDF("src", "dst")
    // base: {1,2} {10,11} {20,21}; b0 joins {1,2,10,11}; b1 adds 40 to
    // {20,21}; b2 is the replay-fenced {50,51}
    val seed = edges((1L, 2L), (10L, 11L), (20L, 21L))
    val batches = Seq(edges((2L, 10L)), edges((21L, 40L)), edges((50L, 51L)))
    // the next batch joins a component that only the folded
    // generations know to the fenced one's
    val next = edges((11L, 50L))
    def store(): String = {
      val d = Files.createTempDirectory("graft-labelcrash").toString + "/labels"
      val nodes = seed.select($"src".as("doc_id")).union(seed.select($"dst")).distinct()
      EventStreams.labelStoreInit(
        Dedup.clustersOver(nodes, seed, Dedup.MaintenanceMaxHops)
          .select($"doc_id", $"cluster_id"), d)
      batches.zipWithIndex.foreach { case (b, i) => EventStreams.applyLabelBatch(b, d, i.toLong) }
      d
    }
    def labels(d: String) = labelRows(EventStreams.readLabelStore(spark, d))
    val uncrashed = store()
    EventStreams.applyLabelBatch(next, uncrashed, 3L)
    val expected = labels(uncrashed)
    assert(expected.map(_._2).distinct.size === 2, expected)
    for (markComplete <- Seq(false, true)) {
      // the compaction's crash state, built on disk as in the span
      // layout case above: base_0, b0 and b1 folded into a committed
      // `<dir>.compacting` base and moved into `<dir>.trash`
      val d = store()
      val folded = Seq("base_0", "b0", "b1")
      spark.read.parquet(folded.map(g => s"$d/$g"): _*).write.parquet(s"$d.compacting")
      Files.createDirectories(Paths.get(s"$d.trash"))
      folded.foreach(g => Files.move(Paths.get(s"$d/$g"), Paths.get(s"$d.trash/$g")))
      if (markComplete) Files.createFile(Paths.get(s"$d.trash/_COMPLETE"))
      // no maintenance call: the batch seam recovers before it reads
      EventStreams.applyLabelBatch(next, d, 3L)
      assert(labels(d) === expected, s"complete trash: $markComplete")
      assert(!Files.exists(Paths.get(s"$d.trash")) &&
        !Files.exists(Paths.get(s"$d.compacting")))
    }
  }

  test("only DeltaTree.scala knows the delta trees' directory format") {
    import java.nio.file.Paths
    val walk = Files.walk(Paths.get("src/main"))
    val sources = try walk.iterator().asScala.filter(Files.isRegularFile(_)).toList
      finally walk.close()
    val needles = Seq("recursiveFileLookup", ".trash", ".compacting",
      "monotonically increasing")
    // a generation-name regex: base(_N)?, bN, cdN or tN, in a string or
    // triple-quoted literal
    val generationRegex = """(?<![\\\w])(?:base|b|cd|t)[(_)|]*\\{1,2}d\+""".r
    val hits = sources.filter { f =>
      val src = Files.readString(f)
      needles.exists(src.contains) || generationRegex.findFirstIn(src).isDefined
    }.map(_.toString).sorted
    assert(hits === Seq("src/main/scala/graft/streaming/DeltaTree.scala"))
  }

  test("a band bucket crossing MaxBandBucket mid-stream is flagged at compaction") {
    import spark.implicits._
    // identical text → identical minhash signature → one shared set of
    // band buckets. Batch 0 fills the bucket to just over half the
    // cap (edges emitted), batch 1 pushes it PAST the cap (its probe
    // drops the bucket) — union-over-batches now diverges from a
    // batch recompute, which would drop the saturated bucket
    // wholesale. Nothing can repair that incrementally; the detector
    // must surface it at compaction time so operators know a nightly
    // recompute is due.
    val root = Files.createTempDirectory("graft-satdetect").toString + "/store"
    EventStreams.cascadeStoreInit(spark, root)
    val boiler = "the exact same boilerplate text repeated verbatim in " +
      "every single document of this template population"
    def mk(ids: Range): DataFrame =
      ids.map(i => (i.toLong, boiler)).toDF("doc_id", "text")
    EventStreams.applyCascadeBatch(mk(0 until 501), root, 0L)
    assert(EventStreams.saturatedBandBuckets(spark, root).count() === 0L,
      "under the cap nothing is flagged")
    EventStreams.applyCascadeBatch(mk(501 until 1001), root, 1L) // crosses 1000
    // a newer batch unfences b1 so the bands compaction folds the
    // crossing into base — the moment the detector runs
    EventStreams.applyCascadeBatch(
      Seq((5000L, "an unrelated fresh document")).toDF("doc_id", "text"),
      root, 2L)
    assert(EventStreams.compactCascadeStores(spark, root, maxDeltas = 2, files = 2))
    val sat = EventStreams.saturatedBandBuckets(spark, root)
      .collect().map(r => r.getLong(2))
    assert(sat.nonEmpty, "the crossed bucket must be flagged")
    assert(sat.forall(_ === 1001L),
      s"flagged sizes must be the bucket's true corpus size: ${sat.toSeq}")
  }

  test("the band probe broadcasts the batch keys and never shuffles the store") {
    import spark.implicits._
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    // the store side is corpus-sized: its one pass must be a map-side
    // scan probed by a broadcast of the batch's keys — a SortMergeJoin
    // here is the corpus-shuffle-per-batch failure the maintainer
    // exists to avoid (the incremental-labels seed-probe rule)
    val root = Files.createTempDirectory("graft-probe").toString
    val d = graft.engine.Tables.load(spark, dir, "documents")
      .select($"doc_id", $"text")
    Dedup.bandSigRows(Dedup.signaturesOf(d))
      .write.parquet(s"$root/bands/b0")
    val store = spark.read
      .option("recursiveFileLookup", "true").parquet(s"$root/bands")
    val batch = Dedup.bandSigRows(Dedup.signaturesOf(
      d.filter($"doc_id" % 7 === 0)))
    val probed = Dedup.lshProbeMatched(store, batch)
    probed.collect()
    val plan = (probed.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }).toString
    assert(plan.contains("BroadcastHashJoin"),
      s"probe must broadcast the batch keys:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"probe must not shuffle the band store:\n$plan")
  }

  test("streamed cascade stores serve verdicts equal to a batch recompute after every batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = graft.engine.Tables.load(spark, dir, "documents")
      .select($"doc_id", $"text")
    // the surfaced cascade's exact planted corpus (verbatim + case
    // copies), in three id-striped batches so copies and their bases
    // cross batch boundaries
    val planted = base
      .unionAll(base.filter($"doc_id" % 20 === 3)
        .select(($"doc_id" + Dedup.CascadeExactShift).as("doc_id"), $"text"))
      .unionAll(base.filter($"doc_id" % 20 === 5)
        .select(($"doc_id" + Dedup.CascadeCaseShift).as("doc_id"),
          concat(upper($"text"), lit(" !!")).as("text")))
    def toBatch(d: DataFrame): Seq[(Long, String)] =
      d.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val batches = (0L until 3L).map(k => toBatch(planted.filter($"doc_id" % 3 === k)))

    val root = Files.createTempDirectory("graft-cascadestream").toString + "/store"
    EventStreams.cascadeStoreInit(spark, root)
    val stream = MemoryStream[(Long, String)]
    val q = EventStreams.maintainCascadeStores(
        stream.toDF().toDF("doc_id", "text"), root)
      .option("checkpointLocation", ckpt()).start()

    var prefix: Seq[(Long, String)] = Seq.empty
    batches.foreach { b =>
      stream.addData(b)
      q.processAllAvailable()
      prefix = prefix ++ b
      assert(verdictRows(EventStreams.readCascadeVerdicts(spark, root))
        === expectedCascade(prefix.toDF("doc_id", "text")),
        s"served verdicts diverged after a batch of ${b.length} docs")
    }
    // at full ingest the served table IS the surfaced query's result
    val full = verdictRows(EventStreams.readCascadeVerdicts(spark, root))
    assert(full === verdictRows(Dedup.cascade(spark, dir)))
    assert(full.count(_._2 == "exact") > 0)
    assert(full.count(_._2 == "normalized") > 0)

    // a planted NEAR batch (last word dropped → shingle-set Jaccard
    // ≈ 1): the only stage the cascade corpus leaves unexercised at
    // this sf, and the one that drives the label store
    val tok = split($"text", " ")
    val nearBatch = toBatch(base
      .filter($"doc_id" % 20 === 11 && size(tok) >= 10)
      .select(($"doc_id" + 9100000L).as("doc_id"),
        array_join(slice(tok, lit(1), size(tok) - 1), " ").as("text")))
    assert(nearBatch.nonEmpty, "fixture must yield near-dup plants")
    stream.addData(nearBatch)
    q.processAllAvailable()
    prefix = prefix ++ nearBatch
    val withNear = verdictRows(EventStreams.readCascadeVerdicts(spark, root))
    assert(withNear === expectedCascade(prefix.toDF("doc_id", "text")))
    assert(withNear.count(_._2 == "near") > 0,
      "planted near-dups must reach the near stage")

    // compaction folds every sub-store, changes no verdict, and the
    // maintainer keeps working against the compacted tree
    assert(EventStreams.compactCascadeStores(spark, root, maxDeltas = 2, files = 2))
    Seq("docs", "fp", "nfp", "bands", "labels").foreach(sub =>
      assert(gens(s"$root/$sub") === 2,
        s"$sub must fold to base + the replay-fenced newest delta"))
    assert(verdictRows(EventStreams.readCascadeVerdicts(spark, root)) === withNear)
    val nearBatch2 = toBatch(base
      .filter($"doc_id" % 20 === 17 && size(tok) >= 10)
      .select(($"doc_id" + 9200000L).as("doc_id"),
        array_join(slice(tok, lit(1), size(tok) - 1), " ").as("text")))
    assert(nearBatch2.nonEmpty)
    stream.addData(nearBatch2)
    q.processAllAvailable()
    q.stop()
    prefix = prefix ++ nearBatch2
    assert(verdictRows(EventStreams.readCascadeVerdicts(spark, root))
      === expectedCascade(prefix.toDF("doc_id", "text")))
  }
}
