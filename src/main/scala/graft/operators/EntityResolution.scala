package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.Tables

/** ENTITY RESOLUTION (record linkage) over the `part` catalog — the
  * pipeline verb that reconciles free-text mentions against a clean
  * entity catalog (vendor feeds vs a product master, author strings vs
  * an author registry, …). The classic distributed recipe, each step
  * its own bounded-cost relational shape:
  *
  *  1. CANDIDATE GENERATION by MULTI-KEY BLOCKING: every string emits
  *     one posting per normalized token, and a mention meets a
  *     catalog entity iff they share ≥ 1 key — an equi-join on the
  *     token, never the all-pairs cross product. Multiple keys per
  *     string is the point: single-key blocking misses any mention
  *     whose one key was corrupted (a swapped word order changes the
  *     "first word" key; sharing EITHER word still blocks).
  *  2. SCORING: Levenshtein distance on the case-folded strings,
  *     computed only for blocked pairs.
  *  3. ELECTION: per mention the nearest candidate (ties → lowest
  *     entity id), a per-mention-partitioned rank-1 filter that
  *     compiles to WindowGroupLimit (map-side top-1 heaps, no global
  *     sort).
  *
  * The raw fixture has no noisy mentions, so the surfaced query
  * PLANTS them deterministically (the dedup-cascade convention): every
  * part re-arrives as a mention corrupted by `p_partkey mod 3` —
  * last character dropped / uppercased / word order reversed — so both
  * engines replay the identical corruption and the match outcome is
  * exactly checkable, including a per-mention `correct` verdict
  * against the planted truth.
  *
  * Scale shape: postings are |strings|·|tokens| rows keyed by token;
  * hot blocking keys are the skew hazard (a token shared by half the
  * catalog regenerates the cross product), so keys whose candidate
  * posting exceeds [[ErMaxBlock]] are dropped wholesale — the
  * [[Dedup.MaxShingleDf]] posture; [[blockProfile]] is the audit that
  * shows what the cap cost. Catalog-side work runs on the
  * DISTINCT-name table (entity-domain-sized, not mention-sized).
  */
object EntityResolution {

  /** Blocking keys whose catalog posting exceeds this are dropped
    * (skew guard, mirrored in the oracle).
    */
  val ErMaxBlock = 1000L

  /** [[erEnrich]]'s literal-catalog size cap — the bound on the
    * model-sized-only contract (the centroid/bloom precedent: driver
    * literals carry MODELS, never data). Enforced with a loud error
    * rather than letting a data-sized catalog OOM the driver or hit
    * Janino method-size fallbacks mid-analysis.
    */
  val ErEnrichMaxCatalog = 10000

  private def parts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "part").select($"p_partkey", $"p_name")
  }

  /** Clean entity catalog: one row per DISTINCT name, entity id = the
    * lowest part key bearing it (the min-id keeper election every
    * dedup family here uses).
    */
  private[graft] def catalog(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    parts(spark, dir)
      .groupBy($"p_name".as("ent_name"))
      .agg(min($"p_partkey").as("ent_id"))
  }

  /** Deterministically corrupted mention per part:
    * mod 0 → last character dropped, mod 1 → uppercased,
    * mod 2 → word order REVERSED (lossless at any word count — a
    * first/last swap would silently truncate 3+-word names if the
    * fixture's name shape ever widens).
    */
  private[graft] def mentions(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    parts(spark, dir).select(
      $"p_partkey".as("mention_id"),
      $"p_name".as("true_name"),
      when($"p_partkey" % 3 === 0,
          expr("substr(p_name, 1, length(p_name) - 1)"))
        .when($"p_partkey" % 3 === 1, upper($"p_name"))
        .otherwise(array_join(reverse(split($"p_name", " ")), " ")).as("mention"))
  }

  /** Per-string normalized token postings: `(key, …)` one row per
    * distinct lowercase token.
    */
  private def keysOf(d: DataFrame, strCol: String): DataFrame =
    d.select(col("*"), explode(array_distinct(split(lower(col(strCol)), " "))).as("key"))

  /** BLOCKING-HEALTH audit — per blocking key, how many catalog
    * entities and mentions post to it, the pair fan-out it would
    * generate, and whether the [[ErMaxBlock]] cap keeps it. The table
    * an ER rollout reads before trusting recall: dropped hot keys are
    * lost-candidate mass, a huge kept key is the next cost cliff.
    */
  def blockProfile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ck = keysOf(catalog(spark, dir), "ent_name")
      .groupBy($"key").agg(count(lit(1)).as("n_entities"))
    val mk = keysOf(mentions(spark, dir), "mention")
      .groupBy($"key").agg(count(lit(1)).as("n_mentions"))
    ck.join(mk, Seq("key"), "full")
      .select($"key",
        coalesce($"n_entities", lit(0L)).as("n_entities"),
        coalesce($"n_mentions", lit(0L)).as("n_mentions"))
      .withColumn("n_pairs", $"n_entities" * $"n_mentions")
      .withColumn("kept", $"n_entities" <= ErMaxBlock)
      .orderBy($"key")
  }

  /** The match table: every mention, its elected nearest catalog
    * entity among block-mates (Levenshtein on case-folded strings,
    * ties → lowest ent_id), the distance, and whether the election
    * recovered the planted truth. Mentions whose every blocking key
    * was dropped (or that share no key) are reported with a null
    * match — silent row loss is how ER failures hide.
    */
  def matchMentions(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    matchAgainst(mentions(spark, dir), catalog(spark, dir))
      .orderBy($"mention_id")
  }

  /** The blocked match core over arbitrary frames: `m` =
    * `(mention_id, true_name, mention)`, `cat` = `(ent_name, ent_id)`.
    * Every mention's verdict depends ONLY on the catalog — never on
    * other mentions (blocking keys are kept/dropped by CATALOG posting
    * size alone) — which is the property that makes the match table
    * streamable as disjoint per-batch appends
    * ([[graft.streaming.EventStreams.maintainMatchesLayout]]): a
    * mention's row is final at ingest under the fixed-catalog
    * contract (`er_match_fixed_catalog`'s production shape).
    */
  private[graft] def matchAgainst(m: DataFrame, cat: DataFrame): DataFrame = {
    val (ck, keptKeys) = catalogKeys(cat)
    matchAgainstKeys(m, ck, keptKeys).drop("true_name")
  }

  /** The catalog's blocked-key relation and its [[ErMaxBlock]]-kept
    * key set — STREAM-CONSTANT under the fixed-catalog contract, so
    * the streaming maintainer computes them once at construction and
    * closes over the materialization instead of re-electing postings
    * per micro-batch.
    */
  private[graft] def catalogKeys(cat: DataFrame): (DataFrame, DataFrame) = {
    import cat.sparkSession.implicits._
    val ck = keysOf(cat, "ent_name").select($"key", $"ent_id", $"ent_name")
    val keptKeys = ck.groupBy($"key").agg(count(lit(1)).as("n"))
      .filter($"n" <= ErMaxBlock).select($"key")
    (ck, keptKeys)
  }

  /** [[matchAgainst]] over a pre-computed blocked catalog. Keeps
    * `true_name` in the output (the evolving matches store persists it
    * so catalog-delta re-verdicting can re-score stored mentions);
    * batch faces that surface the 5-column match table drop it.
    */
  private[graft] def matchAgainstKeys(m: DataFrame, ck: DataFrame,
      keptKeys: DataFrame): DataFrame = {
    import m.sparkSession.implicits._
    // r15 (guide §1.2 step 1+2): per-mention candidate ARRAYS instead
    // of row-per-pair scoring. collect_set dedupes the multi-key
    // candidates inside the one groupBy exchange (the old
    // distinct() + window election paid two), and the election runs
    // as the same banded best-so-far fold as [[erEnrich]]: candidates
    // sorted by ent_id (array_sort on the id-first struct — ids are
    // unique), strictly-better-only replacement under a THRESHOLD
    // levenshtein, so once any close candidate is seen the remaining
    // comparisons degenerate to the O(len·k) band instead of the full
    // DP table. Reproduces the (dist, ent_id) argmin bit-for-bit: an
    // equal-distance later candidate has a higher id and never won
    // under the window's orderBy either. The lowered mention is bound
    // once as a lambda variable (the r2 HOF trap); lowered candidate
    // names are computed once per candidate before the fold.
    // r16: the mention frame's columns ride the posting rows into the
    // groupBy (keysOf keeps every source column; first() over a
    // per-group-constant value is deterministic), and the catalog
    // postings attach by LEFT join — a mention whose every key was
    // dropped or unshared keeps one null-candidate row, which the
    // null-skipping collect_set(when(...)) turns into the empty
    // candidate array. Every mention therefore reaches the aggregate
    // and the r15 join-back to the mention frame AND the mention-sized
    // final left join — the joins whose broadcast flipped to a shuffle
    // at 3x data and broke plan-shape scale invariance — are gone
    // outright (guide §2.4). The no-candidate sentinel (id −1) maps
    // back to the null match in the projection, bit-identical to the
    // old outer join's null columns. The banded distance is bound ONCE
    // per candidate via the single-element transform (Catalyst does
    // not CSE inside lambda bodies, so the r15 CASE ran the band twice
    // per accepted candidate).
    val mk = keysOf(m, "mention")
      .select($"key", $"mention_id", $"true_name", $"mention")
    val ckKept = ck.join(keptKeys, Seq("key"))
    mk.join(ckKept, Seq("key"), "left")
      .groupBy($"mention_id")
      .agg(first($"true_name").as("true_name"),
        first($"mention").as("mention"),
        array_sort(collect_set(when($"ent_id".isNotNull,
          struct($"ent_id".as("id"),
            $"ent_name".as("nm"), lower($"ent_name").as("lnm"))))).as("cands"))
      .withColumn("__best", expr(
        """element_at(transform(array(lower(mention)), lm ->
          |  aggregate(cands,
          |    named_struct('id', CAST(-1 AS BIGINT), 'nm', CAST(NULL AS STRING),
          |                 'd', CAST(1073741824 AS BIGINT)),
          |    (s, c) -> CASE
          |      WHEN s.d = 0 THEN s
          |      ELSE element_at(transform(
          |        array(levenshtein(lm, c.lnm, CAST(s.d AS INT) - 1)), d ->
          |        CASE WHEN d >= 0
          |          THEN named_struct('id', c.id, 'nm', c.nm,
          |            'd', CAST(d AS BIGINT))
          |          ELSE s END), 1) END)), 1)""".stripMargin))
      .select($"mention_id", $"true_name", $"mention",
        when($"__best.id" >= 0, $"__best.id").as("matched_id"),
        when($"__best.id" >= 0, $"__best.d").as("dist"),
        coalesce($"__best.nm" === $"true_name", lit(false)).as("correct"))
  }

  /** The planted CATALOG DELTA the incremental re-verdict query
    * replays — deterministic in both engines, two upsert classes:
    * RENAMES (ent_id % 7 = 3: the first name token is dropped and
    * `rebrand` prefixed, so the old first-token blocking key is only
    * reachable through the OLD name — the case that catches an
    * invalidation pass that forgets changed entities' prior keys) and
    * NEW entities (ent_id % 13 = 4 re-listed under a fresh id with a
    * `novel` prefix, sharing the original's tokens so existing
    * mentions gain candidates).
    */
  private[graft] def catalogDeltaOf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cat = catalog(spark, dir)
    cat.filter($"ent_id" % 7 === 3)
      .select($"ent_id",
        concat(lit("rebrand "),
          array_join(slice(split($"ent_name", " "), 2, 100000), " ")).as("ent_name"))
      .unionByName(cat.filter($"ent_id" % 13 === 4)
        .select(($"ent_id" + 9000000L).as("ent_id"),
          concat(lit("novel "), $"ent_name").as("ent_name")))
  }

  /** Normalize a catalog delta to carry the tombstone flag: a delta
    * row is either an UPSERT (`deleted = false`, `ent_name` = the new
    * name) or a DELETE (`deleted = true` — the entity leaves the
    * catalog). Upsert-only producers ship 2-column deltas; this adds
    * the `false` flag so every consumer handles one shape. A NULL flag
    * value coalesces to `false` for the same reason the absent column
    * does: every consumer filters `!deleted`, where a NULL is neither
    * kept nor counted under three-valued logic — left raw, a null-flag
    * row would pass the store boundary's shape checks as nothing and
    * then vanish from every serving fold as if tombstoned (a silent,
    * compaction-permanent delete of an intended upsert).
    */
  private[graft] def withDeletedCol(delta: DataFrame): DataFrame =
    if (delta.columns.contains("deleted"))
      delta.withColumn("deleted", coalesce(col("deleted"), lit(false)))
    else delta.withColumn("deleted", lit(false))

  /** Catalog after applying a delta: every delta `ent_id` leaves the
    * old catalog (anti-join), then the delta's NON-deleted rows append
    * — upserts replace, tombstones remove. A delete followed by a
    * later re-add of the same `ent_id` is just an upsert of an id the
    * catalog no longer holds.
    */
  private[graft] def upsertCatalog(oldCat: DataFrame, delta0: DataFrame): DataFrame = {
    val delta = withDeletedCol(delta0)
    oldCat.join(delta.select(col("ent_id")), Seq("ent_id"), "left_anti")
      .select(col("ent_name"), col("ent_id"))
      .unionByName(delta.filter(!col("deleted"))
        .select(col("ent_name"), col("ent_id")))
  }

  /** CATALOG-DELTA RE-VERDICTING — the invalidation core the evolving
    * matches store ([[graft.streaming.EventStreams.applyCatalogDelta]])
    * and the surfaced `er_match_catalog_delta` /
    * `er_match_catalog_tombstone` queries share: a catalog upsert OR
    * DELETE invalidates EXACTLY the mentions whose blocking keys
    * intersect the changed entities' postings, under both the OLD and
    * the NEW names (a candidate set can only change through a key one
    * of those names posts to — including the kept/dropped flips of
    * [[ErMaxBlock]], which move a key's posting count only when a
    * changed entity enters or leaves it), plus — the tombstone face —
    * mentions whose STORED verdict points at a deleted entity. Those
    * mentions are re-scored against the applied catalog with the
    * unchanged blocked-election core (a mention whose every candidate
    * was deleted re-verdicts to the null match — silent dangling ids
    * are how deletes corrupt a serving store); everything else keeps
    * its stored verdict.
    *
    * Scale shape: the affected-key set is dimension-delta-sized and
    * BROADCASTS into a map-side scan of the mention postings (the
    * seed-probe rule — the corpus-sized side never shuffles to be
    * probed); the re-score is then blocked work over the affected
    * subset, which in production (a real token space) is delta-scaled.
    * On this fixture the color-word vocabulary is tiny, so the planted
    * delta touches most mentions — the COST degenerates toward a full
    * re-match here while the mechanics stay the production shape.
    */
  private[graft] def reverdicts(m: DataFrame, oldCat: DataFrame,
      delta0: DataFrame, extraAffected: Option[DataFrame] = None): DataFrame = {
    import m.sparkSession.implicits._
    val delta = withDeletedCol(delta0)
    val newCat = upsertCatalog(oldCat, delta)
    val changedOld = oldCat.join(delta.select($"ent_id"), Seq("ent_id"))
    // old-name keys of EVERY changed entity (upserted or deleted) ∪
    // new-name keys of the upserts (a tombstone contributes no new
    // name — the entity leaves; its old-name keys already mark every
    // mention that could have been matched to it through blocking)
    val affKeys = keysOf(changedOld.select($"ent_name"), "ent_name").select($"key")
      .union(keysOf(delta.filter(!$"deleted").select($"ent_name"), "ent_name")
        .select($"key"))
      .distinct()
    val m3 = m.select($"mention_id", $"true_name", $"mention")
    val keyAff = keysOf(m3, "mention")
      .join(broadcast(affKeys), Seq("key"))
      .select($"mention_id")
    // the DANGLING-VERDICT face: a mention whose STORED verdict points
    // at a CHANGED entity — deleted OR renamed — must re-verdict even
    // if no blocking-key overlap survives (a rename moves the stored
    // dist/correct out from under the verdict exactly like a delete
    // dangles its id). For verdicts produced by the blocked matcher
    // against the evolving catalog this set is provably ⊆ the
    // key-overlap set (the match required a kept key shared with the
    // entity's current name, and that key is in affKeys) — but a store
    // seeded from a NON-blocked matcher ([[erEnrich]] matches across
    // zero shared tokens) or an external backfill can hold verdicts no
    // key reaches, so the face is enforced whenever the caller ships
    // stored verdicts: `m` carrying a `matched_id` column, and/or an
    // `extraAffected` mention-id frame (the store flow's any-generation
    // dangler scan). Both are dimension-delta-bounded probes.
    val changedIds = delta.select($"ent_id")
    val matchedAff =
      if (m.columns.contains("matched_id"))
        m.join(broadcast(changedIds), m("matched_id") === changedIds("ent_id"),
          "left_semi").select($"mention_id")
      else keyAff.limit(0)
    val affIds = keyAff.union(matchedAff)
      .union(extraAffected.map(_.select($"mention_id"))
        .getOrElse(keyAff.limit(0)))
      .distinct()
    val (ck, keptKeys) = catalogKeys(newCat)
    matchAgainstKeys(m3.join(affIds, Seq("mention_id"), "left_semi"), ck, keptKeys)
  }

  /** Stamp the AFFECTED-FRACTION column onto a re-verdict output
    * (r14 verdict #2): `affected_ppm` = affected mentions ×10⁶ div
    * corpus mentions, exact integer ppm, constant across rows — the
    * self-documenting degeneracy gauge. On the base fixture the
    * planted delta's tiny color vocabulary drives it toward 10⁶ (the
    * bench row bounds the WORST case); on amplified fixtures it drops
    * toward the production delta-scaled shape. The re-verdict frame is
    * checkpointed once (affected-scaled), so the count is a block scan
    * and the stamp is the broadcast scalar-subquery pattern — no
    * second re-verdict pass, no global window.
    */
  private def withAffectedPpm(rv: DataFrame, allMentions: DataFrame): DataFrame = {
    val r = rv.localCheckpoint()
    val nAff = r.agg(count(lit(1)).as("n_aff"))
    val nTot = allMentions.agg(count(lit(1)).as("n_tot"))
    r.crossJoin(broadcast(nAff)).crossJoin(broadcast(nTot))
      .withColumn("affected_ppm", expr("n_aff * 1000000 div n_tot"))
      .drop("n_aff", "n_tot")
  }

  /** The surfaced incremental face: re-verdicts for the planted
    * [[catalogDeltaOf]] upsert against the fixture catalog — exactly
    * the rows a maintained matches store upserts when this delta
    * lands, each stamped with the affected fraction
    * ([[withAffectedPpm]]). The oracle recomputes the affected set and
    * the post-delta election independently (DuckDB walks old-name ∪
    * new-name keys → affected mentions → blocked election on the
    * upserted catalog).
    */
  def matchCatalogDelta(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val m = mentions(spark, dir)
    withAffectedPpm(
      reverdicts(m, catalog(spark, dir), catalogDeltaOf(spark, dir))
        .drop("true_name"),
      m)
      .orderBy($"mention_id")
  }

  /** The planted TOMBSTONE delta for the delete face: DELETES
    * (ent_id % 11 = 6 — the entity leaves the catalog; the tombstone
    * row carries NO name, the erasure posture) interleaved with
    * RENAMES (ent_id % 9 = 2, excluding the deleted class — first
    * token dropped, `retag` prefixed) so one delta exercises both
    * verdict classes: mentions re-electing a new nearest after their
    * match was deleted OR renamed, and mentions re-verdicting to the
    * NULL match because every candidate left.
    */
  private[graft] def catalogTombstoneDeltaOf(spark: SparkSession,
      dir: String): DataFrame = {
    import spark.implicits._
    val cat = catalog(spark, dir)
    cat.filter($"ent_id" % 11 === 6)
      .select($"ent_id", lit(null).cast("string").as("ent_name"),
        lit(true).as("deleted"))
      .unionByName(cat.filter($"ent_id" % 9 === 2 && $"ent_id" % 11 =!= 6)
        .select($"ent_id",
          concat(lit("retag "),
            array_join(slice(split($"ent_name", " "), 2, 100000), " ")).as("ent_name"),
          lit(false).as("deleted")))
  }

  /** The surfaced TOMBSTONE face (r14 verdict #1): re-verdicts for the
    * planted [[catalogTombstoneDeltaOf]] delete+rename delta, with the
    * stored verdicts read off the derive-once [[matchesLayout]] so the
    * dangling-`matched_id` face is exercised exactly as the serving
    * store exercises it (mentions whose stored match IS a deleted
    * entity join the affected set even with no key overlap). Unmatched
    * is allowed: a mention whose whole candidate neighbourhood was
    * deleted re-verdicts to the null match. The oracle independently
    * recomputes the pre-delta election, the affected union, and the
    * post-delete blocked election.
    */
  def matchCatalogTombstone(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val m = mentions(spark, dir)
    val stored = m.join(
      matchesLayout(spark, dir).select($"mention_id", $"matched_id"),
      Seq("mention_id"), "left")
    withAffectedPpm(
      reverdicts(stored, catalog(spark, dir),
        catalogTombstoneDeltaOf(spark, dir))
        .drop("true_name"),
      m)
      .orderBy($"mention_id")
  }

  /** [[matchMentions]]' result as a DERIVE-ONCE session layout — the
    * ER counterpart of the cluster-label layouts: the blocked scoring
    * pass runs once per corpus snapshot, and REPORTS over its verdicts
    * ([[matchQuality]]) scan the materialization. `er_match` itself
    * stays live so the bench keeps the scoring cost measured.
    */
  private[graft] def matchesLayout(spark: SparkSession, dir: String): DataFrame =
    graft.engine.Layouts.layoutOnce(spark, "er-matches", dir, "mention_id", files = 4)(
      matchMentions(spark, dir))

  /** The release yardstick: match accuracy and mean distance per
    * corruption class — the table that says WHICH noise the blocking
    * + scorer recipe survives (reversed word order lands far in edit
    * distance; the multi-key blocking still finds them, and this
    * report proves whether the scorer then elects right). Reads the
    * [[matchesLayout]] materialization — a scan + one bounded rollup.
    */
  def matchQuality(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    matchesLayout(spark, dir)
      .withColumn("noise_class",
        when($"mention_id" % 3 === 0, "drop_char")
          .when($"mention_id" % 3 === 1, "uppercase")
          .otherwise("word_reverse"))
      .groupBy($"noise_class")
      .agg(count(lit(1)).as("n_mentions"),
        sum(when($"correct", 1L).otherwise(0L)).as("n_correct"),
        sum(coalesce($"dist", lit(0L))).as("total_dist"),
        sum(when($"matched_id".isNull, 1L).otherwise(0L)).as("n_unmatched"))
      .withColumn("acc_ppm", expr("(n_correct * 1000000) div n_mentions"))
      .orderBy($"noise_class")
  }

  /** STREAM-SAFE matcher core: every mention scored against the FULL
    * catalog carried as a DRIVER-LITERAL array (the centroid/bloom
    * model precedent — an ER serving tier pins a broadcast-sized
    * catalog shard per executor; here it is an expression literal so
    * the matcher is a PURE stateless PROJECTION, which is what lets
    * it run unchanged on a streaming frame with no watermark and
    * replay-stable results). One `transform` computes each
    * candidate's distance exactly once (the distances array is the
    * fold's COLLECTION argument — an in-lambda levenshtein would be
    * re-evaluated per comparison, the r2 HOF-inlining trap), then an
    * argmin fold with the same (dist, ent_id) tie rule as
    * [[matchMentions]]. No blocking: the literal-catalog contract IS
    * the bound on per-row work.
    */
  def erEnrich(mentions: DataFrame, catalog: Seq[(Long, String)]): DataFrame = {
    // literal-catalog contract, enforced: the catalog becomes one
    // struct literal per entity inside a single array expression, so
    // expression-tree size, analysis time, and codegen all grow
    // linearly with it — past a few thousand entries Janino falls back
    // off compiled code and the driver pays analysis blowup before any
    // data is read. Fail LOUDLY instead; a catalog beyond the cap is
    // the blocked-join regime ([[matchMentions]]), not the serving-tier
    // literal regime.
    require(catalog.size <= ErEnrichMaxCatalog,
      s"erEnrich catalog has ${catalog.size} entries, over the literal-" +
        s"expression cap of $ErEnrichMaxCatalog — use the blocked er_match " +
        "path (EntityResolution.matchMentions) for large catalogs")
    // r15 (guide §1.2 step 2, per-task work): the fold carries its
    // best-so-far distance into a THRESHOLD levenshtein — the banded
    // O(len·k) variant returns −1 the moment the running best cannot
    // be beaten, so once any close candidate is seen every remaining
    // comparison degenerates to the |len a − len b| band check instead
    // of the full O(len²) DP table. Election unchanged: the catalog is
    // sorted by id HERE (callers may pass any order), so a
    // strictly-better-only replacement reproduces the argmin with
    // lowest-id ties exactly — an equal-distance later candidate has a
    // higher id and never won under the old rule either. The lowered
    // mention is bound ONCE as a lambda variable (an aliased lower()
    // would be re-inlined per element — the r2 HOF trap), and the
    // lowered catalog names fold to literals at plan time
    // (lower(lit(...)) is constant-foldable).
    val catArr = array(catalog.sortBy(_._1).map { case (id, nm) =>
      struct(lit(id).as("id"), lit(nm).as("nm"), lower(lit(nm)).as("lnm"))
    }: _*)
    mentions
      .withColumn("__cat", catArr)
      .withColumn("__best", expr(
        """element_at(transform(array(lower(mention)), lm ->
          |  aggregate(__cat,
          |    named_struct('id', CAST(-1 AS BIGINT), 'nm', CAST(NULL AS STRING),
          |                 'd', CAST(1073741824 AS BIGINT)),
          |    (s, c) -> CASE
          |      WHEN s.d = 0 THEN s
          |      ELSE element_at(transform(
          |        array(levenshtein(lm, c.lnm, CAST(s.d AS INT) - 1)), d ->
          |        CASE WHEN d >= 0
          |          THEN named_struct('id', c.id, 'nm', c.nm,
          |            'd', CAST(d AS BIGINT))
          |          ELSE s END), 1) END)), 1)""".stripMargin))
      .withColumn("matched_id", col("__best.id"))
      .withColumn("matched_name", col("__best.nm"))
      .withColumn("dist", col("__best.d"))
      .drop("__cat", "__best")
  }

  /** [[erEnrich]]'s surfaced batch twin (oracle query): the planted
    * mentions matched against the whole literal catalog — the exact
    * relation the streaming enrichment emits, so the stream parity
    * spec and the DuckDB oracle pin the same rows.
    */
  def matchFull(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cat = catalog(spark, dir).select($"ent_id", $"ent_name")
      .orderBy($"ent_id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    // r16 (guide §2.5/§1.2, the r5 pii lesson generalized): range-sort
    // the NARROW mention rows BEFORE the catalog fold. With the fold
    // below the final orderBy, the range exchange's sampling pass
    // re-executed the whole banded-levenshtein projection (there is no
    // materialized stage boundary beneath it) and the fold itself ran
    // at the scan's width — one task for a 176 KB parquet file. Sorted
    // first, the fold is an order-preserving map above a session-width
    // range layout, runs ONCE, and the trailing orderBy is satisfied
    // without a new exchange or sort.
    val m = mentions(spark, dir)
      .repartitionByRange(spark.sessionState.conf.numShufflePartitions,
        $"mention_id")
      .sortWithinPartitions($"mention_id")
    erEnrich(m, cat)
      .select($"mention_id", $"mention", $"matched_id", $"dist",
        ($"matched_name" === $"true_name").as("correct"))
      .orderBy($"mention_id")
  }

  /** Same-entity distance bar and propagation-hop bound for
    * [[clusterMentions]] (mirrored in the oracle's depth-bounded
    * walk).
    */
  val ErClusterMaxDist = 3L
  val ErClusterHops = 6

  /** CATALOG-FREE mention clustering — the OTHER ER mode: with no
    * master catalog to match against, duplicate records are resolved
    * by clustering mentions among THEMSELVES (merging duplicate
    * customer/product records is this verb). Recipe: the same
    * multi-key blocking bounds candidate pairs, a pair becomes a
    * same-entity edge iff its case-folded Levenshtein distance is ≤
    * [[ErClusterMaxDist]], and connected components come from
    * [[Dedup.clustersOver]]'s min-label propagation core UNCHANGED —
    * the audited iteration schema that already serves minhash dedup,
    * embedding dedup, and span families (the point of keeping that
    * core graph-generic). Output is the label table (mention,
    * cluster, keeper flag).
    *
    * The report faithfully shows the mode's failure surfaces: word-
    * REVERSED mentions land far in edit distance and split off their
    * entity's cluster (naive distance clustering misses
    * transpositions), and short names of different entities within
    * the bar merge across entities (the classic threshold tradeoff)
    * — both deterministic, both replayed exactly by the oracle.
    */
  def clusterMentions(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val m = mentions(spark, dir)
    val kb = blockedPostings(spark, m)
    // score BEFORE deduplicating: levenshtein is a map-side projection
    // over the joined stream (a pair sharing k keys is scored k times,
    // bounded by keys-per-name), so the distinct shuffle then hauls
    // only the surviving bare (src, dst) pairs — not every candidate
    // pair with both mention strings attached, which was the heaviest
    // exchange in this operator. Two equivalent-predicate prunes keep
    // the DP cost bounded: the length-difference guard (the classic
    // levenshtein lower bound |len a − len b| ≤ distance — an integer
    // compare) and the THRESHOLD levenshtein variant, whose banded
    // O(len·k) algorithm returns −1 the moment the bar is exceeded
    // instead of filling the O(len²) table (measured ~25% off the
    // dominant scan at sf0.1; same survivors, oracle untouched).
    // The length guard measures the SAME lower()ed strings the
    // distance compares — lowercasing can change code-point length
    // (İ → i + combining dot), so a raw-length guard would not be a
    // valid lower bound for the lowered distance
    val edges = kb.as("a")
      .join(kb.as("b"), col("a.key") === col("b.key") &&
        col("a.mention_id") < col("b.mention_id"))
      .filter(abs(col("a.llen") - col("b.llen")) <= ErClusterMaxDist)
      .filter(levenshtein(col("a.lmention"), col("b.lmention"),
        ErClusterMaxDist.toInt) >= 0)
      .select(col("a.mention_id").as("src"), col("b.mention_id").as("dst"))
      .distinct()
    Dedup.clustersOver(m.select($"mention_id".as("doc_id")), edges, ErClusterHops)
      .select($"doc_id".as("mention_id"), $"cluster_id", $"is_keeper")
      .orderBy($"mention_id")
  }

  /** The cap-kept blocking postings feeding [[clusterMentions]]'s
    * self-join, materialized once for both sides. The lowered mention
    * and ITS length are precomputed per posting row (and stored by
    * the checkpoint), so the pair filters are a stored-column integer
    * compare and a banded DP — never per-pair lowercasing over the
    * much larger pair stream.
    */
  private[graft] def blockedPostings(spark: SparkSession, m: DataFrame): DataFrame = {
    import spark.implicits._
    val kept = keysOf(m, "mention").groupBy($"key")
      .agg(count(lit(1)).as("n")).filter($"n" <= ErMaxBlock).select($"key")
    keysOf(m, "mention")
      .select($"key", $"mention_id", lower($"mention").as("lmention"))
      .withColumn("llen", length($"lmention"))
      .join(kept, Seq("key"))
      // spread the postings across the full task width before the
      // checkpoint: the pair join probes THIS relation (broadcast or
      // sort-merge, the probe side's partition count bounds the DP
      // parallelism), and a fixture-sized posting relation otherwise
      // inherits the scan's 1-2 partitions — r11 measured the scoring
      // join at 4/32 cores because of exactly that. One cheap shuffle
      // of the postings buys full-width pair generation at any scale.
      .repartition(spark.sessionState.conf.numShufflePartitions)
      .localCheckpoint()
  }

  /** Stage-mass audit for the er_cluster cost floor (`graft.ErFloor`):
    * how many candidate rows the key self-join emits, how many
    * distinct blocked pairs that is, how many survive the length
    * lower bound (= pairs the banded DP actually scores), and how
    * many become edges. The numbers that decide whether the
    * operator's time is irreducible DP mass or join fan-out worth
    * pruning away.
    */
  private[graft] def clusterStages(spark: SparkSession, dir: String): Seq[(String, Long)] = {
    val kb = blockedPostings(spark, mentions(spark, dir))
    val joined = kb.as("a")
      .join(kb.as("b"), col("a.key") === col("b.key") &&
        col("a.mention_id") < col("b.mention_id"))
      .localCheckpoint()
    val guarded = joined
      .filter(abs(col("a.llen") - col("b.llen")) <= ErClusterMaxDist)
      .localCheckpoint()
    Seq(
      "postings" -> kb.count(),
      "joined_rows" -> joined.count(),
      "blocked_pairs" -> joined
        .select(col("a.mention_id"), col("b.mention_id")).distinct().count(),
      "guard_survivor_rows" -> guarded.count(),
      "dp_scored_pairs" -> guarded
        .select(col("a.mention_id"), col("b.mention_id")).distinct().count(),
      "edges" -> guarded
        .filter(levenshtein(col("a.lmention"), col("b.lmention"),
          ErClusterMaxDist.toInt) >= 0)
        .select(col("a.mention_id").as("src"), col("b.mention_id").as("dst"))
        .distinct().count())
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "er_cluster" -> clusterMentions _,
    "er_block_profile" -> blockProfile _,
    "er_match" -> matchMentions _,
    "er_match_full" -> matchFull _,
    "er_match_quality" -> matchQuality _,
    "er_match_catalog_delta" -> matchCatalogDelta _,
    "er_match_catalog_tombstone" -> matchCatalogTombstone _)

  /** Shared oracle CTE prefix: catalog, planted mentions, postings. */
  private val erCte: String =
    s"""ecat AS (SELECT p_name AS ent_name, CAST(min(p_partkey) AS BIGINT) AS ent_id
      |          FROM part GROUP BY 1),
      |emen AS (SELECT CAST(p_partkey AS BIGINT) AS mention_id, p_name AS true_name,
      |           CASE WHEN p_partkey % 3 = 0 THEN substr(p_name, 1, len(p_name) - 1)
      |                WHEN p_partkey % 3 = 1 THEN upper(p_name)
      |                ELSE array_to_string(list_reverse(string_split(p_name, ' ')), ' ')
      |           END AS mention
      |         FROM part),
      |eck AS (SELECT ent_id, ent_name, unnest(list_distinct(string_split(lower(ent_name), ' '))) AS key
      |        FROM ecat),
      |emk AS (SELECT mention_id, unnest(list_distinct(string_split(lower(mention), ' '))) AS key
      |        FROM emen)""".stripMargin

  val oracle: Map[String, String] = Map(
    "er_cluster" ->
      s"""WITH RECURSIVE $erCte,
        |ekept AS (SELECT key FROM emk GROUP BY key HAVING count(*) <= $ErMaxBlock),
        |ekb AS (SELECT k.key, k.mention_id, m.mention
        |        FROM emk k JOIN ekept USING (key) JOIN emen m USING (mention_id)),
        |epr AS (SELECT DISTINCT a.mention_id AS src, b.mention_id AS dst,
        |          a.mention AS ma, b.mention AS mb
        |        FROM ekb a JOIN ekb b
        |          ON b.key = a.key AND a.mention_id < b.mention_id),
        |ee0 AS (SELECT src, dst FROM epr
        |        WHERE levenshtein(lower(ma), lower(mb)) <= $ErClusterMaxDist),
        |ee AS (SELECT src, dst FROM ee0 UNION ALL SELECT dst, src FROM ee0),
        |ewalk(id, label, depth) AS (
        |  SELECT mention_id, mention_id, 0 FROM emen
        |  UNION
        |  SELECT e.dst, w.label, w.depth + 1
        |  FROM ewalk w JOIN ee e ON e.src = w.id WHERE w.depth < $ErClusterHops),
        |elab AS (SELECT id AS mention_id, min(label) AS cluster_id
        |         FROM ewalk GROUP BY 1)
        |SELECT mention_id, cluster_id, mention_id = cluster_id AS is_keeper
        |FROM elab ORDER BY mention_id""".stripMargin,
    "er_block_profile" ->
      s"""WITH $erCte,
        |ec AS (SELECT key, CAST(count(*) AS BIGINT) AS n_entities FROM eck GROUP BY 1),
        |em AS (SELECT key, CAST(count(*) AS BIGINT) AS n_mentions FROM emk GROUP BY 1)
        |SELECT COALESCE(ec.key, em.key) AS key,
        |       COALESCE(n_entities, 0) AS n_entities,
        |       COALESCE(n_mentions, 0) AS n_mentions,
        |       COALESCE(n_entities, 0) * COALESCE(n_mentions, 0) AS n_pairs,
        |       COALESCE(n_entities, 0) <= $ErMaxBlock AS kept
        |FROM ec FULL JOIN em ON em.key = ec.key
        |ORDER BY key""".stripMargin,
    "er_match" ->
      s"""WITH $erCte,
        |ekept AS (SELECT key FROM eck GROUP BY key HAVING count(*) <= $ErMaxBlock),
        |ecand AS (SELECT DISTINCT k.mention_id, c.ent_id, c.ent_name
        |          FROM emk k JOIN ekept USING (key) JOIN eck c USING (key)),
        |escored AS (SELECT c.mention_id, c.ent_id, c.ent_name,
        |              CAST(levenshtein(lower(m.mention), lower(c.ent_name)) AS BIGINT) AS dist
        |            FROM ecand c JOIN emen m USING (mention_id)),
        |eel AS (SELECT * FROM (SELECT *, row_number() OVER
        |               (PARTITION BY mention_id ORDER BY dist, ent_id) AS rn
        |             FROM escored) WHERE rn = 1)
        |SELECT m.mention_id, m.mention, e.ent_id AS matched_id, e.dist,
        |       COALESCE(e.ent_name = m.true_name, false) AS correct
        |FROM emen m LEFT JOIN eel e USING (mention_id)
        |ORDER BY mention_id""".stripMargin,
    "er_match_full" ->
      s"""WITH $erCte,
        |efs AS (SELECT m.mention_id, m.mention, m.true_name, c.ent_id, c.ent_name,
        |          CAST(levenshtein(lower(m.mention), lower(c.ent_name)) AS BIGINT) AS dist
        |        FROM emen m CROSS JOIN ecat c),
        |efe AS (SELECT * FROM (SELECT *, row_number() OVER
        |            (PARTITION BY mention_id ORDER BY dist, ent_id) AS rn FROM efs)
        |        WHERE rn = 1)
        |SELECT mention_id, mention, ent_id AS matched_id, dist,
        |       ent_name = true_name AS correct
        |FROM efe ORDER BY mention_id""".stripMargin,
    "er_match_catalog_delta" ->
      s"""WITH $erCte,
        |edel AS (SELECT ent_id,
        |           'rebrand ' || array_to_string(list_slice(string_split(ent_name, ' '), 2, 100000), ' ') AS ent_name
        |         FROM ecat WHERE ent_id % 7 = 3
        |         UNION ALL
        |         SELECT ent_id + 9000000, 'novel ' || ent_name
        |         FROM ecat WHERE ent_id % 13 = 4),
        |enew AS (SELECT ent_name, ent_id FROM ecat
        |         WHERE ent_id NOT IN (SELECT ent_id FROM edel)
        |         UNION ALL SELECT ent_name, ent_id FROM edel),
        |eak AS (SELECT DISTINCT key FROM (
        |          SELECT unnest(list_distinct(string_split(lower(c.ent_name), ' '))) AS key
        |          FROM ecat c JOIN edel d USING (ent_id)
        |          UNION ALL
        |          SELECT unnest(list_distinct(string_split(lower(ent_name), ' '))) AS key
        |          FROM edel)),
        |eaff AS (SELECT DISTINCT mention_id FROM emk JOIN eak USING (key)),
        |enck AS (SELECT ent_id, ent_name,
        |           unnest(list_distinct(string_split(lower(ent_name), ' '))) AS key
        |         FROM enew),
        |enkept AS (SELECT key FROM enck GROUP BY key HAVING count(*) <= $ErMaxBlock),
        |encand AS (SELECT DISTINCT k.mention_id, c.ent_id, c.ent_name
        |           FROM emk k JOIN eaff USING (mention_id)
        |             JOIN enkept USING (key) JOIN enck c USING (key)),
        |enscored AS (SELECT c.mention_id, c.ent_id, c.ent_name,
        |               CAST(levenshtein(lower(m.mention), lower(c.ent_name)) AS BIGINT) AS dist
        |             FROM encand c JOIN emen m USING (mention_id)),
        |enel AS (SELECT * FROM (SELECT *, row_number() OVER
        |              (PARTITION BY mention_id ORDER BY dist, ent_id) AS rn
        |            FROM enscored) WHERE rn = 1)
        |SELECT m.mention_id, m.mention, e.ent_id AS matched_id, e.dist,
        |       COALESCE(e.ent_name = m.true_name, false) AS correct,
        |       (SELECT count(*) FROM eaff) * 1000000 // (SELECT count(*) FROM emen) AS affected_ppm
        |FROM emen m JOIN eaff USING (mention_id) LEFT JOIN enel e USING (mention_id)
        |ORDER BY mention_id""".stripMargin,
    "er_match_catalog_tombstone" ->
      s"""WITH $erCte,
        |ekept AS (SELECT key FROM eck GROUP BY key HAVING count(*) <= $ErMaxBlock),
        |ecand AS (SELECT DISTINCT k.mention_id, c.ent_id, c.ent_name
        |          FROM emk k JOIN ekept USING (key) JOIN eck c USING (key)),
        |escored AS (SELECT c.mention_id, c.ent_id, c.ent_name,
        |              CAST(levenshtein(lower(m.mention), lower(c.ent_name)) AS BIGINT) AS dist
        |            FROM ecand c JOIN emen m USING (mention_id)),
        |eel AS (SELECT * FROM (SELECT *, row_number() OVER
        |               (PARTITION BY mention_id ORDER BY dist, ent_id) AS rn
        |             FROM escored) WHERE rn = 1),
        |etdel AS (SELECT ent_id, CAST(NULL AS VARCHAR) AS ent_name, true AS deleted
        |          FROM ecat WHERE ent_id % 11 = 6
        |          UNION ALL
        |          SELECT ent_id,
        |            'retag ' || array_to_string(list_slice(string_split(ent_name, ' '), 2, 100000), ' '),
        |            false
        |          FROM ecat WHERE ent_id % 9 = 2 AND ent_id % 11 <> 6),
        |etnew AS (SELECT ent_name, ent_id FROM ecat
        |          WHERE ent_id NOT IN (SELECT ent_id FROM etdel)
        |          UNION ALL SELECT ent_name, ent_id FROM etdel WHERE NOT deleted),
        |etak AS (SELECT DISTINCT key FROM (
        |           SELECT unnest(list_distinct(string_split(lower(c.ent_name), ' '))) AS key
        |           FROM ecat c JOIN etdel d USING (ent_id)
        |           UNION ALL
        |           SELECT unnest(list_distinct(string_split(lower(ent_name), ' '))) AS key
        |           FROM etdel WHERE NOT deleted)),
        |etaff AS (SELECT DISTINCT mention_id FROM (
        |            SELECT mention_id FROM emk JOIN etak USING (key)
        |            UNION ALL
        |            SELECT e.mention_id FROM eel e
        |              JOIN etdel d ON e.ent_id = d.ent_id)),
        |etck AS (SELECT ent_id, ent_name,
        |           unnest(list_distinct(string_split(lower(ent_name), ' '))) AS key
        |         FROM etnew),
        |etkept AS (SELECT key FROM etck GROUP BY key HAVING count(*) <= $ErMaxBlock),
        |etcand AS (SELECT DISTINCT k.mention_id, c.ent_id, c.ent_name
        |           FROM emk k JOIN etaff USING (mention_id)
        |             JOIN etkept USING (key) JOIN etck c USING (key)),
        |etscored AS (SELECT c.mention_id, c.ent_id, c.ent_name,
        |               CAST(levenshtein(lower(m.mention), lower(c.ent_name)) AS BIGINT) AS dist
        |             FROM etcand c JOIN emen m USING (mention_id)),
        |etel AS (SELECT * FROM (SELECT *, row_number() OVER
        |              (PARTITION BY mention_id ORDER BY dist, ent_id) AS rn
        |            FROM etscored) WHERE rn = 1)
        |SELECT m.mention_id, m.mention, e.ent_id AS matched_id, e.dist,
        |       COALESCE(e.ent_name = m.true_name, false) AS correct,
        |       (SELECT count(*) FROM etaff) * 1000000 // (SELECT count(*) FROM emen) AS affected_ppm
        |FROM emen m JOIN etaff USING (mention_id) LEFT JOIN etel e USING (mention_id)
        |ORDER BY mention_id""".stripMargin,
    "er_match_quality" ->
      s"""WITH $erCte,
        |ekept AS (SELECT key FROM eck GROUP BY key HAVING count(*) <= $ErMaxBlock),
        |ecand AS (SELECT DISTINCT k.mention_id, c.ent_id, c.ent_name
        |          FROM emk k JOIN ekept USING (key) JOIN eck c USING (key)),
        |escored AS (SELECT c.mention_id, c.ent_id, c.ent_name,
        |              CAST(levenshtein(lower(m.mention), lower(c.ent_name)) AS BIGINT) AS dist
        |            FROM ecand c JOIN emen m USING (mention_id)),
        |eel AS (SELECT * FROM (SELECT *, row_number() OVER
        |               (PARTITION BY mention_id ORDER BY dist, ent_id) AS rn
        |             FROM escored) WHERE rn = 1),
        |ematch AS (SELECT m.mention_id, e.ent_id AS matched_id, e.dist,
        |             COALESCE(e.ent_name = m.true_name, false) AS correct
        |           FROM emen m LEFT JOIN eel e USING (mention_id))
        |SELECT CASE WHEN mention_id % 3 = 0 THEN 'drop_char'
        |            WHEN mention_id % 3 = 1 THEN 'uppercase'
        |            ELSE 'word_reverse' END AS noise_class,
        |       CAST(count(*) AS BIGINT) AS n_mentions,
        |       CAST(sum(CASE WHEN correct THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
        |       CAST(sum(COALESCE(dist, 0)) AS BIGINT) AS total_dist,
        |       CAST(sum(CASE WHEN matched_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unmatched,
        |       CAST((sum(CASE WHEN correct THEN 1 ELSE 0 END) * 1000000) // count(*) AS BIGINT) AS acc_ppm
        |FROM ematch GROUP BY 1 ORDER BY noise_class""".stripMargin)
}
