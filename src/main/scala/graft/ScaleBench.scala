package graft

import org.apache.spark.sql.SparkSession

/** SCALING-EXPONENT study: run the most expensive queries (and the
  * session-layout derivations they are served from) at the base
  * fixture AND at an [[Amplify]]-amplified copy, and report the
  * time ratio next to the data ratio. A claimed-linear query whose
  * time ratio tracks the data ratio scales; one whose ratio runs away
  * is named here long before a cluster bill names it. Methodology
  * mirrors [[Bench]]: noop-sink writes, untimed priming run (layouts
  * and ANN models derive there — the ingest-time cost model, with the
  * derivations ALSO timed as explicit entries), median of 3 timed
  * runs, clearCache + GC between queries.
  */
object ScaleBench {

  /** The study set: the 12 most expensive surfaced queries (r10
    * verdict) spanning every heavy family — ER, ANN (brute + IVF+PQ +
    * eval + MMR), regex projection, dedup pair cores, graph — plus
    * the embedding-cluster query whose DEEP min-label loop only the
    * amplified fixture exercises (it OOM'd the driver at 10× before
    * the loop froze its label frame per hop; keeping it in the study
    * guards the flat-plan loop against regression).
    */
  val StudyQueries: Seq[String] = Seq(
    "er_cluster", "er_match_full",
    "ann_cosine_topk", "ann_ivfpq_topk", "ann_recall_quantized", "ann_mmr_topk",
    "text_pii",
    "dedup_lsh_recall", "dedup_ngram_jaccard", "dedup_embedding_clusters",
    "graph_triangles", "graph_components", "graph_pagerank")

  /** The derive-once layouts, timed EXPLICITLY (they otherwise hide in
    * the untimed priming run): each entry derives + range-writes to a
    * fresh temp dir per run, so no session cache serves it.
    */
  def derivations(spark: SparkSession, dir: String): Seq[(String, () => Unit)] = Seq(
    "derive_span_layout" -> (() => {
      val tmp = java.nio.file.Files.createTempDirectory("graft-scale-span").toString
      graft.engine.Layouts.rangeWrite(
        graft.engine.Layouts.spanPairsWithStats(spark, dir), s"$tmp/l", "doc_a", 8)
    }),
    "derive_shingle_pairs" -> (() => {
      val tmp = java.nio.file.Files.createTempDirectory("graft-scale-shingle").toString
      graft.engine.Layouts.rangeWrite(
        graft.operators.Dedup.shinglePairCounts(
          graft.engine.Tables.load(spark, dir, "documents")), s"$tmp/l", "doc_a", 8)
    }),
    "derive_lsh_pairs" -> (() => {
      val tmp = java.nio.file.Files.createTempDirectory("graft-scale-lsh").toString
      graft.engine.Layouts.rangeWrite(
        graft.operators.Dedup.minhashLshDerive(spark, dir), s"$tmp/l", "doc_a", 8)
    }),
    // the LIVE span-graph min-label loop (r14: the surfaced
    // graph_components serves the derive-once label layout, so the
    // loop's scale behavior is measured here, fresh per run, like the
    // other ingest-time derivations)
    "components_loop" -> (() =>
      graft.operators.Graph.componentsLoop(spark, dir)
        .write.format("noop").mode("overwrite").save()))

  /** The PRODUCTION er_match contract measured directly: mentions from
    * the dir under study, catalog FIXED from the base fixture. The
    * surfaced `er_match_full` grows BOTH sides under amplification
    * (mentions and catalog derive from the same table), so its study
    * ratio reads ×(copies²) designed work — this seam isolates the
    * deployment shape (a bounded entity catalog, a growing mention
    * stream) where the scorer is a linear map-side projection.
    */
  def fixedCatalogEntry(spark: SparkSession, base: String): (String, String => () => Unit) = {
    lazy val cat = {
      import org.apache.spark.sql.functions.col
      graft.operators.EntityResolution.catalog(spark, base)
        .select(col("ent_id"), col("ent_name")).orderBy(col("ent_id"))
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    }
    "er_match_fixed_catalog" -> ((dir: String) => () =>
      graft.operators.EntityResolution.erEnrich(
          graft.operators.EntityResolution.mentions(spark, dir), cat)
        .write.format("noop").mode("overwrite").save())
  }

  /** The PRODUCTION incremental-labels contract measured directly: the
    * label STORE from the dir under study (10×/100× corpus), the daily
    * batch FIXED from the base fixture — the er_match_fixed_catalog
    * twin for label maintenance. The surfaced
    * `graph_components_incremental` grows BOTH sides under
    * amplification (its batch is a split of the amplified span graph);
    * this seam isolates the deployment shape — a bounded daily batch
    * against a growing corpus — where the contracted loop is
    * batch-scaled and the only corpus-scaled term is the store's
    * columnar probe scan (prunable when the store is clustered).
    * Measures [[graft.operators.Dedup.clustersIncrementalDelta]]: the
    * merge-write face whose OUTPUT is batch-scaled too.
    */
  def fixedBatchLabelEntry(spark: SparkSession, base: String): (String, String => () => Unit) = {
    import org.apache.spark.sql.functions.col
    lazy val batch = {
      val g = graft.operators.Graph
      graft.engine.Layouts.spanPairsWithStats(spark, base)
        .filter((col("doc_a") + col("doc_b")) % g.IncrementalBatchMod === 0)
        .select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .localCheckpoint()
    }
    "components_incremental_fixed_batch" -> ((dir: String) => () =>
      graft.operators.Dedup.clustersIncrementalDelta(
          graft.operators.Graph.baseLabelStoreLayout(spark, dir)
            .select(col("doc_id"), col("cluster_id")),
          batch)
        .write.format("noop").mode("overwrite").save())
  }

  /** The streaming-cascade maintainer's per-batch cost under the
    * production shape — a FIXED daily doc batch (from the base
    * fixture, ids shifted clear of every amplified/planted window)
    * against stores grown with the corpus: fingerprint + keeper-delta
    * work (batch-scaled), the band-store probe
    * ([[graft.operators.Dedup.lshProbeEdges]] — the ONE corpus-scaled
    * term, a shuffle-free map-side columnar scan), and the contracted
    * label delta ([[graft.operators.Dedup.clustersIncrementalDelta]],
    * batch-scaled). Store layouts derive once per study dir on the
    * untimed priming run (the nightly-artifact convention); the timed
    * thunk is exactly what `maintainCascadeStores` pays per
    * micro-batch, with noop writes standing in for the delta parquet
    * appends (the Bench convention).
    */
  def cascadeMaintenanceFixedBatchEntry(spark: SparkSession,
      base: String): (String, String => () => Unit) = {
    import org.apache.spark.sql.functions.{col, min}
    val d = graft.operators.Dedup
    lazy val batch = graft.engine.Tables.load(spark, base, "documents")
      .filter(col("doc_id") % 40 === 0)
      .select((col("doc_id") + 9000000000L).as("doc_id"), col("text"))
      .localCheckpoint()
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    "cascade_maintenance_fixed_batch" -> ((dir: String) => () => {
      val fps = d.fingerprintsOf(batch)
        .select(col("doc_id"), col("fp"), col("nfp")).localCheckpoint()
      noop(fps)
      noop(fps.groupBy(col("fp")).agg(min(col("doc_id")).as("keeper")))
      noop(fps.groupBy(col("nfp")).agg(min(col("doc_id")).as("keeper")))
      val bands = d.bandSigRows(d.signaturesOf(batch)).localCheckpoint()
      noop(bands)
      val store = graft.engine.Layouts.layoutOnce(
        spark, "band-store", dir, "band_key")(
        d.bandSigRows(d.signatures(spark, dir)))
      // the maintainer probes AFTER writing the batch's band delta —
      // the union is that just-written delta, so batch↔store and
      // batch-internal pairs both fall out of the one probe join
      val edges = d.lshProbeEdges(store.unionByName(bands), bands)
      noop(d.clustersIncrementalDelta(
        d.clusterLabelsLayout(spark, dir).select(col("doc_id"), col("cluster_id")),
        edges))
    })
  }

  /** The catalog-delta re-verdict's per-apply cost under the
    * production shape — a FIXED catalog delta (planted from the base
    * fixture) against a catalog and mention corpus grown with the dir
    * under study: exactly what
    * [[graft.streaming.EventStreams.applyCatalogDelta]] pays per
    * upsert, noop-written. Cost anatomy: the affected-key set is
    * delta-sized and broadcasts into a map-side scan of the mention
    * postings (the one corpus-scaled term), then the re-score is
    * blocked work over the affected subset. Caveat recorded with the
    * ledger line: this fixture's color-word vocabulary is tiny, so
    * the fixed delta's keys cover most of it and the affected subset
    * approaches the whole corpus — the measured ratio bounds the
    * DEGENERATE case; a production token space makes the re-score
    * delta-scaled.
    */
  def catalogDeltaFixedEntry(spark: SparkSession,
      base: String): (String, String => () => Unit) = {
    val er = graft.operators.EntityResolution
    lazy val delta = er.catalogDeltaOf(spark, base).localCheckpoint()
    "er_catalog_delta_fixed_batch" -> ((dir: String) => () =>
      er.reverdicts(er.mentions(spark, dir), er.catalog(spark, dir), delta)
        .write.format("noop").mode("overwrite").save())
  }

  /** [[cascadeMaintenanceFixedBatchEntry]]'s embedding twin: a fixed
    * vector batch (base embeddings, ids shifted clear of the amplified
    * windows) against a grown vector store + label store. Same cost
    * anatomy — batch-scaled bucketing, one map-side store probe
    * ([[graft.operators.Dedup.embProbeEdges]]), batch-scaled label
    * delta.
    */
  def embMaintenanceFixedBatchEntry(spark: SparkSession,
      base: String): (String, String => () => Unit) = {
    import org.apache.spark.sql.functions.col
    val d = graft.operators.Dedup
    lazy val batch = graft.engine.Tables.load(spark, base, "embeddings")
      .filter(col("vec_id") % 40 === 0)
      .select((col("vec_id") + 9000000000L).as("vec_id"), col("embedding"))
      .localCheckpoint()
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    "emb_maintenance_fixed_batch" -> ((dir: String) => () => {
      val vecs = graft.operators.Similarity
        .embWithBucketOf(batch, d.EmbeddingLshBits).localCheckpoint()
      noop(vecs)
      val store = graft.engine.Layouts.layoutOnce(
        spark, "emb-vec-store", dir, "bucket")(
        graft.operators.Similarity.embWithBucketOf(
          graft.engine.Tables.load(spark, dir, "embeddings"),
          d.EmbeddingLshBits))
      val edges = d.embProbeEdges(store.unionByName(vecs), vecs)
      noop(d.clustersIncrementalDelta(
        d.embeddingClusterLabelsLayout(spark, dir)
          .select(col("vec_id").as("doc_id"), col("cluster_id")),
        edges))
    })
  }

  private def fmt(v: Double): String =
    BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString

  def main(args: Array[String]): Unit = {
    val base = sys.env.getOrElse("SPARK_GRAFT_SCALE_BASE", "/root/testdata/sf0.1")
    val out = sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT", "/root/repo/target/scale10x")
    val copies = sys.env.getOrElse("SPARK_GRAFT_SCALE_COPIES", "10").toInt
    val only = sys.env.get("SPARK_GRAFT_SCALE_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val spark = graft.engine.Tables.session()
    spark.conf.set(graft.plans.ScaleGuard.FailOnGlobalWindow, "true")
    spark.sparkContext.setLogLevel("WARN")

    if (!java.nio.file.Files.isDirectory(java.nio.file.Paths.get(out))) {
      System.err.println(s"[scale] amplifying $base x$copies -> $out")
      Amplify.amplify(spark, base, out, copies)
    }

    val timedRuns = 3
    def median(thunk: () => Unit): Double = {
      spark.catalog.clearCache()
      // NO dropOrphanRdds here (unlike Bench/Verify, whose queries are
      // self-contained): the fixed-batch entries hold their FIXED
      // side as a lazy localCheckpoint shared across entries and both
      // fixture dirs — unpersisting it between medians destroys
      // truncated-lineage blocks and every later use dies with
      // CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND (measured r14). The study
      // surface is ~20 entries; leak pressure is not the hazard here.
      System.gc()
      thunk() // untimed priming (JIT, layouts, models)
      val ts = (1 to timedRuns).map { _ =>
        val t0 = System.nanoTime(); thunk(); (System.nanoTime() - t0) / 1e9
      }
      ts.sorted.apply(timedRuns / 2)
    }
    def queryThunk(name: String, dir: String): () => Unit =
      () => SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()

    // SCALE_ONLY selects from the WHOLE surfaced inventory, not just
    // the study set — any SparkEntry query can be spot-checked at the
    // amplified scale without editing StudyQueries
    val names = only match {
      case Some(o) => SparkEntry.queries.keys.toSeq.sorted.filter(o.contains)
      case None => StudyQueries
    }
    val entries: Seq[(String, String => () => Unit)] =
      (names.map(n => n -> ((dir: String) => queryThunk(n, dir))) ++
        derivations(spark, base).map(_._1)
          .filter(n => only.forall(_.contains(n)))
          .map(n => n -> ((dir: String) =>
            derivations(spark, dir).find(_._1 == n).get._2)) :+
        fixedCatalogEntry(spark, base) :+ fixedBatchLabelEntry(spark, base) :+
        cascadeMaintenanceFixedBatchEntry(spark, base) :+
        embMaintenanceFixedBatchEntry(spark, base) :+
        catalogDeltaFixedEntry(spark, base))
        .filter { case (n, _) => only.forall(_.contains(n)) }
    // a SCALE_ONLY name matching nothing (a typo) must FAIL the run,
    // not let the sweep report success having measured nothing
    only.foreach { o =>
      val unmatched = o -- entries.map(_._1).toSet
      require(unmatched.isEmpty,
        s"SPARK_GRAFT_SCALE_ONLY names match no query/derivation/" +
          s"fixed-catalog entry: ${unmatched.toSeq.sorted.mkString(", ")}")
    }

    val rows = entries.map { case (name, mk) =>
      val tSmall = median(mk(base))
      val tBig = median(mk(out))
      System.err.println(f"[scale] $name%-22s ${fmt(tSmall)}%8s -> ${fmt(tBig)}%8s  x${fmt(tBig / tSmall)}")
      (name, tSmall, tBig)
    }
    val qs = rows.map { case (n, s, b) =>
      s""""$n":{"small":${fmt(s)},"big":${fmt(b)},"ratio":${fmt(b / s)}}"""
    }.mkString("{", ",", "}")
    // canonical absolute paths in the ledger (r14 verdict #6): earlier
    // rounds appended whatever SPARK_GRAFT_SCALE_OUT held — sometimes
    // relative — and strict tooling diffing on the field treated the
    // same fixture as two
    def canon(p: String): String =
      java.nio.file.Paths.get(p).toAbsolutePath.normalize.toString
    val line = s"""{"metric":"scale_study","data_ratio":$copies,"base":"${canon(base)}","amplified":"${canon(out)}","queries":$qs}"""
    println(line)
    try {
      val benchDir = java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_DIR", "/root/repo/bench"))
      java.nio.file.Files.createDirectories(benchDir)
      java.nio.file.Files.writeString(benchDir.resolve("scale_lines.jsonl"),
        line + "\n", java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[scale] could not persist line: ${e.getMessage}")
    }
    spark.stop()
  }
}
