package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Corpus, TextAnalysis}

/** The end-to-end training-data pipeline as one composition — the
  * user story the operator library exists for. Stages, in the order a
  * production corpus build runs them:
  *
  *  1. quality filter (`TextAnalysis.filterDocs` verdicts)
  *  2. exact-dup removal (keeper election, `Dedup.dedupApply` logic)
  *  3. decontamination (`Corpus.clean` — benchmark-colliding docs out)
  *  4. stratified language rebalance (`Corpus.stratified`)
  *  5. split assignment + token-budget batch packing — computed over
  *     the SURVIVOR set, so batch ids count only documents that ship
  *     (packing the full corpus would systematically under-fill
  *     batches with tokens of dropped documents)
  *
  * Every stage is content-hash-deterministic, so the whole pipeline is
  * rerun-stable and resumable. Stage frames are cached: the funnel
  * counts and the final write each materialise a stage once instead of
  * re-executing every upstream stage per action (the quality filter's
  * bigram explode is the expensive one).
  *
  * Decontamination and stratification stay defined over the FULL
  * corpus (their keep-sets are corpus-global statistics — the
  * benchmark fingerprint set and per-language counts don't shrink
  * because an upstream stage dropped a doc); the survivors are
  * semi-joined against those keep-sets.
  */
object Pipeline {

  final case class StageCounts(stage: String, docs: Long)

  /** Stage survivor frames in funnel order, each cached. `input` is
    * the raw documents table; every later frame keeps the full
    * document row so downstream stages (and the final packing) never
    * re-join the source table.
    */
  def stages(spark: SparkSession, dir: String): Seq[(String, DataFrame)] = {
    import spark.implicits._
    val docs = graft.engine.Tables.load(spark, dir, "documents").cache()

    // 1. quality verdicts
    val kept1 = TextAnalysis.filterDocs(spark, dir)
      .filter($"keep").select($"doc_id")
    val s1 = docs.join(kept1, Seq("doc_id"), "left_semi").cache()

    // 2. exact-dup keepers (same election as dedup_apply)
    val keepers = s1.select($"doc_id", md5($"text").as("fp"))
      .groupBy($"fp").agg(min($"doc_id").as("doc_id"))
      .select($"doc_id")
    val s2 = s1.join(keepers, Seq("doc_id"), "left_semi").cache()

    // 3. decontamination (corpus-global benchmark fingerprints)
    val s3 = s2.join(Corpus.clean(spark, dir).select($"doc_id"),
      Seq("doc_id"), "left_semi").cache()

    // 4. stratified rebalance (corpus-global language counts)
    val s4 = s3.join(Corpus.stratified(spark, dir).select($"doc_id"),
      Seq("doc_id"), "left_semi").cache()

    Seq("input" -> docs, "quality_filter" -> s1, "exact_dedup" -> s2,
      "decontaminate" -> s3, "stratify" -> s4)
  }

  /** The packed corpus: split + token-budget batch ids computed over
    * the final survivor frame. Split is a pure content function (same
    * assignment as over the full corpus — no leakage); packing is the
    * two-pass distributed prefix sum (`Corpus.packBatchesOf`), so
    * batches fill with survivor tokens only.
    */
  def packed(survivors: DataFrame): DataFrame = {
    import survivors.sparkSession.implicits._
    val split = Corpus.splitAssignOf(survivors.select($"doc_id", $"text"))
      .select($"doc_id", $"split")
    val batches = Corpus.packBatchesOf(survivors
      .select($"doc_id", $"lang",
        size(org.apache.spark.sql.functions.split($"text", " ")).cast("long").as("n_tokens")))
      .select($"doc_id", $"n_tokens", $"batch")
    survivors.select($"doc_id", $"lang", $"source")
      .join(split, Seq("doc_id"))
      .join(batches, Seq("doc_id"))
      .select($"doc_id", $"lang", $"source", $"split", $"n_tokens", $"batch")
      .orderBy($"doc_id")
  }

  /** Run the pipeline over `dir`'s documents; returns (packed corpus,
    * stage funnel). Each count hits a cached stage frame once.
    */
  def run(spark: SparkSession, dir: String): (DataFrame, Seq[StageCounts]) = {
    val st = stages(spark, dir)
    val funnel = st.map { case (name, df) => StageCounts(name, df.count()) }
    val out = packed(st.last._2)
    (out, funnel :+ StageCounts("packed", out.count()))
  }

  /** The stage funnel as ONE DataFrame — `(stage_id, stage, n_docs)` —
    * so the whole pipeline is oracle-checkable: the DuckDB twin chains
    * the same stage CTEs and unions the same counts.
    */
  def funnel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val st = stages(spark, dir)
    val counts = (st :+ ("packed" -> packed(st.last._2))).zipWithIndex.map {
      case ((name, df), i) =>
        df.agg(count(lit(1)).as("n_docs"))
          .select(lit(i.toLong).as("stage_id"), lit(name).as("stage"), $"n_docs")
    }
    counts.reduce(_ unionAll _).orderBy($"stage_id")
  }

  /** The DAILY-INGEST twin of [[funnel]] — what actually runs once a
    * corpus exists: only the incoming batch (odd doc_ids stand in for
    * "today's crawl") flows through the stages, and exact dedup
    * becomes `Dedup.incremental` against the persisted fingerprint
    * store (even doc_ids) — history is never rescanned. Quality
    * verdicts and the benchmark fingerprint set are per-doc /
    * corpus-global respectively, so batch semi-joins reuse them
    * unchanged. Output is the batch funnel: how much of today's crawl
    * survived each gate.
    */
  def incrementalFunnel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.operators.Dedup
    val d = graft.engine.Tables.load(spark, dir, "documents")
    val batch = d.filter($"doc_id" % 2 === 1).cache()
    val q = TextAnalysis.filterDocs(spark, dir).filter($"keep").select($"doc_id")
    val s1 = batch.join(q, Seq("doc_id"), "left_semi").cache()
    val store = d.filter($"doc_id" % 2 === 0).select(md5($"text").as("fingerprint"))
    val novel = Dedup.incremental(store, s1.select($"doc_id", $"text")).select($"doc_id")
    val s2 = s1.join(novel, Seq("doc_id"), "left_semi").cache()
    val s3 = s2.join(Corpus.clean(spark, dir).select($"doc_id"),
      Seq("doc_id"), "left_semi").cache()
    val st = Seq("batch" -> batch, "quality_filter" -> s1,
      "incremental_dedup" -> s2, "decontaminate" -> s3)
    val counts = st.zipWithIndex.map { case ((name, df), i) =>
      df.agg(count(lit(1)).as("n_docs"))
        .select(lit(i.toLong).as("stage_id"), lit(name).as("stage"), $"n_docs")
    }
    counts.reduce(_ unionAll _).orderBy($"stage_id")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pipeline_funnel" -> funnel _,
    "pipeline_incremental" -> incrementalFunnel _,
    "pipeline_packed" -> ((s: SparkSession, d: String) => packed(stages(s, d).last._2)),
  )

  /** Survivor-set CTE chain shared by both oracles: the same five
    * stages in DuckDB SQL (quality rules, min-doc_id keeper election,
    * head-fingerprint decontam, content-hash stratification).
    */
  /** Quality-signal CTE chain (w → sig) shared by every pipeline
    * oracle.
    */
  private val qualitySigCtes =
    """w AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |base AS (SELECT doc_id, len(t) AS n_words, len(list_distinct(t)) AS n_distinct FROM w),
      |bg AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 1),
      |         i -> t[i] || ' ' || t[i + 1])) AS bigram
      |       FROM w WHERE len(t) >= 2),
      |bc AS (SELECT doc_id, bigram, count(*) AS c FROM bg GROUP BY 1, 2),
      |tops AS (SELECT doc_id, max(c) AS top_c FROM bc GROUP BY 1),
      |sig AS (
      |  SELECT b.doc_id, b.n_words,
      |         (b.n_words - b.n_distinct) * 1.0 / b.n_words AS dup_ratio,
      |         t.top_c * 1.0 / (b.n_words - 1) AS bigram_ratio
      |  FROM base b LEFT JOIN tops t USING (doc_id))""".stripMargin

  private val stageCtes = {
    import TextAnalysis.{MinWords, MaxDupRatio, MaxTopBigramRatio}
    import Corpus.BenchMod
    // 16-bit content-hash bucket, nibble arithmetic (no conv() in DuckDB)
    val hb = "(" + (0 until 4).map(i =>
      s"(strpos('0123456789abcdef', substr(md5(text), ${i + 1}, 1)) - 1) * ${1 << (4 * (3 - i))}")
      .mkString(" + ") + ")"
    s"""WITH $qualitySigCtes,
      |s1 AS (SELECT d.* FROM documents d JOIN sig USING (doc_id)
      |       WHERE sig.n_words >= $MinWords AND sig.dup_ratio < $MaxDupRatio
      |         AND sig.bigram_ratio < $MaxTopBigramRatio),
      |keepers AS (SELECT min(doc_id) AS doc_id FROM
      |              (SELECT doc_id, md5(text) AS fp FROM s1) GROUP BY fp),
      |s2 AS (SELECT * FROM s1 WHERE doc_id IN (SELECT doc_id FROM keepers)),
      |heads AS (SELECT doc_id,
      |            md5(array_to_string((string_split(text, ' '))[1:5], ' ')) AS head_md5
      |          FROM documents),
      |bench AS (SELECT head_md5 FROM heads WHERE doc_id % $BenchMod = 0),
      |cleanset AS (SELECT doc_id FROM heads
      |             WHERE doc_id % $BenchMod <> 0
      |               AND head_md5 NOT IN (SELECT head_md5 FROM bench)),
      |s3 AS (SELECT * FROM s2 WHERE doc_id IN (SELECT doc_id FROM cleanset)),
      |hbd AS (SELECT doc_id, lang, $hb AS hb FROM documents),
      |lc AS (SELECT lang, count(*) AS cnt FROM hbd GROUP BY 1),
      |mn AS (SELECT min(cnt) AS mn FROM lc),
      |strat AS (SELECT doc_id FROM hbd JOIN lc USING (lang) CROSS JOIN mn
      |          WHERE hb * cnt < mn * 65536),
      |s4 AS (SELECT * FROM s3 WHERE doc_id IN (SELECT doc_id FROM strat))""".stripMargin
  }

  val oracle: Map[String, String] = {
    import Corpus.{PackBudget, TrainPct, ValPct}
    val hb4 = "(" + (0 until 4).map(i =>
      s"(strpos('0123456789abcdef', substr(md5(text), ${i + 1}, 1)) - 1) * ${1 << (4 * (3 - i))}")
      .mkString(" + ") + ")"
    Map(
      "pipeline_funnel" ->
        s"""$stageCtes
          |SELECT * FROM (
          |  SELECT CAST(0 AS BIGINT) AS stage_id, 'input' AS stage, count(*) AS n_docs FROM documents
          |  UNION ALL SELECT 1, 'quality_filter', count(*) FROM s1
          |  UNION ALL SELECT 2, 'exact_dedup', count(*) FROM s2
          |  UNION ALL SELECT 3, 'decontaminate', count(*) FROM s3
          |  UNION ALL SELECT 4, 'stratify', count(*) FROM s4
          |  UNION ALL SELECT 5, 'packed', count(*) FROM s4
          |) ORDER BY stage_id""".stripMargin,
      "pipeline_incremental" -> {
        import TextAnalysis.{MinWords, MaxDupRatio, MaxTopBigramRatio}
        import Corpus.BenchMod
        s"""WITH $qualitySigCtes,
          |batch AS (SELECT * FROM documents WHERE doc_id % 2 = 1),
          |s1 AS (SELECT b.* FROM batch b JOIN sig USING (doc_id)
          |       WHERE sig.n_words >= $MinWords AND sig.dup_ratio < $MaxDupRatio
          |         AND sig.bigram_ratio < $MaxTopBigramRatio),
          |store AS (SELECT md5(text) AS fp FROM documents WHERE doc_id % 2 = 0),
          |novel AS (SELECT min(doc_id) AS doc_id FROM
          |            (SELECT doc_id, md5(text) AS fp FROM s1) k
          |          WHERE fp NOT IN (SELECT fp FROM store) GROUP BY fp),
          |s2 AS (SELECT * FROM s1 WHERE doc_id IN (SELECT doc_id FROM novel)),
          |heads AS (SELECT doc_id,
          |            md5(array_to_string((string_split(text, ' '))[1:5], ' ')) AS head_md5
          |          FROM documents),
          |bench AS (SELECT head_md5 FROM heads WHERE doc_id % $BenchMod = 0),
          |cleanset AS (SELECT doc_id FROM heads
          |             WHERE doc_id % $BenchMod <> 0
          |               AND head_md5 NOT IN (SELECT head_md5 FROM bench)),
          |s3 AS (SELECT * FROM s2 WHERE doc_id IN (SELECT doc_id FROM cleanset))
          |SELECT * FROM (
          |  SELECT CAST(0 AS BIGINT) AS stage_id, 'batch' AS stage, count(*) AS n_docs FROM batch
          |  UNION ALL SELECT 1, 'quality_filter', count(*) FROM s1
          |  UNION ALL SELECT 2, 'incremental_dedup', count(*) FROM s2
          |  UNION ALL SELECT 3, 'decontaminate', count(*) FROM s3
          |) ORDER BY stage_id""".stripMargin
      },
      "pipeline_packed" ->
        s"""$stageCtes,
          |toks AS (SELECT doc_id, lang, source, text,
          |           len(string_split(text, ' ')) AS n_tokens FROM s4)
          |SELECT doc_id, lang, source,
          |       CASE WHEN $hb4 % 100 < $TrainPct THEN 'train'
          |            WHEN $hb4 % 100 < $ValPct THEN 'val'
          |            ELSE 'test' END AS split,
          |       n_tokens,
          |       CAST(coalesce(CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
          |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
          |            // $PackBudget AS BIGINT) AS batch
          |FROM toks ORDER BY doc_id""".stripMargin,
    )
  }

  /** CLI: `runMain graft.Pipeline [sfDir] [outDir]` — prints the
    * funnel and writes the packed corpus partitioned by split.
    */
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = args.drop(1).headOption.getOrElse("/tmp/graft-pipeline-out")
    val spark = graft.engine.Tables.session()
    spark.sparkContext.setLogLevel("ERROR")
    val (df, funnel) = run(spark, dir)
    funnel.foreach(s => println(f"${s.stage}%-16s ${s.docs}%7d docs"))
    df.write.mode("overwrite").partitionBy("split").parquet(out)
    println(s"packed corpus -> $out")
    spark.stop()
  }
}
