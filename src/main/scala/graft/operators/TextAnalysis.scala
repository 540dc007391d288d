package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.Tables

/** Text-analysis operators over the `documents` table — the
  * training-data-pipeline surface (builder brief; SURVEY §7.4): token
  * counting (whitespace + BPE-ish regex), quality scoring, n-gram
  * language-ID heuristic, and document fingerprinting.
  *
  * Everything is built from codegen'd `functions._` higher-order
  * expressions — no UDFs — so the operators scale as plain projections:
  * embarrassingly parallel, no shuffle, full column pruning.
  */
object TextAnalysis {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")

  /** The documents relation range-laid-out by `doc_id` at the
    * session's parallelism — the prelude for the CPU-HEAVY per-doc
    * operators (tokenize/shingle/regex passes). Two measured effects
    * (r16, the pii/er_match_full lesson): (1) the fixture files are
    * single-row-group parquet, so a bare scan is ONE task and every
    * projection fused into the scan stage runs single-core no matter
    * the session width; (2) a final orderBy(doc_id) over an
    * un-materialized heavy projection re-executes that projection in
    * the range-sampling pass, and with the range layout established
    * BELOW the heavy map the trailing orderBy is satisfied with no new
    * exchange, no sort, and no second execution. The exchange carries
    * the raw (doc_id, text) rows once — at production scale a
    * many-row-group scan is already wide and a deployment sizes
    * session parallelism to the fleet, so the same layout stays one
    * bounded pass; the heavy fold above it is where the time goes at
    * every scale (guide §2.5, §8).
    *
    * Applied SELECTIVELY, by measurement (r16 family A/B at sf0.1 /
    * local[32], widen-everything vs plain): the per-doc
    * tokenize/score/verdict operators win big (text_filter 1.08→0.47,
    * text_repetition 0.98→0.43, text_gopher_rules 0.63→0.23,
    * text_lang_mix 0.62→0.27, text_fingerprint 0.54→0.22,
    * text_token_stats 0.58→0.28, text_tfidf 0.92→0.63, text_dup_coverage
    * 1.36→1.01, …) while operators that make SEVERAL passes over docs
    * — the BPE train/encode collect-loop, CMS, trigrams, char
    * diversity, vocab — pay the un-cached exchange once per pass and
    * REGRESS (text_bpe_encode 0.80→2.08, text_bpe_train 0.44→1.10,
    * text_cms 0.34→0.67, text_vocab_coverage 0.25→0.65); those keep
    * the bare scan.
    */
  private def docsWide(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .repartitionByRange(spark.sessionState.conf.numShufflePartitions,
        col("doc_id"))
      .sortWithinPartitions(col("doc_id"))

  private val tok = split(col("text"), " ")

  /** The 5-token head fingerprint (prefix-dup detection). One
    * definition shared with `Corpus.contamination` — the decontam
    * pass must key on exactly the fingerprint this module reports.
    */
  private[operators] def headMd5(tokens: org.apache.spark.sql.Column) =
    md5(array_join(slice(tokens, 1, 5), " "))

  /** Canonical text normalization — lowercase, non-alphanumerics to
    * spaces, runs of spaces collapsed, trimmed — the pre-pass that
    * makes exact dedup robust to case/punctuation/whitespace noise
    * (`Dedup.normalizedDedup` keys on its md5). A pure codegen'd
    * projection; patterns stay in the Java-regex ∩ RE2 dialect so the
    * DuckDB oracle runs the same expressions ([[normalizeDuckSql]] —
    * DuckDB needs the explicit 'g' flag Java implies).
    */
  def normalizedText(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    trim(regexp_replace(regexp_replace(lower(c), "[^a-z0-9 ]", " "), " +", " "))

  /** [[normalizedText]] rendered for DuckDB, over a column named by
    * the caller.
    */
  def normalizeDuckSql(col: String): String =
    s"trim(regexp_replace(regexp_replace(lower($col), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))"

  /** Token statistics: whitespace tokens, distinct types, exact summed
    * token length (integer arithmetic → deterministic double on the
    * single final division), and a BPE-ish regex token count.
    */
  def tokenStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    docsWide(spark, dir)
      .select($"doc_id", tok.as("t"), $"text")
      .select(
        $"doc_id",
        size($"t").cast("long").as("n_tokens"),
        size(array_distinct($"t")).cast("long").as("n_types"),
        expr("aggregate(transform(t, x -> CAST(length(x) AS BIGINT)), CAST(0 AS BIGINT), (a, x) -> a + x)")
          .as("sum_token_len"),
        expr("size(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0))")
          .cast("long").as("n_bpe_tokens"))
      .withColumn("avg_token_len", $"sum_token_len" * lit(1.0) / $"n_tokens")
      .orderBy($"doc_id")
  }

  /** Quality scoring: length, token count, stopword ratio, type/token
    * ratio, and a categorical grade.
    */
  def quality(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    docsWide(spark, dir)
      .select($"doc_id", tok.as("t"), $"text")
      .select(
        $"doc_id",
        length($"text").cast("long").as("n_chars"),
        size($"t").cast("long").as("n_tokens"),
        expr("CAST(size(filter(t, x -> x = 'the' OR x = 'a')) AS BIGINT)").as("n_stopwords"),
        (size(array_distinct($"t")) * lit(1.0) / size($"t")).as("type_token_ratio"))
      .withColumn("stopword_ratio", $"n_stopwords" * lit(1.0) / $"n_tokens")
      .withColumn("grade",
        when($"n_tokens" >= 40 && $"stopword_ratio" < 0.2, "good")
          .when($"n_tokens" >= 15, "fair")
          .otherwise("low"))
      .orderBy($"doc_id")
  }

  /** Marker sets for the language-ID heuristic (shared with the
    * oracle SQL and the mixed-language detector).
    */
  val EnMarkers = Seq("the", "a", "of", "and")
  val DeMarkers = Seq("der", "die", "das", "und")
  val EsMarkers = Seq("el", "la", "los", "y")

  /** Marker-overlap score of the token-array expression `tExpr`. */
  private def markerScore(tExpr: String, markers: Seq[String]): org.apache.spark.sql.Column = {
    val arr = markers.map(m => s"'$m'").mkString(", ")
    expr(s"CAST(size(filter(array_distinct($tExpr), x -> array_contains(array($arr), x))) AS BIGINT)")
  }

  /** Fixed-precedence argmax over three score columns. */
  private def predictLang(en: org.apache.spark.sql.Column, de: org.apache.spark.sql.Column,
      es: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(en >= de && en >= es && en > 0, "en")
      .when(de >= es && de > 0, "de")
      .when(es > 0, "es")
      .otherwise("und")

  /** Language-ID heuristic: distinct-token overlap against per-language
    * marker sets, argmax with a fixed precedence order. (The testdata's
    * `lang` column is random relative to its synthetic text, so this is
    * a deterministic scoring function, not a recovery of that label.)
    */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    docsWide(spark, dir)
      .select($"doc_id", tok.as("t"))
      .select($"doc_id",
        markerScore("t", EnMarkers).as("s_en"),
        markerScore("t", DeMarkers).as("s_de"),
        markerScore("t", EsMarkers).as("s_es"))
      .withColumn("predicted_lang", predictLang($"s_en", $"s_de", $"s_es"))
      .orderBy($"doc_id")
  }

  /** Mixed-language detection — the segmentation pre-check a
    * multilingual pipeline runs before per-language routing: language
    * is predicted INDEPENDENTLY for each half of the document, and a
    * document whose halves disagree (both confidently non-und) is
    * flagged for splitting rather than routed whole. Same marker
    * scoring as [[langId]] over sliced token arrays — a pure
    * projection, no shuffle.
    */
  def langMix(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    docsWide(spark, dir)
      .select($"doc_id", tok.as("t"))
      .withColumn("h1", expr("slice(t, 1, size(t) div 2)"))
      .withColumn("h2", expr("slice(t, size(t) div 2 + 1, size(t) - size(t) div 2)"))
      .select($"doc_id",
        predictLang(markerScore("h1", EnMarkers), markerScore("h1", DeMarkers),
          markerScore("h1", EsMarkers)).as("lang_a"),
        predictLang(markerScore("h2", EnMarkers), markerScore("h2", DeMarkers),
          markerScore("h2", EsMarkers)).as("lang_b"))
      .withColumn("mixed",
        $"lang_a" =!= $"lang_b" && $"lang_a" =!= "und" && $"lang_b" =!= "und")
      .orderBy($"doc_id")
  }

  /** Document fingerprints: exact content hash, order-insensitive
    * bag-of-tokens hash (canonicalised by sort), and a head fingerprint
    * for prefix-dup detection.
    */
  def fingerprint(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    docsWide(spark, dir)
      .select($"doc_id", tok.as("t"), $"text")
      .select(
        $"doc_id",
        md5($"text").as("exact_md5"),
        md5(array_join(array_sort($"t"), " ")).as("bag_md5"),
        headMd5($"t").as("head_md5"))
      .orderBy($"doc_id")
  }

  /** Winnowing fingerprints — the rolling document fingerprint scheme
    * (a code per token-3-gram, then the minimum of every 4 consecutive
    * codes, distinct): the standard fixed-size near-dup/plagiarism
    * fingerprint set, guaranteed to share values between documents
    * with sufficiently long common substrings. Token values are the
    * first 4 hex chars of each token's md5 (so the DuckDB oracle
    * reproduces them with nibble arithmetic); the trigram code is the
    * INJECTIVE base-2¹⁶ composition v₁·2³² + v₂·2¹⁶ + v₃ (48-bit).
    * Injectivity is the scale property: the r11 10× study measured the
    * earlier mod-1000003 compression manufacturing 18% of the span
    * graph as collision edges (growing quadratically with corpus
    * size); with a 2⁴⁸ space, distinct trigram-hash triples can never
    * share a fingerprint. All per-doc expression work — no shuffle
    * before the final explode/sort.
    */
  def winnowFingerprint(spark: SparkSession, dir: String): DataFrame =
    winnowOf(docsWide(spark, dir))

  /** [[winnowFingerprint]] over an arbitrary `(doc_id, text)` frame. */
  def winnowOf(d: DataFrame): DataFrame = {
    import d.sparkSession.implicits._
    d.select($"doc_id", tok.as("t"))
      .filter(size($"t") >= 3)
      .select($"doc_id",
        explode(graft.plans.ArrayExpressions.winnow($"t")).as("fp"))
      .orderBy($"doc_id", $"fp")
  }

  /** The stock-Catalyst HOF chain [[winnowOf]]'s native kernel
    * replaced — kept as the differential-spec twin (the kernel must
    * stay bit-equal to this forever; ArrayExpressionsSpec enforces
    * it). Three intermediate arrays per row and per-element lambda
    * dispatch made this the measured hot path of the whole span
    * family.
    */
  private[graft] def winnowOfHof(d: DataFrame): DataFrame = {
    import d.sparkSession.implicits._
    d.select($"doc_id", tok.as("t"))
      .filter(size($"t") >= 3)
      .withColumn("vals",
        expr("transform(t, x -> CAST(conv(substr(md5(x), 1, 4), 16, 10) AS BIGINT))"))
      .withColumn("hs", expr(
        """transform(sequence(1, size(vals) - 2),
          |  i -> vals[i-1] * 4294967296 + vals[i] * 65536 + vals[i+1])""".stripMargin))
      .withColumn("fp", explode(array_distinct(expr(
        "transform(sequence(1, greatest(size(hs) - 3, 1)), j -> array_min(slice(hs, j, 4)))"))))
      .select($"doc_id", $"fp")
      .orderBy($"doc_id", $"fp")
  }

  /** Posting-list df cap for [[sharedSpans]] (mirrored in the oracle):
    * a fingerprint appearing in more docs than this is boilerplate —
    * the quadratic-pair hazard — and Dedup.boilerplateStrip's beat,
    * not span evidence.
    */
  val MaxSpanDf = 64

  /** Cross-document SHARED-SPAN report — substring-level duplication
    * evidence that chunk-grain dedup misses (a quoted paragraph, a
    * lifted excerpt): every unordered doc pair sharing ≥1 winnowing
    * fingerprint, with the count of shared fingerprints as span
    * strength. Composes [[winnowFingerprint]] (whose guarantee is
    * exactly that long common substrings share a fingerprint) through
    * the posting-list pair core: group by fingerprint, expand each
    * posting list to ordered pairs in-row, count per pair — one
    * shuffle on the fingerprint and one on the pair, never a
    * self-join of the corpus. [[MaxSpanDf]] caps posting lists so a
    * viral span cannot go quadratic; what it drops is by definition
    * boilerplate.
    */
  def sharedSpans(spark: SparkSession, dir: String): DataFrame =
    sharedSpansOf(winnowFingerprint(spark, dir))

  /** The SURFACED form of [[sharedSpans]]: reads the session's
    * materialized span-pair layout ([[Graph.spanPairsLayout]] — whose
    * WRITER calls the derivation above, so this must stay a separate
    * entry point or materialization would recurse). Row-identical to
    * the derivation (direct differential in LayoutsSpec); the pair
    * relation is served, not re-derived, exactly like the nine graph
    * consumers.
    */
  def sharedSpansServed(spark: SparkSession, dir: String): DataFrame =
    Graph.spanPairsLayout(spark, dir)
      .select("doc_a", "doc_b", "n_shared_spans")
      .orderBy("doc_a", "doc_b")

  /** [[sharedSpans]] over an arbitrary `(doc_id, fp)` fingerprint
    * frame (each doc's fingerprints distinct, as [[winnowOf]] emits).
    */
  def sharedSpansOf(fps: DataFrame): DataFrame = {
    import fps.sparkSession.implicits._
    fps
      .groupBy($"fp")
      .agg(sort_array(collect_list($"doc_id")).as("ds"))
      .filter(size($"ds").between(2, MaxSpanDf))
      .select(explode(expr(
        """flatten(transform(sequence(0, size(ds) - 2),
          |  i -> transform(slice(ds, i + 2, size(ds) - i - 1),
          |       x -> struct(ds[i] AS doc_a, x AS doc_b))))""".stripMargin)).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"))
      .groupBy($"doc_a", $"doc_b")
      .agg(count(lit(1)).as("n_shared_spans"))
      .orderBy($"doc_a", $"doc_b")
  }

  /** INCREMENTAL span-graph maintenance — the daily-ingest twin of
    * [[sharedSpans]], completing the materialize-once story
    * (`Layouts.writeSpanPairs` holds yesterday's pair relation; this
    * emits exactly the NEW pair rows today's batch adds, so the graph
    * is appended to instead of recomputed): an incoming `(doc_id,
    * text)` batch is winnow-fingerprinted and (a) joined against the
    * persisted `(doc_id, fp)` fingerprint store for new↔store links,
    * (b) run through the [[sharedSpansOf]] posting-pair core for
    * new↔new links. Both arms keep the boilerplate cap: a fingerprint
    * over [[MaxSpanDf]] docs on EITHER side is dropped (same hazard,
    * same rule — a viral span in the store would otherwise join every
    * incoming doc). Scale shape: one fp-keyed join (store side
    * pre-filtered by its df), one posting-list pass over the batch —
    * the store relation itself is never rescanned per pair, and
    * nothing touches yesterday's pairs.
    */
  def spanPairsIncremental(newDocs: DataFrame, store: DataFrame): DataFrame = {
    import newDocs.sparkSession.implicits._
    val fpsNew = winnowOf(newDocs)
    val cn = fpsNew.groupBy($"fp").agg(count(lit(1)).as("cn"))
    val cs = store.groupBy($"fp").agg(count(lit(1)).as("cs"))
    val newStore = fpsNew.as("n")
      .join(cn.filter($"cn" <= MaxSpanDf), Seq("fp"))
      .join(store.as("s").join(cs.filter($"cs" <= MaxSpanDf), Seq("fp")),
        Seq("fp"))
      .select(least(col("n.doc_id"), col("s.doc_id")).as("doc_a"),
        greatest(col("n.doc_id"), col("s.doc_id")).as("doc_b"))
      .groupBy($"doc_a", $"doc_b")
      .agg(count(lit(1)).as("n_shared_spans"))
    sharedSpansOf(fpsNew).unionByName(newStore)
      .orderBy($"doc_a", $"doc_b")
  }

  /** [[spanPairsIncremental]] over the fixture split by doc parity
    * (odd docs are "today's batch", even docs the persisted store) —
    * the oracle-checked registration.
    */
  def spansIncremental(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d = Tables.load(spark, dir, "documents").select($"doc_id", $"text")
    spanPairsIncremental(
      d.filter($"doc_id" % 2 === 1),
      winnowOf(d.filter($"doc_id" % 2 === 0)))
  }

  /** Term-frequency surface: per-doc top-3 terms (stopwords excluded)
    * with corpus document-frequency — the TF side of TF-IDF (IDF's log
    * is left to callers: libm vs JVM log differ at the ulp, which would
    * break the cross-engine oracle for zero analytical gain here).
    * The rank filter compiles to WindowGroupLimit (top-k pushed below
    * the full window sort).
    */
  def topTerms(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tf = docsWide(spark, dir)
      .select($"doc_id", explode(tok).as("term"))
      .filter(!$"term".isin("the", "a"))
      .groupBy($"doc_id", $"term")
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy($"term").agg(countDistinct($"doc_id").as("df"))
    tf.join(df, "term")
      .withColumn("rnk",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy($"doc_id").orderBy($"tf".desc, $"term")).cast("long"))
      .filter($"rnk" <= 3)
      .select($"doc_id", $"term", $"tf", $"df", $"rnk")
      .orderBy($"doc_id", $"rnk")
  }

  /** IDF scaling for [[tfidf]] (mirrored in the oracle SQL). */
  val IdfScale = 1000000L

  /** TF-IDF ranked terms: the weighting [[topTerms]] leaves out,
    * made oracle-exact by replacing `log(N/df)` with the integer
    * surrogate `(IdfScale·N) div df` — monotone in N/df, so the
    * RANKING it induces per document is the tf-idf ranking for terms
    * of equal tf, with none of log()'s cross-engine ulp drift. Top-5
    * per document by (score desc, term). Shapes: two corpus-keyed
    * hash aggregates (tf, then df), a term-keyed join, the scalar
    * doc count broadcast, and a per-doc bounded rank window that
    * compiles to WindowGroupLimit.
    */
  def tfidf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tf = docsWide(spark, dir)
      .select($"doc_id", explode(tok).as("term"))
      .groupBy($"doc_id", $"term")
      .agg(count(lit(1)).as("tf"))
    // tf is one row per (doc, term): plain count IS document frequency
    val dfreq = tf.groupBy($"term").agg(count(lit(1)).as("df"))
    val nDocs = docs(spark, dir).agg(count(lit(1)).as("n_docs"))
    tf.join(dfreq, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("score", expr(s"tf * (($IdfScale * n_docs) div df)"))
      .withColumn("rn",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy($"doc_id").orderBy($"score".desc, $"term")).cast("long"))
      .filter($"rn" <= 5)
      .select($"doc_id", $"term", $"tf", $"df", $"score", $"rn")
      .orderBy($"doc_id", $"rn")
  }

  /** Surprise scaling for [[lmSurprise]] (mirrored in the oracle). */
  val SurpriseScale = 1000000L

  /** Bigram "surprise" score — the perplexity proxy a quality filter
    * runs without shipping a language model: each bigram occurrence
    * scores the integer surrogate of its inverse corpus probability,
    * `(SurpriseScale·N) div f` (N = total bigram occurrences, f =
    * this bigram's count — monotone in 1/p with none of log()'s
    * cross-engine ulp drift, the [[tfidf]] trick), and each document
    * reports the exact sum and integer mean over its occurrences.
    * Repetitive/templated text scores LOW (common transitions),
    * shuffled or unnatural text scores HIGH (rare transitions) — the
    * two tails a filter clips.
    *
    * Scale shape: explode → bigram-keyed count (data-scaled key) →
    * join back on the bigram → per-doc aggregate, corpus total on a
    * broadcast scalar. At 10¹² bigrams the per-occurrence product
    * SurpriseScale·N ≈ 10¹⁸ still fits BIGINT.
    */
  def lmSurprise(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val bg = docsWide(spark, dir)
      .select($"doc_id", tok.as("t"))
      .filter(size($"t") >= 2)
      .select($"doc_id", explode(expr(
        "transform(sequence(0, size(t)-2), i -> concat(t[i], ' ', t[i+1]))")).as("bigram"))
    val freq = bg.groupBy($"bigram").agg(count(lit(1)).as("f"))
    val tot = bg.agg(count(lit(1)).as("n"))
    bg.join(freq, "bigram")
      .crossJoin(broadcast(tot))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(expr(s"($SurpriseScale * n) div f")).as("surprise_sum"))
      .withColumn("surprise_e6", expr("surprise_sum div n_bigrams"))
      .select($"doc_id", $"n_bigrams", $"surprise_sum", $"surprise_e6")
      .orderBy($"doc_id")
  }

  /** Vocabulary size cap for [[vocab]] (mirrored in the oracle SQL). */
  val VocabTopV = 200

  /** Corpus vocabulary building (the tokenizer-training prep step):
    * global term counts + document frequency, truncated to the top
    * [[VocabTopV]] terms by (count desc, term) with each term's share
    * of all corpus tokens. The top-V runs as a distributed
    * TakeOrdered (per-partition heaps merged on the driver — never a
    * global sort, never a window), ranks come from
    * `Ranking.boundedRowNumber` on the V-row result, and the token
    * total rides a broadcast (one extra metadata-sized job, no second
    * corpus scan at the join).
    */
  def vocab(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val terms = docs(spark, dir).select($"doc_id", explode(tok).as("term"))
    val agged = terms.groupBy($"term")
      .agg(count(lit(1)).as("cnt"), countDistinct($"doc_id").as("df"))
    val total = terms.agg(count(lit(1)).as("__t"))
    val top = agged.orderBy($"cnt".desc, $"term").limit(VocabTopV)
    Ranking.boundedRowNumber(top, "rank", $"cnt".desc, $"term")
      .crossJoin(broadcast(total))
      .withColumn("share", $"cnt" * lit(1.0) / $"__t")
      .select($"rank", $"term", $"cnt", $"df", $"share")
      .orderBy($"rank")
  }

  /** Character-diversity scoring — the cheap entropy proxy a quality
    * filter uses to catch low-diversity garbage (aaaaa…, base64 walls,
    * single-char floods). True Shannon entropy needs log(), whose libm
    * vs JVM ulp differences would break the cross-engine oracle; Gini
    * impurity `1 − Σ(cᵢ/n)²` ranks the same degenerate docs and is a
    * SINGLE division of exact integers — bit-identical anywhere.
    * Shape: one codegen'd pass per row
    * ([[graft.plans.ArrayExpressions.CharCounts]] computes (n, distinct,
    * Σc²) where the characters already are) — ZERO shuffles, where the
    * exploded form ships one row per character of the corpus through
    * two keyed aggregations (kept as [[charDiversityExploded]],
    * bit-equality differential-spec'd; an array_sort + run-length HOF
    * fold was also tried in r-early and measured 2× SLOWER than the
    * explode — struct-state folds defeat codegen; the native kernel
    * beats both). Empty-text docs are excluded in both forms (the
    * exploded form drops them structurally; the kernel form filters).
    */
  def charDiversity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    docs(spark, dir)
      .filter(length($"text") > 0)
      .select($"doc_id", graft.plans.ArrayExpressions.charCounts($"text").as("cc"))
      .select($"doc_id",
        $"cc.n_chars".as("n_chars"),
        $"cc.n_distinct".as("n_distinct_chars"),
        (($"cc.n_chars" * $"cc.n_chars" - $"cc.ss") * lit(1.0)
          / ($"cc.n_chars" * $"cc.n_chars")).as("gini"))
      .orderBy($"doc_id")
  }

  /** [[charDiversity]]'s stock-expression twin (explode → two keyed
    * aggregations) — the differential reference for the native kernel.
    * The sequence guard (`greatest` + `slice`) keeps Spark's
    * descending `sequence(1, 0)` from fabricating rows on empty text.
    */
  private[graft] def charDiversityExploded(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val chars = docs(spark, dir).select($"doc_id", explode(expr(
      "slice(transform(sequence(1, greatest(length(text), 1)), i -> substr(text, i, 1)), 1, length(text))"))
      .as("ch"))
    chars.groupBy($"doc_id", $"ch").agg(count(lit(1)).as("c"))
      .groupBy($"doc_id")
      .agg(sum($"c").as("n_chars"),
        count(lit(1)).as("n_distinct_chars"),
        sum($"c" * $"c").as("ss"))
      .withColumn("gini",
        ($"n_chars" * $"n_chars" - $"ss") * lit(1.0) / ($"n_chars" * $"n_chars"))
      .select($"doc_id", $"n_chars", $"n_distinct_chars", $"gini")
      .orderBy($"doc_id")
  }

  /** Intra-document repetition signals (the Gopher/RefinedWeb-style
    * repetition rules a pretraining filter applies): duplicate-word
    * fraction as a pure projection, and the most-frequent-bigram
    * fraction via explode + count keyed BY DOCUMENT — one shuffle whose
    * key cardinality scales with the corpus, never a per-row O(n²)
    * array mode. Ratios are a single division of exact integers, so
    * both engines agree bit-for-bit.
    */
  def repetition(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ws = docsWide(spark, dir).select($"doc_id", tok.as("t"))
    val base = ws.select($"doc_id",
      size($"t").cast("long").as("n_words"),
      size(array_distinct($"t")).cast("long").as("n_distinct"))
    // guard size >= 2: Spark's sequence(1, 0) would COUNT DOWN and
    // fabricate a reversed pair rather than returning empty
    val top = ws.filter(size($"t") >= 2)
      .select($"doc_id", explode(expr(
        "transform(sequence(1, size(t) - 1), i -> concat(t[i-1], ' ', t[i]))"))
        .as("bigram"))
      .groupBy($"doc_id", $"bigram").agg(count(lit(1)).as("c"))
      .groupBy($"doc_id").agg(max($"c").as("top_c"))
    base.join(top, Seq("doc_id"), "left")
      .select($"doc_id", $"n_words",
        (($"n_words" - $"n_distinct") * lit(1.0) / $"n_words").as("dup_word_ratio"),
        ($"top_c" * lit(1.0) / ($"n_words" - 1)).as("top_bigram_ratio"))
      .orderBy($"doc_id")
  }

  /** Filter thresholds for [[filterDocs]] — fixed rule constants, kept
    * in one place because the oracle SQL mirrors them literally.
    */
  val MinWords = 15
  val MaxDupRatio = 0.6
  val MaxTopBigramRatio = 0.10

  /** Quality-filter APPLICATION (the Gopher-rule verdict pass): every
    * document gets a keep/drop verdict with the FIRST failing rule as
    * the reason — too_short, repetitive (duplicate-word fraction), or
    * boilerplate (top-bigram fraction). The signals are
    * [[repetition]]'s, recomputed in the same shapes; rule comparisons
    * run on engine-identical doubles so the verdict set is exact
    * cross-engine.
    */
  def filterDocs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ws = docsWide(spark, dir).select($"doc_id", tok.as("t"))
    val base = ws.select($"doc_id",
      size($"t").cast("long").as("n_words"),
      size(array_distinct($"t")).cast("long").as("n_distinct"))
    val top = ws.filter(size($"t") >= 2)
      .select($"doc_id", explode(expr(
        "transform(sequence(1, size(t) - 1), i -> concat(t[i-1], ' ', t[i]))"))
        .as("bigram"))
      .groupBy($"doc_id", $"bigram").agg(count(lit(1)).as("c"))
      .groupBy($"doc_id").agg(max($"c").as("top_c"))
    base.join(top, Seq("doc_id"), "left")
      .select($"doc_id", $"n_words",
        (($"n_words" - $"n_distinct") * lit(1.0) / $"n_words").as("dup_ratio"),
        ($"top_c" * lit(1.0) / ($"n_words" - 1)).as("bigram_ratio"))
      .withColumn("verdict",
        when($"n_words" < MinWords, "too_short")
          .when($"dup_ratio" >= MaxDupRatio, "repetitive")
          .when($"bigram_ratio" >= MaxTopBigramRatio, "boilerplate")
          .otherwise("keep"))
      .withColumn("keep", $"verdict" === "keep")
      .orderBy($"doc_id")
  }

  /** Vocabulary sizes probed by [[vocabCoverage]] (mirrored in the
    * oracle SQL). Must be ≤ [[VocabTopV]].
    */
  val CoveragePoints = Seq(50, 100, 200)

  /** Vocabulary coverage curve — the tokenizer-design metric: what
    * share of ALL corpus token occurrences do the top-V terms cover,
    * for each probed V. One corpus-keyed term aggregate, a distributed
    * TakeOrdered for the top-[[VocabTopV]], one bounded rank, then
    * every probe point is a conditional sum over that V-row table —
    * adding points costs aggregate columns, not passes (the
    * histoQuantiles trick). Shares are exact ppm integers.
    */
  def vocabCoverage(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val terms = docs(spark, dir).select(explode(tok).as("term"))
    val total = terms.agg(count(lit(1)).as("total"))
    val top = terms.groupBy($"term").agg(count(lit(1)).as("cnt"))
      .orderBy($"cnt".desc, $"term").limit(VocabTopV)
    val ranked = Ranking.boundedRowNumber(top, "rank", $"cnt".desc, $"term")
    val sums = CoveragePoints.map(v =>
      sum(when($"rank" <= v, $"cnt")).as(s"c$v"))
    ranked.agg(sums.head, sums.tail: _*)
      .crossJoin(broadcast(total))
      .select(expr(
        s"stack(${CoveragePoints.length}, ${CoveragePoints.map(v => s"CAST($v AS BIGINT), c$v").mkString(", ")}) AS (v, covered)"),
        $"total")
      .withColumn("share_ppm",
        expr("CAST(covered AS DECIMAL(19,0)) * 1000000 div total"))
      .select($"v", $"covered", $"total", $"share_ppm")
      .orderBy($"v")
  }

  /** Trigrams kept by [[trigramTable]] (mirrored in the oracle SQL). */
  val TrigramTopN = 50

  /** Corpus trigram count table — the n-gram LM building block
    * ([[lmSurprise]] consumes bigram counts inline; this SURFACES the
    * table a Kneser-Ney/KenLM-style pipeline materializes): top-N word
    * trigrams by count. Same scale shape as [[vocab]]: explode → one
    * corpus-keyed hash aggregate → distributed TakeOrdered (per-
    * partition heaps, never a global sort) → bounded rank on the N-row
    * result.
    */
  def trigramTable(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tg = docs(spark, dir)
      .select(tok.as("t"))
      .filter(size($"t") >= 3)
      .select(explode(expr(
        "transform(sequence(0, size(t) - 3), i -> concat(t[i], ' ', t[i+1], ' ', t[i+2]))"))
        .as("trigram"))
    val top = tg.groupBy($"trigram").agg(count(lit(1)).as("cnt"))
      .orderBy($"cnt".desc, $"trigram").limit(TrigramTopN)
    Ranking.boundedRowNumber(top, "rank", $"cnt".desc, $"trigram")
      .select($"rank", $"trigram", $"cnt")
      .orderBy($"rank")
  }

  /** Pair-table size for [[bpePairs]]. */
  val BpePairTopN = 32

  /** First BPE merge iteration — the tokenizer-TRAINING verb: count
    * every adjacent character pair inside every word occurrence and
    * rank the top-[[BpePairTopN]] (the pair a byte-pair-encoding
    * trainer would merge first, plus the next candidates in order).
    * Words under two characters contribute nothing. Scale shape: a
    * map-only double explode (words, then the len−1 two-char slices)
    * into a pair-keyed aggregate whose map-side partials collapse
    * every task to the pair-alphabet size, then a distributed
    * TakeOrdered for the top table — no global sort, no window over
    * raw pairs ([[trigramTable]]'s shape). The per-word slice loop is
    * O(len²) via substr's seek, which is flat for natural-language
    * word lengths (the quadratic hazard [[Multimodal.aHash]] hit only
    * exists for MB-scale single strings).
    */
  def bpePairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pairs = docs(spark, dir)
      .select(explode(tok).as("w"))
      .filter(length($"w") >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substr(w, i, 2))")).as("pair"))
    val top = pairs.groupBy($"pair").agg(count(lit(1)).as("cnt"))
      .orderBy($"cnt".desc, $"pair").limit(BpePairTopN)
    Ranking.boundedRowNumber(top, "rank", $"cnt".desc, $"pair")
      .select($"rank", $"pair", $"cnt")
      .orderBy($"rank")
  }

  /** Merge rounds run by [[bpeTrain]] and the symbol separator of its
    * internal word representation (U+001F unit separator — absent
    * from any corpus token, so symbol boundaries are unambiguous).
    */
  val BpeMerges = 3
  val BpeSep = "\u001f"

  /** The BPE TRAINING LOOP itself (Sennrich, Haddow & Birch, "Neural
    * Machine Translation of Rare Words with Subword Units", ACL 2016
    * — [[bpePairs]] is its iteration 0): over the distinct-word/
    * frequency table, [[BpeMerges]] rounds of (a) count adjacent
    * symbol pairs weighted by word frequency, (b) pick the most
    * frequent pair (ties → lexicographically smallest — the separator
    * sorts below every letter, so the concatenated pair key IS the
    * (a, b) order in both engines' byte collation), (c) merge every
    * occurrence greedily left-to-right. The merge is a string FOLD:
    * the accumulator is the separator-joined representation rebuilt
    * symbol by symbol, and `last symbol == a ∧ next == b` appends `b`
    * WITHOUT a separator — fusing the pair into one symbol exactly
    * like the reference algorithm's non-overlapping left-to-right
    * replace ('aaa' under (a,a) → ('aa','a'), spec-pinned). Output is
    * the merge table (iter, sym_a, sym_b, n_pair) — THE artifact a
    * BPE tokenizer ships.
    *
    * Scale shape: everything runs on the distinct-WORD table (vocab-
    * sized, not corpus-sized — the one aggregate over the corpus is
    * the word count); each round is one pair-count aggregate plus a
    * driver-side top-1 pick (3 collects of one row, the PQ-trainer
    * pattern), and the re-representation is a map-side fold. The
    * merge table leaves as a local relation already in `iter` order,
    * so the returned plan has no sort and no exchange.
    */
  def bpeTrain(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    trainBpeMerges(spark, dir).toDF("iter", "sym_a", "sym_b", "n_pair")
  }

  /** The greedy left-to-right merge fold: rebuild the `$S`-joined
    * representation in `repCol`, fusing every (a, b) adjacency —
    * shared verbatim by the trainer's re-representation step and
    * [[bpeEncode]]'s application step so the two can never drift.
    */
  private def bpeMergeFold(a: String, b: String): org.apache.spark.sql.Column = {
    val S = BpeSep
    expr(
      s"""aggregate(slice(syms, 2, size(syms) - 1), element_at(syms, 1),
         |  (acc, s) -> CASE WHEN (acc = '$a' OR endswith(acc, '$S$a')) AND s = '$b'
         |                   THEN concat(acc, '$b')
         |                   ELSE concat(acc, '$S', s) END)""".stripMargin)
  }

  /** [[bpeTrain]]'s loop, returning the merge table as driver values
    * (model-sized — [[BpeMerges]] rows — the PQ-codebook collect
    * precedent) so [[bpeEncode]] can apply the trained merges.
    */
  private[graft] def trainBpeMerges(spark: SparkSession,
      dir: String): Seq[(Long, String, String, Long)] = {
    import spark.implicits._
    val S = BpeSep
    val words = docs(spark, dir)
      .select(explode(tok).as("w"))
      .filter(length($"w") > 0)
      .groupBy($"w").agg(count(lit(1)).as("freq"))
    var reps = words
      .select($"freq", array_join(split($"w", ""), S).as("rep"))
      .localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    for (it <- 1 to BpeMerges) {
      val top = reps
        .withColumn("syms", split($"rep", S))
        // single-symbol words contribute no pairs — and sequence(1, 0)
        // COUNTS DOWN (the r3 trap), so the guard is load-bearing
        .filter(size($"syms") >= 2)
        .select($"freq", explode(expr(
          s"transform(sequence(1, size(syms) - 1), i -> concat(element_at(syms, i), '$S', element_at(syms, i + 1)))"))
          .as("pk"))
        .groupBy($"pk").agg(sum($"freq").as("n"))
        .orderBy($"n".desc, $"pk")
        .limit(1).collect()(0)
      val Array(a, b) = top.getString(0).split(S)
      merges += ((it.toLong, a, b, top.getLong(1)))
      reps = reps.withColumn("syms", split($"rep", S))
        .withColumn("rep", bpeMergeFold(a, b))
        .select($"freq", $"rep")
        .localCheckpoint()
    }
    merges.toSeq
  }

  /** BPE ENCODING — the tokenizer-APPLICATION verb ([[bpeTrain]]
    * ships the merge table; this runs it over the corpus): every
    * word is re-segmented under the [[BpeMerges]] trained merges and
    * each document reports its word, character, and BPE-token counts
    * plus tokens-per-character in ppm — the compression yardstick
    * (chars-per-token is the capacity currency that decides how much
    * text fits a context window, and a corpus whose ppm drifts up is
    * drifting away from the tokenizer's training distribution).
    *
    * Scale shape: the merge fold runs over the DISTINCT-word
    * vocabulary (vocab-sized, never corpus-sized — the same frame the
    * trainer folds), then per-doc counts come from one explode + an
    * equi-join on the word + a doc-keyed aggregate. The merge table
    * itself is [[BpeMerges]] driver literals baked into the fold
    * expressions — nothing joins against it.
    */
  def bpeEncode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val S = BpeSep
    val merges = trainBpeMerges(spark, dir)
    val occ = docs(spark, dir)
      .select($"doc_id", explode(tok).as("w"))
      .filter(length($"w") > 0)
    var reps = occ.select($"w").distinct()
      .select($"w", array_join(split($"w", ""), S).as("rep"))
    for ((_, a, b, _) <- merges)
      reps = reps.withColumn("syms", split($"rep", S))
        .withColumn("rep", bpeMergeFold(a, b))
        .select($"w", $"rep")
    val wlen = reps.select($"w",
      length($"w").cast("long").as("n_chars"),
      size(split($"rep", S)).cast("long").as("n_sym"))
    occ.join(wlen, Seq("w"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum($"n_chars").as("n_chars"),
        sum($"n_sym").as("n_bpe_tokens"))
      .withColumn("tok_per_char_ppm",
        expr("(n_bpe_tokens * 1000000) div n_chars"))
      .orderBy($"doc_id")
  }

  /** Quality-gate DROP-REASON report per source — the data-card table
    * a corpus release prints next to the pipeline funnel: for every
    * (source, verdict) cell, how many docs and how much token mass
    * the gate's first-failing-rule attribution ([[filterDocs]]'s
    * precedence order) assigned there. The triage that decides
    * whether a source needs a cleaner or a delisting — the funnel says
    * how much died, this says where and why. One join of the verdict
    * frame back to provenance + a keyed aggregate over the bounded
    * (source × 4-verdict) domain.
    */
  def dropReasons(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val v = filterDocs(spark, dir).select($"doc_id", $"verdict")
    docs(spark, dir)
      .select($"doc_id", $"source", size(tok).cast("long").as("n_tok"))
      .join(v, Seq("doc_id"))
      .groupBy($"source", $"verdict")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("n_tokens"))
      .orderBy($"source", $"verdict")
  }

  /** Count-min sketch geometry (mirrored in the oracle SQL): d hash
    * rows × w buckets.
    */
  val CmsRows = 4
  val CmsWidth = 1024L

  /** Count-min sketch build + probe — the BOUNDED-MEMORY frequency
    * estimator a 100 TB pipeline uses where the exact term aggregate
    * ([[vocab]]) is unaffordable as a pre-pass: the whole sketch is
    * d·w = 4096 counters whatever the corpus, built in ONE pass whose
    * map-side partial aggregation collapses every task to ≤ d·w rows
    * before the shuffle (the entire point of the sketch shape). The d
    * hash rows are disjoint 16-bit slices of each term's md5 —
    * deterministic, so the DuckDB oracle rebuilds the identical sketch
    * with nibble arithmetic. The surfaced query probes the top-20
    * exact terms and reports estimate vs truth; `overcount ≥ 0` is the
    * CMS guarantee (never underestimates) and is spec-pinned.
    */
  def cmsEstimate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // ONE corpus scan, aggregated to the vocabulary FIRST (guide §2.3
    // "aggregate before you shuffle"): the sketch's per-(row, bucket)
    // counts are sums of per-term counts, so the md5 bucketing runs
    // per DISTINCT term instead of per occurrence (r15: the md5 inside
    // the transform lambda was evaluated CmsRows× per OCCURRENCE — the
    // r2 HOF-inlining trap at corpus scale), and the exact top-20
    // probe shares the same term aggregate instead of re-scanning the
    // corpus (its term-keyed exchange is canonically equal, so AQE
    // serves both consumers from one runtime shuffle).
    val termCounts = docs(spark, dir).select(explode(tok).as("term"))
      .groupBy($"term").agg(count(lit(1)).as("exact_cnt"))
      .withColumn("h", md5($"term"))
    val bucketsExpr =
      s"""transform(sequence(0, ${CmsRows - 1}),
         |  i -> CAST(conv(substr(h, 1 + 4 * i, 4), 16, 10) AS BIGINT) % $CmsWidth)""".stripMargin
    val sketch = termCounts
      .select($"exact_cnt", posexplode(expr(bucketsExpr)).as(Seq("row", "bucket")))
      .groupBy($"row", $"bucket")
      .agg(sum($"exact_cnt").as("c"))
    val top = termCounts
      .orderBy($"exact_cnt".desc, $"term").limit(20)
    top
      .select($"term", $"exact_cnt", posexplode(expr(bucketsExpr)).as(Seq("row", "bucket")))
      .join(broadcast(sketch), Seq("row", "bucket"))
      .groupBy($"term", $"exact_cnt")
      .agg(min($"c").as("cms_est"))
      .withColumn("overcount", $"cms_est" - $"exact_cnt")
      .select($"term", $"exact_cnt", $"cms_est", $"overcount")
      .orderBy($"term")
  }

  /** Hash-bucket count for the [[classify]] model (mirrored in the
    * oracle SQL).
    */
  val ClassifierBuckets = 256L

  /** Deterministic stand-in weight table for the surfaced
    * [[classify]] query: bucket → (bucket % 21) − 10, integer weights
    * in [−10, 10]. A real deployment passes its trained table to
    * [[classify]]; this one exists so the oracle can rebuild the model
    * from pure arithmetic.
    */
  def classifierWeights(spark: SparkSession): DataFrame =
    spark.range(ClassifierBuckets)
      .select(col("id").as("bucket"), expr("id % 21 - 10").as("weight"))

  /** Linear-model scoring over a hashed bag of words — the
    * fastText-style quality-classifier APPLY step, distributed the way
    * a 100 TB pipeline actually runs one: the model is a (bucket,
    * weight) TABLE broadcast to every task (weights are trained
    * elsewhere and change without redeploys — the
    * `Redaction.domainStatsAgainst` governance shape), features are
    * the hashed-bucket token counts, and the document score is the
    * exact integer dot product via one broadcast join + one doc-keyed
    * aggregate. No UDF, no driver loop; `label` is the sign
    * threshold a filter keeps/drops on.
    */
  def classify(d: DataFrame, weights: DataFrame): DataFrame = {
    import d.sparkSession.implicits._
    d.select($"doc_id", explode(split($"text", " ")).as("term"))
      .select($"doc_id",
        expr("CAST(conv(substr(md5(term), 1, 2), 16, 10) AS BIGINT)").as("bucket"))
      .join(broadcast(weights), Seq("bucket"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_terms"), sum($"weight").as("score"))
      .withColumn("label", $"score" >= 0)
      .select($"doc_id", $"n_terms", $"score", $"label")
      .orderBy($"doc_id")
  }

  def classifyDocs(spark: SparkSession, dir: String): DataFrame =
    classify(docsWide(spark, dir), classifierWeights(spark))

  /** Per-document n-gram NOVELTY — what fraction of a doc's trigrams
    * appear here FIRST (no earlier doc_id — ingestion-order proxy —
    * contains them)? Low novelty without an exact-dup hit is the
    * template/boilerplate signature chunk dedup misses and a
    * memorization audit looks for. Two trigram-keyed aggregates (the
    * key is data-scaled, never bounded-domain) and one join back —
    * the [[trigramTable]] extraction reused, rate held in exact ppm
    * integer arithmetic. Docs under 3 tokens have no trigrams and are
    * absent (mirrored in the oracle).
    */
  def novelty(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tg = docsWide(spark, dir)
      .select($"doc_id", tok.as("t"))
      .filter(size($"t") >= 3)
      .select($"doc_id", explode(expr(
        "transform(sequence(0, size(t) - 3), i -> concat(t[i], ' ', t[i+1], ' ', t[i+2]))"))
        .as("trigram"))
    // collapse occurrence rows to (doc, trigram, cnt) BEFORE anything
    // shuffles by trigram (guide §2.3): the first-doc election and the
    // join back both consume the aggregated frame, whose trigram-keyed
    // exchanges are canonically equal — AQE serves both from ONE
    // runtime shuffle, so the corpus-scaled explode runs once instead
    // of twice and the trigram shuffle carries per-doc-distinct rows
    // instead of raw occurrences.
    val tgc = tg.groupBy($"doc_id", $"trigram").agg(count(lit(1)).as("cnt"))
    val firsts = tgc.groupBy($"trigram").agg(min($"doc_id").as("first_doc"))
    tgc.join(firsts, Seq("trigram"))
      .groupBy($"doc_id")
      .agg(sum($"cnt").as("n_grams"),
        sum(when($"first_doc" === $"doc_id", $"cnt").otherwise(0L)).as("n_novel"))
      .withColumn("novelty_ppm", expr("(n_novel * 1000000) div n_grams"))
      .orderBy($"doc_id")
  }

  /** Window geometry for [[chunkWindows]] (mirrored in the oracle):
    * 32-token windows advancing by 24 — the 8-token overlap is what a
    * context-window pipeline keeps so no sentence is ever split
    * across a hard boundary with zero shared context.
    */
  val WindowTokens = 32
  val WindowStride = 24

  /** Sliding token windows with overlap — cutting documents into
    * training-context-sized pieces (the step between curation and
    * packing; chunk dedup's fixed chunks answer "is this repeated",
    * these answer "what does example i see"). Each doc yields
    * ⌈max(0, n−W)/S⌉+1 windows: starts 1, S+1, 2S+1, …, the last
    * window clamped at the doc tail, a short doc one whole window.
    * Pure map-side explode — no shuffle at all, the per-doc cost is
    * O(windows), and the window fingerprint (not the text) keeps the
    * output narrow; a real pipeline would emit the slice itself from
    * the same expression.
    */
  def chunkWindows(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val W = WindowTokens
    val S = WindowStride
    docsWide(spark, dir)
      .select($"doc_id", split($"text", " ").as("t"))
      .select($"doc_id", explode(expr(
        s"""transform(
           |  sequence(CAST(0 AS BIGINT),
           |           CAST(greatest(0.0, ceil((size(t) - $W) / $S.0)) AS BIGINT)),
           |  i -> named_struct(
           |    'win_idx', i,
           |    'n_tok', CAST(size(slice(t, CAST(i * $S + 1 AS INT), $W)) AS BIGINT),
           |    'win_fp', md5(array_join(slice(t, CAST(i * $S + 1 AS INT), $W), ' '))))"""
          .stripMargin)).as("w"))
      .select($"doc_id", $"w.win_idx", $"w.n_tok", $"w.win_fp")
      .orderBy($"doc_id", $"win_idx")
  }

  /** TOKENIZER-FERTILITY report — the per-source cost model a
    * tokenizer choice is judged by (fertility: how many subword
    * tokens per word; bytes per token: how much compute a byte of
    * this source costs): whitespace words vs [[Corpus.bpeProxyTokens]]
    * (the byte-length BPE proxy, ~4 bytes/token), aggregated per
    * source with both ratios in integer ppm. DECIMAL routes the ×10⁶
    * against BIGINT wrap at a 100 TB byte total. One keyed aggregate
    * over the bounded source domain — the cheapest possible shape.
    */
  def fertility(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    docs(spark, dir)
      .select($"source", octet_length($"text").cast("long").as("n_bytes"),
        size(tok).cast("long").as("n_words"),
        Corpus.bpeProxyTokens.cast("long").as("n_bpe"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum($"n_bytes").as("n_bytes"),
        sum($"n_words").as("n_words"), sum($"n_bpe").as("n_bpe"))
      .withColumn("bpe_per_word_ppm", expr(
        "CAST(CAST(n_bpe AS DECIMAL(38,0)) * 1000000 div n_words AS BIGINT)"))
      .withColumn("bytes_per_bpe_ppm", expr(
        "CAST(CAST(n_bytes AS DECIMAL(38,0)) * 1000000 div n_bpe AS BIGINT)"))
      .orderBy($"source")
  }

  /** [[lmSurprise]] cut line for [[surpriseFilter]] (≈ the fixture
    * corpus's 90th percentile — scale-stable because N/f is, for a
    * stationary corpus).
    */
  val SurpriseCut = 950000000L

  /** The perplexity-proxy APPLY step — [[lmSurprise]] reports, this
    * one decides: per (source, verdict) doc and token mass where
    * verdict is `drop_surprising` (mean bigram surprise ≥
    * [[SurpriseCut]] — gibberish/OCR-noise candidates under a bigram
    * LM), `keep`, or `short` (< 2 tokens, no bigram evidence — the
    * null-join arm a real pipeline must route explicitly, not drop).
    * Composes the green lmSurprise core through one left join and a
    * bounded-domain aggregate.
    */
  def surpriseFilter(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val s = lmSurprise(spark, dir).select($"doc_id", $"surprise_e6")
    docs(spark, dir)
      .select($"doc_id", $"source", size(tok).cast("long").as("n_tok"))
      .join(s, Seq("doc_id"), "left")
      .withColumn("verdict",
        when($"surprise_e6".isNull, lit("short"))
          .when($"surprise_e6" >= SurpriseCut, lit("drop_surprising"))
          .otherwise(lit("keep")))
      .groupBy($"source", $"verdict")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("n_tokens"))
      .orderBy($"source", $"verdict")
  }

  /** Stopword set for the Gopher rule "document contains ≥ 2 of a
    * small stop-word list" (Rae et al. 2021 use {the, be, to, of, and,
    * that, have, with}; swapped "have"→"a" here because this corpus'
    * function-word inventory is {the, a} — [[quality]]'s stop set —
    * and a rule that can never fire pins nothing).
    */
  val GopherStops: Seq[String] =
    Seq("the", "a", "be", "to", "of", "and", "that", "with")

  /** GOPHER-RULE quality gate (Rae et al., arXiv:2112.11446 §A1.1 —
    * the rule set most large-corpus pipelines start from), evaluated
    * per document with every ratio restated as exact integer
    * cross-multiplication so no IEEE division enters the verdict:
    *
    *  - `rule_word_count`: 50 ≤ words ≤ 100 000
    *  - `rule_mean_len`:   3 ≤ mean word length ≤ 10
    *    (as `3·n ≤ Σlen ≤ 10·n`; Σlen is `length(replace(text,' ',''))`
    *    — exactly the sum of token lengths under the space split)
    *  - `rule_symbol`:     (#'#' + #'...') / words < 0.1  (as `10·sym < n`)
    *  - `rule_alpha`:      ≥ 70 % of words contain a letter (as `10·a ≥ 7·n`)
    *  - `rule_stop`:       ≥ 2 distinct [[GopherStops]] present
    *
    * Per-rule booleans are REPORTED alongside the combined `keep` —
    * a filtering run wants the why (which gate fired) for its drop
    * audit, not just the verdict; [[dropReasons]] is the aggregated
    * view of the same idea.
    *
    * Scale shape: map-only — one projection pass, no shuffle at all
    * except the presentation sort; every rule is a codegen'd
    * expression over the token array.
    */
  def gopherRules(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val stopSum = GopherStops
      .map(w => s"CAST(array_contains(t, '$w') AS INT)").mkString(" + ")
    docsWide(spark, dir)
      .select($"doc_id", tok.as("t"), $"text")
      .select($"doc_id",
        size($"t").cast("long").as("n_words"),
        length(regexp_replace($"text", " ", "")).cast("long").as("sum_word_len"),
        expr("CAST(size(regexp_extract_all(text, '#|\\\\.\\\\.\\\\.', 0)) AS BIGINT)")
          .as("n_symbols"),
        expr("CAST(size(filter(t, x -> x rlike '[a-zA-Z]')) AS BIGINT)")
          .as("n_alpha_words"),
        expr(s"CAST($stopSum AS BIGINT)").as("n_stop_kinds"))
      .withColumn("rule_word_count", $"n_words" >= 50L && $"n_words" <= 100000L)
      .withColumn("rule_mean_len",
        lit(3L) * $"n_words" <= $"sum_word_len" &&
          $"sum_word_len" <= lit(10L) * $"n_words")
      .withColumn("rule_symbol", lit(10L) * $"n_symbols" < $"n_words")
      .withColumn("rule_alpha", lit(10L) * $"n_alpha_words" >= lit(7L) * $"n_words")
      .withColumn("rule_stop", $"n_stop_kinds" >= 2L)
      .withColumn("keep",
        $"rule_word_count" && $"rule_mean_len" && $"rule_symbol" &&
          $"rule_alpha" && $"rule_stop")
      .orderBy($"doc_id")
  }

  /** CROSS-DOC duplicate n-gram coverage (the RefinedWeb /
    * MassiveText "duplicate n-gram character fraction" restated over
    * token positions, arXiv:2306.01116 §G): per document, the ppm of
    * trigram POSITIONS whose word-trigram also occurs in at least one
    * OTHER document. [[repetition]] measures intra-doc self-repetition;
    * this measures how much of a doc is corpus-duplicated material —
    * the signal behind "remove docs that are mostly boilerplate even
    * if no single whole-doc duplicate exists". Every occurrence
    * position counts (not distinct shingles): a doc that repeats one
    * syndicated paragraph ten times is 10× covered by it.
    *
    * Scale shape: the duplicated-shingle set comes from one
    * distinct-(doc, shingle) aggregate with distinct-doc df ≥ 2 — a
    * posting count, no pair expansion, so no df cap is needed (unlike
    * the pair cores, a semi-join can't go quadratic on a hot
    * shingle); position coverage is a shingle-keyed semi-join back,
    * then a per-doc count. Three shuffles total, all on data-scaled
    * keys. At 100 TB the shingle strings ride as the 60-bit md5-prefix
    * keys ([[Dedup]]'s posting-key compression) — kept as strings here
    * so the metric stays self-contained.
    */
  def dupCoverage(spark: SparkSession, dir: String): DataFrame =
    dupCoverageOf(docsWide(spark, dir))

  /** [[dupCoverage]]'s core over any `(doc_id, text)` frame. */
  def dupCoverageOf(d: DataFrame): DataFrame = {
    val spark = d.sparkSession
    import spark.implicits._
    val toks = d.select($"doc_id", tok.as("t"))
    // all trigram positions (i = 1 .. n-2), occurrence-counted
    val pos = toks.filter(size($"t") >= 3)
      .select($"doc_id", explode(expr(
        "transform(sequence(1, size(t) - 2), i -> concat(t[i-1], ' ', t[i], ' ', t[i+1]))"))
        .as("shingle"))
    val nPos = toks.select($"doc_id",
      greatest(size($"t") - 2, lit(0)).cast("long").as("n_pos"))
    // collapse occurrence rows to (doc, shingle, cnt) first (guide
    // §2.3, same shape as [[novelty]]): the df election counts the
    // aggregated frame's rows (already one per distinct (doc,
    // shingle)), and the coverage join consumes the same frame — its
    // shingle-keyed exchanges are canonically equal, so the explode
    // runs once and the shingle shuffle carries per-doc-distinct rows
    val posc = pos.groupBy($"doc_id", $"shingle").agg(count(lit(1)).as("cnt"))
    // shingles appearing in ≥ 2 DISTINCT docs
    val dup = posc
      .groupBy($"shingle").agg(count(lit(1)).as("df"))
      .filter($"df" >= 2).select($"shingle")
    val covered = posc.join(dup, Seq("shingle"))
      .groupBy($"doc_id").agg(sum($"cnt").as("n_dup_pos"))
    nPos.join(covered, Seq("doc_id"), "left")
      .select($"doc_id", $"n_pos",
        coalesce($"n_dup_pos", lit(0L)).as("n_dup_pos"))
      .withColumn("dup_ppm", expr(
        "CAST(CASE WHEN n_pos = 0 THEN 0 ELSE (n_dup_pos * 1000000) div n_pos END AS BIGINT)"))
      .orderBy($"doc_id")
  }

  /** [[codeDetect]]'s code-score release bar (ppm of characters that
    * are code punctuation). Planted pseudo-code docs carry the NEGATED
    * id `-(doc_id + 1)` — structurally collision-free against any
    * non-negative fixture id (the [[CoreQueries]] cdcMerge convention;
    * an additive shift would silently collide once real ids grow past
    * it, and both engines would misreport identically so the oracle
    * could not catch it).
    */
  val CodeBarPpm = 30000L

  /** CODE-vs-PROSE detector — the corpus-routing verb behind The
    * Stack / StarCoder-style pipelines (code and prose need different
    * dedup, quality, and mixing treatment, so a corpus build SPLITS
    * them first): per doc the counts of code punctuation ({ } ( ) ; =)
    * as exact character arithmetic (`length(text) − length(replace(…))`
    * per glyph — no regex, both engines replay it), the combined
    * code-punctuation ppm, and the routing verdict against
    * [[CodeBarPpm]]. The word-soup fixture is pure prose, so the
    * surfaced query PLANTS deterministic pseudo-code (the established
    * planting convention): every 25th doc (mod 11) re-arrives
    * brace-wrapped with a `;` suffixed to every word — both engines
    * rebuild the identical planted text, and the detector must route
    * every plant to `code` and every original to `prose` (spec-pinned).
    * A pure projection: zero shuffle at any corpus size.
    */
  def codeDetect(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = docs(spark, dir).select($"doc_id", $"text")
    val planted = base.filter($"doc_id" % 25 === 11)
      .select((-($"doc_id" + 1L)).as("doc_id"),
        concat(lit("{ "),
          array_join(expr("transform(split(text, ' '), w -> concat(w, ';'))"), " "),
          lit(" }")).as("text"))
    def occ(ch: String) =
      (length($"text") - length(expr(s"replace(text, '$ch', '')"))).cast("long")
    base.unionAll(planted)
      .select($"doc_id", length($"text").cast("long").as("n_chars"),
        (occ("{") + occ("}") + occ("(") + occ(")") + occ(";") + occ("=")).as("n_code_chars"))
      .withColumn("code_ppm", expr(
        "CASE WHEN n_chars = 0 THEN 0 ELSE (n_code_chars * 1000000) div n_chars END"))
      .withColumn("is_code", $"code_ppm" >= CodeBarPpm)
      .orderBy($"doc_id")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_code_detect" -> codeDetect _,
    "text_bpe_encode" -> bpeEncode _,
    "text_dup_coverage" -> dupCoverage _,
    "text_gopher_rules" -> gopherRules _,
    "text_fertility" -> fertility _,
    "text_surprise_filter" -> surpriseFilter _,
    "text_chunk_windows" -> chunkWindows _,
    "text_novelty" -> novelty _,
    "text_filter" -> filterDocs _,
    "text_classifier" -> classifyDocs _,
    "text_cms" -> cmsEstimate _,
    "text_trigrams" -> trigramTable _,
    "text_bpe_pairs" -> bpePairs _,
    "text_bpe_train" -> bpeTrain _,
    "text_drop_reasons" -> dropReasons _,
    "text_vocab_coverage" -> vocabCoverage _,
    "text_repetition" -> repetition _,
    "text_winnow" -> winnowFingerprint _,
    "text_shared_spans" -> sharedSpansServed _,
    "text_spans_incremental" -> spansIncremental _,
    "text_top_terms" -> topTerms _,
    "text_tfidf" -> tfidf _,
    "text_lm_surprise" -> lmSurprise _,
    "text_vocab" -> vocab _,
    "text_char_diversity" -> charDiversity _,
    "text_token_stats" -> tokenStats _,
    "text_quality" -> quality _,
    "text_lang_id" -> langId _,
    "text_lang_mix" -> langMix _,
    "text_fingerprint" -> fingerprint _,
  )

  /** DuckDB mirror of [[winnowFingerprint]] + the span df cap —
    * ends in `fps(doc_id, fp)` (each doc's fingerprints distinct)
    * and `kept(fp)` (fingerprints within the [[MaxSpanDf]] posting
    * cap). Shared by the `text_shared_spans` and `graph_*` oracles
    * (the span-sharing pair graph).
    */
  private[operators] val spanFpsCte =
    s"""toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |v AS (SELECT doc_id,
      |        list_transform(t, x ->
      |          CAST((strpos('0123456789abcdef', substr(md5(x), 1, 1)) - 1) * 4096
      |             + (strpos('0123456789abcdef', substr(md5(x), 2, 1)) - 1) * 256
      |             + (strpos('0123456789abcdef', substr(md5(x), 3, 1)) - 1) * 16
      |             + (strpos('0123456789abcdef', substr(md5(x), 4, 1)) - 1) AS BIGINT)) AS vals
      |      FROM toks WHERE len(t) >= 3),
      |h AS (SELECT doc_id,
      |        list_transform(generate_series(1, len(vals) - 2),
      |          i -> vals[i] * 4294967296 + vals[i+1] * 65536 + vals[i+2]) AS hs
      |      FROM v),
      |w AS (SELECT doc_id,
      |        list_distinct(list_transform(generate_series(1, greatest(len(hs) - 3, 1)),
      |          j -> list_min(hs[j:j+3]))) AS fps
      |      FROM h),
      |fps AS (SELECT doc_id, unnest(fps) AS fp FROM w),
      |kept AS (SELECT fp FROM fps GROUP BY fp
      |         HAVING count(*) BETWEEN 2 AND $MaxSpanDf)""".stripMargin

  /** DuckDB mirror of one CMS hash row: the 16-bit md5 slice at
    * character offset `row·4`, as nibble arithmetic (no conv()).
    */
  private def cmsBucketDuck(term: String, row: String): String =
    "((" + (0 until 4).map(j =>
      s"(strpos('0123456789abcdef', substr(md5($term), $row * 4 + ${j + 1}, 1)) - 1) * ${1 << (4 * (3 - j))}")
      .mkString(" + ") + s") % $CmsWidth)"

  /** DuckDB spellings of the marker score and the precedence argmax. */
  private def duckScore(tExpr: String, markers: Seq[String]): String =
    s"CAST(len(list_filter(list_distinct($tExpr), x -> list_contains([${markers.map(m => s"'$m'").mkString(",")}], x))) AS BIGINT)"
  private def duckPredict(tExpr: String): String = {
    val (en, de, es) =
      (duckScore(tExpr, EnMarkers), duckScore(tExpr, DeMarkers), duckScore(tExpr, EsMarkers))
    s"""CASE WHEN $en >= $de AND $en >= $es AND $en > 0 THEN 'en'
       |     WHEN $de >= $es AND $de > 0 THEN 'de'
       |     WHEN $es > 0 THEN 'es'
       |     ELSE 'und' END""".stripMargin
  }

  /** [[bpeTrain]]'s oracle: the [[BpeMerges]] rounds unrolled — per
    * round a pair-count CTE, the rank-1 pick (same (n DESC, pair key)
    * total order), and the `list_reduce` greedy merge fold with the
    * picked pair captured from the cross-joined one-row CTE.
    */
  private def bpeTrainOracle: String = {
    val S = BpeSep
    def round(t: Int) =
      s"""pc$t AS (SELECT pk, CAST(sum(freq) AS BIGINT) AS n FROM (
        |  SELECT freq, unnest(list_transform(generate_series(1, len(string_split(rep, '$S')) - 1),
        |    i -> string_split(rep, '$S')[i] || '$S' || string_split(rep, '$S')[i+1])) AS pk
        |  FROM r${t - 1}) GROUP BY 1),
        |top$t AS (SELECT split_part(pk, '$S', 1) AS a, split_part(pk, '$S', 2) AS b, n
        |          FROM (SELECT *, row_number() OVER (ORDER BY n DESC, pk) AS rn FROM pc$t)
        |          WHERE rn = 1),
        |r$t AS (SELECT freq, list_reduce(string_split(rep, '$S'),
        |          (acc, s) -> CASE WHEN (acc = p.a OR ends_with(acc, '$S' || p.a)) AND s = p.b
        |                           THEN acc || p.b ELSE acc || '$S' || s END) AS rep
        |        FROM r${t - 1}, top$t p)""".stripMargin
    val rounds = (1 to BpeMerges).map(round).mkString(",\n")
    val sel = (1 to BpeMerges).map(t =>
      s"SELECT CAST($t AS BIGINT) AS iter, a AS sym_a, b AS sym_b, n AS n_pair FROM top$t")
      .mkString("\nUNION ALL ")
    s"""WITH wrd AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
      |wf AS (SELECT w, CAST(count(*) AS BIGINT) AS freq FROM wrd
      |       WHERE len(w) > 0 GROUP BY 1),
      |r0 AS (SELECT freq,
      |         array_to_string(list_transform(generate_series(1, len(w)), i -> w[i]), '$S') AS rep
      |       FROM wf),
      |$rounds
      |$sel
      |ORDER BY iter""".stripMargin
  }

  /** [[bpeEncode]]'s oracle: the training rounds re-derived (same
    * unrolling as [[bpeTrainOracle]], MATERIALIZED because every
    * round's tables are referenced twice — once by the next training
    * round, once by the vocabulary-encode chain), then the same
    * greedy fold applied per DISTINCT word and joined back to word
    * occurrences.
    */
  private def bpeEncodeOracle: String = {
    val S = BpeSep
    def round(t: Int) =
      s"""pc$t AS (SELECT pk, CAST(sum(freq) AS BIGINT) AS n FROM (
        |  SELECT freq, unnest(list_transform(generate_series(1, len(string_split(rep, '$S')) - 1),
        |    i -> string_split(rep, '$S')[i] || '$S' || string_split(rep, '$S')[i+1])) AS pk
        |  FROM r${t - 1}) GROUP BY 1),
        |top$t AS MATERIALIZED (SELECT split_part(pk, '$S', 1) AS a, split_part(pk, '$S', 2) AS b, n
        |          FROM (SELECT *, row_number() OVER (ORDER BY n DESC, pk) AS rn FROM pc$t)
        |          WHERE rn = 1),
        |r$t AS MATERIALIZED (SELECT freq, list_reduce(string_split(rep, '$S'),
        |          (acc, s) -> CASE WHEN (acc = p.a OR ends_with(acc, '$S' || p.a)) AND s = p.b
        |                           THEN acc || p.b ELSE acc || '$S' || s END) AS rep
        |        FROM r${t - 1}, top$t p),
        |v$t AS MATERIALIZED (SELECT w, list_reduce(string_split(rep, '$S'),
        |          (acc, s) -> CASE WHEN (acc = p.a OR ends_with(acc, '$S' || p.a)) AND s = p.b
        |                           THEN acc || p.b ELSE acc || '$S' || s END) AS rep
        |        FROM v${t - 1}, top$t p)""".stripMargin
    val rounds = (1 to BpeMerges).map(round).mkString(",\n")
    s"""WITH wrd AS MATERIALIZED (SELECT doc_id, unnest(string_split(text, ' ')) AS w
      |       FROM documents),
      |wf AS MATERIALIZED (SELECT w, CAST(count(*) AS BIGINT) AS freq FROM wrd
      |       WHERE len(w) > 0 GROUP BY 1),
      |r0 AS MATERIALIZED (SELECT freq,
      |         array_to_string(list_transform(generate_series(1, len(w)), i -> w[i]), '$S') AS rep
      |       FROM wf),
      |v0 AS MATERIALIZED (SELECT w,
      |         array_to_string(list_transform(generate_series(1, len(w)), i -> w[i]), '$S') AS rep
      |       FROM wf),
      |$rounds,
      |wl AS (SELECT w, CAST(len(w) AS BIGINT) AS n_chars,
      |         CAST(len(string_split(rep, '$S')) AS BIGINT) AS n_sym
      |       FROM v$BpeMerges)
      |SELECT o.doc_id, CAST(count(*) AS BIGINT) AS n_words,
      |       CAST(sum(l.n_chars) AS BIGINT) AS n_chars,
      |       CAST(sum(l.n_sym) AS BIGINT) AS n_bpe_tokens,
      |       CAST((sum(l.n_sym) * 1000000) // sum(l.n_chars) AS BIGINT) AS tok_per_char_ppm
      |FROM wrd o JOIN wl l ON l.w = o.w
      |GROUP BY 1 ORDER BY doc_id""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "text_code_detect" ->
      s"""WITH cdbase AS (SELECT doc_id, text FROM documents),
        |cdplant AS (SELECT -(doc_id + 1) AS doc_id,
        |              '{ ' || array_to_string(list_transform(string_split(text, ' '),
        |                w -> w || ';'), ' ') || ' }' AS text
        |            FROM cdbase WHERE doc_id % 25 = 11),
        |cda AS (SELECT * FROM cdbase UNION ALL SELECT * FROM cdplant),
        |cdc AS (SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_chars,
        |          CAST(strlen(text) - strlen(replace(text, '{', ''))
        |             + strlen(text) - strlen(replace(text, '}', ''))
        |             + strlen(text) - strlen(replace(text, '(', ''))
        |             + strlen(text) - strlen(replace(text, ')', ''))
        |             + strlen(text) - strlen(replace(text, ';', ''))
        |             + strlen(text) - strlen(replace(text, '=', '')) AS BIGINT) AS n_code_chars
        |        FROM cda)
        |SELECT doc_id, n_chars, n_code_chars,
        |       CAST(CASE WHEN n_chars = 0 THEN 0
        |            ELSE (n_code_chars * 1000000) // n_chars END AS BIGINT) AS code_ppm,
        |       CASE WHEN n_chars = 0 THEN 0
        |            ELSE (n_code_chars * 1000000) // n_chars END >= $CodeBarPpm AS is_code
        |FROM cdc ORDER BY doc_id""".stripMargin,
    "text_bpe_encode" -> bpeEncodeOracle,
    "text_chunk_windows" ->
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |x AS (SELECT doc_id, t,
        |        unnest(generate_series(0,
        |          CAST(greatest(0, ceil((len(t) - $WindowTokens) / $WindowStride.0)) AS BIGINT))) AS win_idx
        |      FROM w)
        |SELECT doc_id, win_idx,
        |       CAST(len(list_slice(t, CAST(win_idx * $WindowStride + 1 AS INT),
        |                           CAST(win_idx * $WindowStride + $WindowTokens AS INT))) AS BIGINT) AS n_tok,
        |       md5(array_to_string(list_slice(t, CAST(win_idx * $WindowStride + 1 AS INT),
        |                           CAST(win_idx * $WindowStride + $WindowTokens AS INT)), ' ')) AS win_fp
        |FROM x ORDER BY doc_id, win_idx""".stripMargin,
    "text_vocab_coverage" ->
      s"""WITH terms AS (SELECT unnest(string_split(text, ' ')) AS term FROM documents),
        |tot AS (SELECT count(*) AS total FROM terms),
        |a AS (SELECT term, count(*) AS cnt FROM terms GROUP BY 1),
        |top AS (SELECT *, CAST(row_number() OVER (ORDER BY cnt DESC, term) AS BIGINT) AS r
        |        FROM (SELECT * FROM a ORDER BY cnt DESC, term LIMIT $VocabTopV)),
        |c AS (SELECT ${CoveragePoints.map(v =>
              s"CAST(sum(CASE WHEN r <= $v THEN cnt END) AS BIGINT) AS c$v").mkString(", ")}
        |      FROM top)
        |SELECT v, covered, total,
        |       CAST((CAST(covered AS HUGEINT) * 1000000) // total AS BIGINT) AS share_ppm
        |FROM (
        |  ${CoveragePoints.map(v =>
             s"SELECT CAST($v AS BIGINT) AS v, c$v AS covered, tot.total FROM c, tot")
             .mkString("\n  UNION ALL ")}
        |) ORDER BY v""".stripMargin,
    "text_lang_mix" ->
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |h AS (SELECT doc_id, t[1:len(t)//2] AS h1, t[len(t)//2+1:len(t)] AS h2 FROM toks),
        |p AS (SELECT doc_id,
        |        ${duckPredict("h1")} AS lang_a,
        |        ${duckPredict("h2")} AS lang_b
        |      FROM h)
        |SELECT doc_id, lang_a, lang_b,
        |       (lang_a <> lang_b AND lang_a <> 'und' AND lang_b <> 'und') AS mixed
        |FROM p ORDER BY doc_id""".stripMargin,
    "text_novelty" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |tg AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 2),
        |         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS trigram
        |       FROM w WHERE len(t) >= 3),
        |f AS (SELECT trigram, min(doc_id) AS first_doc FROM tg GROUP BY 1)
        |SELECT tg.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |       CAST(sum(CASE WHEN f.first_doc = tg.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
        |       CAST(sum(CASE WHEN f.first_doc = tg.doc_id THEN 1 ELSE 0 END) * 1000000
        |            // count(*) AS BIGINT) AS novelty_ppm
        |FROM tg JOIN f USING (trigram)
        |GROUP BY 1 ORDER BY tg.doc_id""".stripMargin,
    "text_trigrams" ->
      s"""WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
        |tg AS (SELECT unnest(list_transform(generate_series(1, len(t) - 2),
        |         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS trigram
        |       FROM toks WHERE len(t) >= 3),
        |a AS (SELECT trigram, count(*) AS cnt FROM tg GROUP BY 1),
        |top AS (SELECT * FROM a ORDER BY cnt DESC, trigram LIMIT $TrigramTopN)
        |SELECT CAST(row_number() OVER (ORDER BY cnt DESC, trigram) AS BIGINT) AS rank,
        |       trigram, cnt
        |FROM top ORDER BY rank""".stripMargin,
    "text_bpe_train" -> bpeTrainOracle,
    "text_bpe_pairs" ->
      s"""WITH wd AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        |p AS (SELECT unnest(list_transform(generate_series(1, length(w) - 1),
        |        i -> substr(w, i, 2))) AS pair
        |      FROM wd WHERE length(w) >= 2),
        |c AS (SELECT pair, count(*) AS cnt FROM p GROUP BY 1),
        |top AS (SELECT * FROM c ORDER BY cnt DESC, pair LIMIT $BpePairTopN)
        |SELECT CAST(row_number() OVER (ORDER BY cnt DESC, pair) AS BIGINT) AS rank,
        |       pair, cnt
        |FROM top ORDER BY rank""".stripMargin,
    "text_drop_reasons" ->
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
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
        |  FROM base b LEFT JOIN tops t USING (doc_id)),
        |v AS (
        |  SELECT doc_id, CASE WHEN n_words < $MinWords THEN 'too_short'
        |                      WHEN dup_ratio >= $MaxDupRatio THEN 'repetitive'
        |                      WHEN bigram_ratio >= $MaxTopBigramRatio THEN 'boilerplate'
        |                      ELSE 'keep' END AS verdict
        |  FROM sig)
        |SELECT d.source, v.verdict, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(len(string_split(d.text, ' '))) AS BIGINT) AS n_tokens
        |FROM documents d JOIN v USING (doc_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "text_cms" ->
      s"""WITH terms AS (SELECT unnest(string_split(text, ' ')) AS term FROM documents),
        |cells AS (SELECT term, unnest(generate_series(0, ${CmsRows - 1})) AS row FROM terms),
        |cb AS (SELECT row, ${cmsBucketDuck("term", "row")} AS bucket FROM cells),
        |sketch AS (SELECT row, bucket, count(*) AS c FROM cb GROUP BY 1, 2),
        |exact AS (SELECT term, count(*) AS exact_cnt FROM terms GROUP BY 1),
        |top AS (SELECT * FROM exact ORDER BY exact_cnt DESC, term LIMIT 20),
        |probes AS (SELECT term, exact_cnt, unnest(generate_series(0, ${CmsRows - 1})) AS row
        |           FROM top),
        |pb AS (SELECT term, exact_cnt, row, ${cmsBucketDuck("term", "row")} AS bucket
        |       FROM probes),
        |est AS (SELECT term, exact_cnt, min(c) AS cms_est
        |        FROM pb JOIN sketch USING (row, bucket) GROUP BY 1, 2)
        |SELECT term, exact_cnt, cms_est, cms_est - exact_cnt AS overcount
        |FROM est ORDER BY term""".stripMargin,
    "text_classifier" ->
      s"""WITH w AS (SELECT i AS bucket, i % 21 - 10 AS weight
        |           FROM generate_series(0, ${ClassifierBuckets - 1}) t(i)),
        |terms AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |b AS (SELECT doc_id,
        |        CAST((strpos('0123456789abcdef', substr(md5(term), 1, 1)) - 1) * 16
        |           + (strpos('0123456789abcdef', substr(md5(term), 2, 1)) - 1) AS BIGINT) AS bucket
        |      FROM terms)
        |SELECT doc_id, count(*) AS n_terms,
        |       CAST(sum(weight) AS BIGINT) AS score,
        |       sum(weight) >= 0 AS label
        |FROM b JOIN w USING (bucket)
        |GROUP BY 1 ORDER BY doc_id""".stripMargin,
    "text_lm_surprise" ->
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |bg AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 1),
        |         i -> t[i] || ' ' || t[i + 1])) AS bigram
        |       FROM toks WHERE len(t) >= 2),
        |freq AS (SELECT bigram, count(*) AS f FROM bg GROUP BY 1),
        |tot AS (SELECT count(*) AS n FROM bg)
        |SELECT doc_id, count(*) AS n_bigrams,
        |       CAST(sum(($SurpriseScale * tot.n) // f) AS BIGINT) AS surprise_sum,
        |       CAST(CAST(sum(($SurpriseScale * tot.n) // f) AS HUGEINT) // count(*) AS BIGINT) AS surprise_e6
        |FROM bg JOIN freq USING (bigram) CROSS JOIN tot
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "text_fertility" ->
      """WITH d AS (SELECT source, CAST(strlen(text) AS BIGINT) AS n_bytes,
        |             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        |             CAST((strlen(text) + 3) // 4 AS BIGINT) AS n_bpe
        |           FROM documents),
        |a AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |        CAST(sum(n_bytes) AS BIGINT) AS n_bytes,
        |        CAST(sum(n_words) AS BIGINT) AS n_words,
        |        CAST(sum(n_bpe) AS BIGINT) AS n_bpe
        |      FROM d GROUP BY 1)
        |SELECT source, n_docs, n_bytes, n_words, n_bpe,
        |       CAST(CAST(n_bpe AS HUGEINT) * 1000000 // n_words AS BIGINT) AS bpe_per_word_ppm,
        |       CAST(CAST(n_bytes AS HUGEINT) * 1000000 // n_bpe AS BIGINT) AS bytes_per_bpe_ppm
        |FROM a ORDER BY source""".stripMargin,
    "text_surprise_filter" ->
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |bg AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 1),
        |         i -> t[i] || ' ' || t[i + 1])) AS bigram
        |       FROM toks WHERE len(t) >= 2),
        |freq AS (SELECT bigram, count(*) AS f FROM bg GROUP BY 1),
        |tot AS (SELECT count(*) AS n FROM bg),
        |s AS (SELECT doc_id,
        |        CAST(CAST(sum(($SurpriseScale * tot.n) // f) AS HUGEINT) // count(*) AS BIGINT) AS surprise_e6
        |      FROM bg JOIN freq USING (bigram) CROSS JOIN tot GROUP BY doc_id),
        |v AS (SELECT d.source,
        |        CASE WHEN s.surprise_e6 IS NULL THEN 'short'
        |             WHEN s.surprise_e6 >= $SurpriseCut THEN 'drop_surprising'
        |             ELSE 'keep' END AS verdict,
        |        CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tok
        |      FROM documents d LEFT JOIN s ON d.doc_id = s.doc_id)
        |SELECT source, verdict, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_tok) AS BIGINT) AS n_tokens
        |FROM v GROUP BY 1, 2 ORDER BY source, verdict""".stripMargin,
    "text_filter" ->
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
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
        |  FROM base b LEFT JOIN tops t USING (doc_id)),
        |v AS (
        |  SELECT *, CASE WHEN n_words < $MinWords THEN 'too_short'
        |                 WHEN dup_ratio >= $MaxDupRatio THEN 'repetitive'
        |                 WHEN bigram_ratio >= $MaxTopBigramRatio THEN 'boilerplate'
        |                 ELSE 'keep' END AS verdict
        |  FROM sig)
        |SELECT doc_id, n_words, dup_ratio, bigram_ratio, verdict,
        |       verdict = 'keep' AS keep
        |FROM v ORDER BY doc_id""".stripMargin,
    "text_repetition" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |base AS (SELECT doc_id, len(t) AS n_words, len(list_distinct(t)) AS n_distinct FROM w),
        |bg AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 1),
        |         i -> t[i] || ' ' || t[i + 1])) AS bigram
        |       FROM w WHERE len(t) >= 2),
        |bc AS (SELECT doc_id, bigram, count(*) AS c FROM bg GROUP BY 1, 2),
        |tops AS (SELECT doc_id, max(c) AS top_c FROM bc GROUP BY 1)
        |SELECT b.doc_id, b.n_words,
        |       (b.n_words - b.n_distinct) * 1.0 / b.n_words AS dup_word_ratio,
        |       t.top_c * 1.0 / (b.n_words - 1) AS top_bigram_ratio
        |FROM base b LEFT JOIN tops t USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "text_winnow" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |v AS (SELECT doc_id,
        |        list_transform(t, x ->
        |          CAST((strpos('0123456789abcdef', substr(md5(x), 1, 1)) - 1) * 4096
        |             + (strpos('0123456789abcdef', substr(md5(x), 2, 1)) - 1) * 256
        |             + (strpos('0123456789abcdef', substr(md5(x), 3, 1)) - 1) * 16
        |             + (strpos('0123456789abcdef', substr(md5(x), 4, 1)) - 1) AS BIGINT)) AS vals
        |      FROM toks WHERE len(t) >= 3),
        |h AS (SELECT doc_id,
        |        list_transform(generate_series(1, len(vals) - 2),
        |          i -> vals[i] * 4294967296 + vals[i+1] * 65536 + vals[i+2]) AS hs
        |      FROM v),
        |w AS (SELECT doc_id,
        |        list_distinct(list_transform(generate_series(1, greatest(len(hs) - 3, 1)),
        |          j -> list_min(hs[j:j+3]))) AS fps
        |      FROM h)
        |SELECT doc_id, unnest(fps) AS fp FROM w ORDER BY doc_id, fp""".stripMargin,
    "text_shared_spans" ->
      s"""WITH $spanFpsCte
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       CAST(count(*) AS BIGINT) AS n_shared_spans
        |FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |JOIN kept k ON k.fp = a.fp
        |GROUP BY 1, 2 ORDER BY doc_a, doc_b""".stripMargin,
    "text_spans_incremental" ->
      s"""WITH $spanFpsCte,
        |fn AS (SELECT doc_id, fp FROM fps WHERE doc_id % 2 = 1),
        |fs AS (SELECT doc_id, fp FROM fps WHERE doc_id % 2 = 0),
        |cn AS (SELECT fp, count(*) AS c FROM fn GROUP BY 1),
        |cs AS (SELECT fp, count(*) AS c FROM fs GROUP BY 1),
        |nn AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |         CAST(count(*) AS BIGINT) AS n_shared_spans
        |       FROM fn a JOIN fn b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |       JOIN cn ON cn.fp = a.fp AND cn.c BETWEEN 2 AND $MaxSpanDf
        |       GROUP BY 1, 2),
        |ns AS (SELECT least(a.doc_id, b.doc_id) AS doc_a,
        |         greatest(a.doc_id, b.doc_id) AS doc_b,
        |         CAST(count(*) AS BIGINT) AS n_shared_spans
        |       FROM fn a JOIN fs b ON a.fp = b.fp
        |       JOIN cn ON cn.fp = a.fp AND cn.c <= $MaxSpanDf
        |       JOIN cs ON cs.fp = a.fp AND cs.c <= $MaxSpanDf
        |       GROUP BY 1, 2)
        |SELECT doc_a, doc_b, n_shared_spans FROM nn
        |UNION ALL
        |SELECT doc_a, doc_b, n_shared_spans FROM ns
        |ORDER BY doc_a, doc_b""".stripMargin,
    "text_top_terms" ->
      """WITH terms AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |f AS (SELECT doc_id, term, count(*) AS tf FROM terms
        |      WHERE term NOT IN ('the', 'a') GROUP BY 1, 2),
        |d AS (SELECT term, count(DISTINCT doc_id) AS df FROM f GROUP BY 1),
        |r AS (SELECT f.doc_id, f.term, f.tf, d.df,
        |        CAST(row_number() OVER (PARTITION BY f.doc_id ORDER BY f.tf DESC, f.term) AS BIGINT) AS rnk
        |      FROM f JOIN d USING (term))
        |SELECT doc_id, term, tf, df, rnk FROM r WHERE rnk <= 3
        |ORDER BY doc_id, rnk""".stripMargin,
    "text_tfidf" ->
      s"""WITH terms AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |f AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
        |d AS (SELECT term, count(*) AS df FROM f GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |r AS (SELECT f.doc_id, f.term, f.tf, d.df,
        |        f.tf * (($IdfScale * (SELECT n_docs FROM n)) // d.df) AS score
        |      FROM f JOIN d USING (term)),
        |k AS (SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
        |        ORDER BY score DESC, term) AS BIGINT) AS rn FROM r)
        |SELECT doc_id, term, tf, df, score, rn FROM k WHERE rn <= 5
        |ORDER BY doc_id, rn""".stripMargin,
    "text_char_diversity" ->
      """WITH ch AS (SELECT doc_id,
        |       unnest(list_transform(generate_series(1, length(text)),
        |         i -> substr(text, i, 1))) AS ch
        |     FROM documents),
        |c AS (SELECT doc_id, ch, count(*) AS c FROM ch GROUP BY 1, 2),
        |a AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_chars,
        |        count(*) AS n_distinct_chars,
        |        CAST(sum(c * c) AS BIGINT) AS ss
        |      FROM c GROUP BY 1)
        |SELECT doc_id, n_chars, n_distinct_chars,
        |       (n_chars * n_chars - ss) * 1.0 / (n_chars * n_chars) AS gini
        |FROM a ORDER BY doc_id""".stripMargin,
    "text_vocab" ->
      s"""WITH terms AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |a AS (SELECT term, count(*) AS cnt, count(DISTINCT doc_id) AS df
        |      FROM terms GROUP BY 1),
        |tot AS (SELECT count(*) AS t FROM terms),
        |top AS (SELECT * FROM a ORDER BY cnt DESC, term LIMIT $VocabTopV)
        |SELECT CAST(row_number() OVER (ORDER BY cnt DESC, term) AS BIGINT) AS rank,
        |       term, cnt, df, cnt * 1.0 / (SELECT t FROM tot) AS share
        |FROM top ORDER BY rank""".stripMargin,
    "text_dup_coverage" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |dcpos AS (SELECT doc_id,
        |            unnest(list_transform(generate_series(1, len(t) - 2),
        |              i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
        |          FROM toks WHERE len(t) >= 3),
        |dcnp AS (SELECT doc_id,
        |           CAST(CASE WHEN len(t) >= 3 THEN len(t) - 2 ELSE 0 END AS BIGINT) AS n_pos
        |         FROM toks),
        |dcdup AS (SELECT shingle FROM (SELECT DISTINCT doc_id, shingle FROM dcpos)
        |          GROUP BY shingle HAVING count(*) >= 2),
        |dccov AS (SELECT p.doc_id, CAST(count(*) AS BIGINT) AS n_dup_pos
        |          FROM dcpos p JOIN dcdup d ON d.shingle = p.shingle
        |          GROUP BY 1)
        |SELECT n.doc_id, n.n_pos,
        |       COALESCE(c.n_dup_pos, 0) AS n_dup_pos,
        |       CAST(CASE WHEN n.n_pos = 0 THEN 0
        |            ELSE (COALESCE(c.n_dup_pos, 0) * 1000000) // n.n_pos
        |       END AS BIGINT) AS dup_ppm
        |FROM dcnp n LEFT JOIN dccov c ON c.doc_id = n.doc_id
        |ORDER BY n.doc_id""".stripMargin,
    "text_gopher_rules" -> {
      val stopSum = GopherStops
        .map(w => s"CAST(list_contains(t, '$w') AS INT)").mkString(" + ")
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t, text FROM documents),
        |base AS (
        |  SELECT doc_id,
        |         len(t) AS n_words,
        |         CAST(length(replace(text, ' ', '')) AS BIGINT) AS sum_word_len,
        |         CAST(len(regexp_extract_all(text, '#|\\.\\.\\.', 0)) AS BIGINT) AS n_symbols,
        |         CAST(len(list_filter(t, x -> regexp_matches(x, '[a-zA-Z]'))) AS BIGINT) AS n_alpha_words,
        |         CAST($stopSum AS BIGINT) AS n_stop_kinds
        |  FROM toks)
        |SELECT doc_id, n_words, sum_word_len, n_symbols, n_alpha_words, n_stop_kinds,
        |       n_words >= 50 AND n_words <= 100000 AS rule_word_count,
        |       3 * n_words <= sum_word_len AND sum_word_len <= 10 * n_words AS rule_mean_len,
        |       10 * n_symbols < n_words AS rule_symbol,
        |       10 * n_alpha_words >= 7 * n_words AS rule_alpha,
        |       n_stop_kinds >= 2 AS rule_stop,
        |       (n_words >= 50 AND n_words <= 100000)
        |         AND (3 * n_words <= sum_word_len AND sum_word_len <= 10 * n_words)
        |         AND (10 * n_symbols < n_words)
        |         AND (10 * n_alpha_words >= 7 * n_words)
        |         AND (n_stop_kinds >= 2) AS keep
        |FROM base ORDER BY doc_id""".stripMargin
    },
    "text_token_stats" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t, text FROM documents)
        |SELECT doc_id,
        |       len(t) AS n_tokens,
        |       len(list_distinct(t)) AS n_types,
        |       CAST(list_aggregate(list_transform(t, x -> CAST(length(x) AS BIGINT)), 'sum') AS BIGINT) AS sum_token_len,
        |       len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)) AS n_bpe_tokens,
        |       list_aggregate(list_transform(t, x -> CAST(length(x) AS BIGINT)), 'sum') * 1.0 / len(t) AS avg_token_len
        |FROM toks ORDER BY doc_id""".stripMargin,
    "text_quality" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t, text FROM documents)
        |SELECT doc_id,
        |       CAST(length(text) AS BIGINT) AS n_chars,
        |       len(t) AS n_tokens,
        |       CAST(len(list_filter(t, x -> x = 'the' OR x = 'a')) AS BIGINT) AS n_stopwords,
        |       len(list_distinct(t)) * 1.0 / len(t) AS type_token_ratio,
        |       CAST(len(list_filter(t, x -> x = 'the' OR x = 'a')) AS BIGINT) * 1.0 / len(t) AS stopword_ratio,
        |       CASE WHEN len(t) >= 40 AND CAST(len(list_filter(t, x -> x = 'the' OR x = 'a')) AS BIGINT) * 1.0 / len(t) < 0.2 THEN 'good'
        |            WHEN len(t) >= 15 THEN 'fair'
        |            ELSE 'low' END AS grade
        |FROM toks ORDER BY doc_id""".stripMargin,
    "text_lang_id" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |scores AS (
        |  SELECT doc_id,
        |         CAST(len(list_filter(list_distinct(t), x -> list_contains(['the','a','of','and'], x))) AS BIGINT) AS s_en,
        |         CAST(len(list_filter(list_distinct(t), x -> list_contains(['der','die','das','und'], x))) AS BIGINT) AS s_de,
        |         CAST(len(list_filter(list_distinct(t), x -> list_contains(['el','la','los','y'], x))) AS BIGINT) AS s_es
        |  FROM toks)
        |SELECT doc_id, s_en, s_de, s_es,
        |       CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en > 0 THEN 'en'
        |            WHEN s_de >= s_es AND s_de > 0 THEN 'de'
        |            WHEN s_es > 0 THEN 'es'
        |            ELSE 'und' END AS predicted_lang
        |FROM scores ORDER BY doc_id""".stripMargin,
    "text_fingerprint" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t, text FROM documents)
        |SELECT doc_id,
        |       md5(text) AS exact_md5,
        |       md5(array_to_string(list_sort(t), ' ')) AS bag_md5,
        |       md5(array_to_string(t[1:5], ' ')) AS head_md5
        |FROM toks ORDER BY doc_id""".stripMargin,
  )
}
