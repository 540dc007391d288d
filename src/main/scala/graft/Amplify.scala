package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** SCALE-AMPLIFICATION fixture generator: a key-shifted self-union of
  * every fixture table into `copies`× the rows, built so the amplified
  * corpus has the same STRUCTURE per unit of data as the original —
  * the input the scaling-exponent study ([[ScaleBench]]) needs.
  *
  * Design rules, per table:
  *
  *  - **Id shifts are multiples of every mod class the operators key
  *    plants on** (doc_id mods {2,3,7,10,11,13,15,20,25} → lcm 300300,
  *    tripled — see [[DocShift]] for the plant-window clearance proof;
  *    p_partkey {3,64} → 20160; vec_id {2,17} → 2040; user_id
  *    {10,30,97,200,1000} → 291000; event_id {2..11,100,250,10000} →
  *    2310000), so every planted population (cascade copies, excerpt
  *    docs, ER noise classes, PII plants) reappears at the same
  *    DENSITY in every copy, and shifted ordinary ids never alias an
  *    operator-planted `id + j·10⁶` image at any copy count.
  *  - **Text copies are token-suffixed** (`w → w‖xk`): within a copy
  *    every dup/near-dup/span relationship of the base corpus is
  *    preserved exactly (suffixing is applied uniformly, so two texts
  *    share a shingle/window iff the originals did), while ACROSS
  *    copies no shingle, chunk, winnow span, or ER blocking key ever
  *    collides — corpus grows 10×, duplicate density stays constant.
  *    The realistic shape: a real 10× crawl brings new content, not
  *    10 literal copies (which would grow posting lists 10× and pair
  *    cores 45× — a quadratic artifact of the copying, not of scale).
  *  - **Embedding copies are signed rotations**: deterministic
  *    per-coordinate sign flips (murmur3 `hash(i, k)` parity) composed
  *    with a k-step cyclic shift. A signed permutation is an isometry,
  *    so every intra-copy cosine/distance equals the base corpus up to
  *    float summation order (stable at the 6-dp rounding all
  *    comparators use — ScaleInvarianceSpec pins exactly that
  *    tolerance) while cross-copy directions genuinely decorrelate — ten
  *    isometric images of the corpus in incompatible orientations. A
  *    bare cyclic shift is NOT enough (measured, r11): shifting by k
  *    leaves every vector's lag-k autocorrelation intact, so vectors
  *    chained to their own images in neighbouring copies — 90% of the
  *    10× near-dup graph's edges were cross-copy artifacts and
  *    components spanned all ten copies. ANN probe sets are fixed
  *    (`vec_id < numQueries` lives only in copy 0), so query count
  *    stays constant while the indexed corpus scales.
  *  - **Dimension tables (region, nation) are NOT amplified** — at
  *    100 TB the fact tables grow and the dims don't; FK columns into
  *    them keep their values.
  *
  * Copy 0 is the identity, so the amplified fixture CONTAINS the
  * original.
  */
object Amplify {
  /** 3 × lcm(2,3,7,10,11,13,15,20,25)=300300 — a multiple of every
    * doc_id mod class the operators key-plant on, chosen so copy-k
    * ordinary ids stay clear of every OPERATOR-planted `id + j·10⁶`
    * window (j ≤ 8: Recrawl 1M … CascadeCase 8M) for ANY copy count:
    * a collision needs d·900900 within ±(2·docCount) of j·10⁶ for
    * some copy distance d, and only d ≤ 8 reaches j ≤ 8·10⁶, where
    * the minimum clearance is 99 100 ≫ the 5 000-doc fixture. The r11
    * value 300300 was safe only to 10 copies — at d=10 it lands 3 000
    * from 3·10⁶ and the ×100 study's copies would alias Excerpt
    * plants.
    */
  val DocShift = 900900L
  val PartShift = 20160L
  val VecShift = 2040L
  val UserShift = 291000L
  val EventShift = 2310000L
  val OrderShift = 150000L
  val CustShift = 15000L
  val SuppShift = 1200L

  /** `w → w‖xkk` per space-separated token (empty tokens kept empty
    * so spacing survives round-trips through split/join). The copy
    * digit is DOUBLED because ER's mention noise truncates a name's
    * last character: a single-digit suffix would truncate to the same
    * `…x` fragment in every copy, merging each copy's rare blocking
    * keys into one over-cap key — measured in r11 as the amplified ER
    * workload silently NOT scaling (postings identical at 10×). With
    * `xkk`, any one-character truncation still ends in the copy digit,
    * so per-copy key populations mirror the base fixture exactly.
    */
  private def suffixWords(colName: String, k: Int): String =
    s"array_join(transform(split($colName, ' '), " +
      s"w -> CASE WHEN w = '' THEN w ELSE concat(w, 'x$k$k') END), ' ')"

  private def copyOf(t: String, df: DataFrame, k: Int): DataFrame =
    if (k == 0) df
    else t match {
      case "documents" => df.selectExpr(
        s"doc_id + ${k * DocShift} AS doc_id",
        s"${suffixWords("text", k)} AS text",
        "lang", "source").selectExpr(
        "doc_id", "text", "lang", "source",
        "CAST(length(text) AS BIGINT) AS n_chars")
      case "embeddings" =>
        // signed rotation: flip coordinate i's sign iff hash(i, k) is
        // odd, then shift by k — see the scaladoc. The transform is
        // inlined twice by the two slices; fixture generation is a
        // one-off over a model-sized table, so the re-evaluation is
        // irrelevant here (it would not be in an operator).
        val signed = s"transform(embedding, (x, i) -> " +
          s"CASE WHEN pmod(hash(i, $k), 2) = 1 THEN -x ELSE x END)"
        // shift by k mod dim: a k ≥ dim copy (the ×100 study) would
        // otherwise slice past the array; the sign pattern already
        // differs per k, so same-shift copies still decorrelate
        val sh = s"pmod($k, size(embedding))"
        df.selectExpr(
          s"vec_id + ${k * VecShift} AS vec_id",
          s"concat(slice($signed, $sh + 1, size(embedding) - $sh), " +
            s"slice($signed, 1, $sh)) AS embedding",
          "label")
      case "part" => df.selectExpr(
        s"p_partkey + ${k * PartShift} AS p_partkey",
        s"${suffixWords("p_name", k)} AS p_name",
        "p_brand", "p_type", "p_size", "p_retailprice")
      case "events" => df.selectExpr(
        s"event_id + ${k * EventShift} AS event_id",
        "ts",
        s"user_id + ${k * UserShift} AS user_id",
        "event_type", "value", "props")
      case "orders" => df.selectExpr(
        s"o_orderkey + ${k * OrderShift} AS o_orderkey",
        s"o_custkey + ${k * CustShift} AS o_custkey",
        "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority")
      case "lineitem" => df.selectExpr(
        s"l_orderkey + ${k * OrderShift} AS l_orderkey",
        s"l_partkey + ${k * PartShift} AS l_partkey",
        s"l_suppkey + ${k * SuppShift} AS l_suppkey",
        "l_linenumber", "l_quantity", "l_extendedprice", "l_discount",
        "l_tax", "l_returnflag", "l_linestatus", "l_shipdate")
      case "customer" => df.selectExpr(
        s"c_custkey + ${k * CustShift} AS c_custkey",
        "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      case "supplier" => df.selectExpr(
        s"s_suppkey + ${k * SuppShift} AS s_suppkey",
        "s_name", "s_nationkey", "s_acctbal")
      case _ => df // region, nation: dimensions don't scale
    }

  val FactTables = Seq("documents", "embeddings", "part", "events",
    "orders", "lineitem", "customer", "supplier")
  val DimTables = Seq("region", "nation")

  /** Write the `copies`× fixture under `outDir` (same `<t>.parquet`
    * naming as the test fixtures, so every operator reads it through
    * the unchanged `Tables.load` path).
    */
  def amplify(spark: SparkSession, baseDir: String, outDir: String,
      copies: Int): Unit = {
    (FactTables ++ DimTables).foreach { t =>
      val base = graft.engine.Tables.load(spark, baseDir, t)
      val n = if (DimTables.contains(t)) 1 else copies
      (0 until n).map(copyOf(t, base, _)).reduce(_ unionAll _)
        .write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    }
  }

  def main(args: Array[String]): Unit = {
    val base = sys.env.getOrElse("SPARK_GRAFT_SCALE_BASE", "/root/testdata/sf0.1")
    val out = sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT", "/root/repo/target/scale10x")
    val copies = sys.env.getOrElse("SPARK_GRAFT_SCALE_COPIES", "10").toInt
    val spark = graft.engine.Tables.session()
    spark.sparkContext.setLogLevel("WARN")
    amplify(spark, base, out, copies)
    println(s"""{"amplified":"$out","base":"$base","copies":$copies}""")
    spark.stop()
  }
}
