package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Key-salting for skewed joins (builder brief: "salting for skew").
  * AQE's skew-join splitting covers sort-merge joins at runtime; this
  * is the explicit variant for when the skew is known ahead of time or
  * the join shape AQE can't split (e.g. bucketed/stream-static).
  *
  * The big side gets a random salt in [0, buckets); the small side is
  * replicated once per salt value — turning one hot key's single
  * monster partition into `buckets` even slices.
  */
object Skew {

  /** Inner equi-join `big ⋈ small` on `key`, salted `buckets` ways. */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
      buckets: Int): DataFrame = {
    val bigSalted = big.withColumn("__salt",
      (rand(seed = 7) * buckets).cast("int"))
    val smallReplicated = small.withColumn("__salt",
      explode(sequence(lit(0), lit(buckets - 1))))
    bigSalted
      .join(smallReplicated, Seq(key, "__salt"))
      .drop("__salt")
  }

  /** Key-frequency profile — the diagnostic run BEFORE choosing a
    * salting/broadcast strategy: the `topN` hottest values of a join
    * key with each one's absolute count, corpus share (exact ppm), and
    * multiple of the mean key count (`x_mean_ppm`; 1 000 000 = exactly
    * average — a top key at 20× mean is the one [[saltedJoin]] exists
    * for). Shapes: one key-keyed aggregate over the data, a distributed
    * TakeOrdered for the top-N (per-partition heaps, never a global
    * sort), ranks via `Ranking.boundedRowNumber` on the N-row result,
    * and the (total, n_keys) pair on a broadcast scalar. All shares are
    * exact integer arithmetic.
    */
  def keyProfile(df: DataFrame, key: String, topN: Int): DataFrame = {
    val counts = df.groupBy(col(key)).agg(count(lit(1)).as("cnt"))
    val tot = counts.agg(sum(col("cnt")).as("__total"),
      count(lit(1)).as("__n_keys"))
    val top = counts.orderBy(col("cnt").desc, col(key)).limit(topN)
    graft.operators.Ranking.boundedRowNumber(top, "rank", col("cnt").desc, col(key))
      .crossJoin(broadcast(tot))
      // DECIMAL before multiplying (the trendSlope wrap lesson): at
      // 10¹² rows × 10⁹ keys the ppm numerators pass 2⁶³; `div` on
      // decimals still lands on exact BIGINT
      .withColumn("share_ppm",
        expr("CAST(cnt AS DECIMAL(19,0)) * 1000000 div __total"))
      .withColumn("x_mean_ppm",
        expr("CAST(cnt AS DECIMAL(19,0)) * __n_keys * 1000000 div __total"))
      .select(col("rank"), col(key), col("cnt"), col("share_ppm"), col("x_mean_ppm"))
      .orderBy(col("rank"))
  }

  /** Salted groupBy-count: partial counts per (key, salt), then a
    * second tiny aggregation merges the salt slices. Same result as a
    * direct groupBy(key).count() — but the first shuffle spreads a hot
    * key over `buckets` reducers.
    */
  def saltedCount(df: DataFrame, key: String, buckets: Int): DataFrame = {
    val salted = df.withColumn("__salt", (rand(seed = 7) * buckets).cast("int"))
    salted
      .groupBy(col(key), col("__salt"))
      .agg(count(lit(1)).as("__partial"))
      .groupBy(col(key))
      .agg(sum(col("__partial")).as("count"))
  }
}
