package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Scratch fixture probe (not a suite): scans seeded word pools for a
  * deterministic near-dup BRIDGE shape — two sig-identical pairs
  * {A,B} and {D,E} joined only through a composite doc C — usable by
  * the takedown spec's component-split case. Prints the first seeds
  * whose md5-deterministic minhash draw gives C a shared LSH band with
  * BOTH sides and pairwise est_jaccard >= 0.25, with est(A,D) below
  * 0.2 (the spec threshold).
  */
object BridgeProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.engine.Tables.session("local[8]")
    import spark.implicits._

    def cycleText(words: Seq[String], reps: Int): String =
      Seq.fill(reps)(words).flatten.mkString(" ")

    def sigOf(text: String): Seq[String] = {
      val df = Seq((1L, text)).toDF("doc_id", "text")
      Dedup.signaturesOf(df).select($"sig").head.getSeq[String](0)
    }

    def est(a: Seq[String], b: Seq[String]): Double =
      a.zip(b).count { case (x, y) => x == y } / 16.0

    def bands(s: Seq[String]): Seq[String] =
      s.grouped(4).map(_.mkString).toSeq

    def sharedBand(a: Seq[String], b: Seq[String]): Boolean =
      bands(a).zip(bands(b)).exists { case (x, y) => x == y }

    var found = 0
    var seed = 0
    while (found < 3 && seed < 200) {
      val w1 = (0 until 12).map(i => s"left${seed}w$i")
      val w2 = (0 until 12).map(i => s"right${seed}w$i")
      val sA = sigOf(cycleText(w1, 3))
      val sC = sigOf(cycleText(w1, 3) + " " + cycleText(w2, 3))
      val sD = sigOf(cycleText(w2, 3))
      val eAC = est(sA, sC); val eCD = est(sC, sD); val eAD = est(sA, sD)
      if (sharedBand(sA, sC) && sharedBand(sC, sD) &&
          eAC >= 0.25 && eCD >= 0.25 && eAD < 0.2) {
        println(s"BRIDGE seed=$seed est(A,C)=$eAC est(C,D)=$eCD est(A,D)=$eAD")
        found += 1
      }
      seed += 1
    }
    if (found == 0) println("BRIDGE none found in 200 seeds")

    // embedding side: find two 64-dim basis vectors in the SAME
    // sign-bucket (then their sum is in that bucket by construction —
    // each projection's sign agrees on both, so it agrees on the sum)
    def basis(dim: Int, i: Int): Seq[Float] =
      Seq.tabulate(dim)(k => if (k == i) 1.0f else 0.0f)
    val dim = 64
    val basisDf = (0 until dim).map(i => (i.toLong, basis(dim, i)))
      .toDF("vec_id", "embedding")
    val buckets = graft.operators.Similarity.embWithBucketOf(
        basisDf, Dedup.EmbeddingLshBits)
      .select($"vec_id", $"bucket".cast("string")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    val pairs = (0 until dim).flatMap(i => (i + 1 until dim).map(j => (i, j)))
      .filter { case (i, j) => buckets(i.toLong) == buckets(j.toLong) }
    println(s"EMB same-bucket basis pairs (dim $dim): ${pairs.take(5)}")
    spark.stop()
  }
}
