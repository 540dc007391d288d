package graft

/** AFFECTED-FRACTION probe for catalog-delta re-verdicting (r14
  * verdict #2's scale evidence): for the base fixture and each
  * amplified fixture present under target/, print one JSON line with
  * the affected-mention count, the exact ppm fraction, and the apply
  * wall-clock, for BOTH delta shapes:
  *
  *  - `fixed`  — the PRODUCTION contract: the base fixture's planted
  *    delta applied unchanged against the grown corpus
  *    (ScaleBench's `er_catalog_delta_fixed_batch` work). The
  *    amplifier gives each copy its own token space, so the fraction
  *    must DROP ~copies-fold with amplification — the evidence that
  *    the re-score is delta-scaled, not corpus-scaled, once the token
  *    space outgrows the delta.
  *  - `fixed_tombstone` — the same contract for the DELETE face
  *    (r15): the base fixture's planted delete+rename delta applied
  *    unchanged against the grown corpus; same drop expected (the
  *    delete face adds only a broadcast dangler probe to the apply).
  *  - `scaled` — the surfaced `er_match_catalog_delta` plant, whose
  *    delta grows WITH the catalog (ent_id mod classes over the
  *    amplified fixture); its fraction stays near the base fixture's
  *    degenerate ~10⁶ by construction. The surfaced row's
  *    `affected_ppm` column carries this number per run.
  */
object ErDeltaFrac {
  def main(args: Array[String]): Unit = {
    val base = sys.env.getOrElse("SPARK_GRAFT_SCALE_BASE", "/root/testdata/sf0.1")
    val spark = graft.engine.Tables.session()
    spark.sparkContext.setLogLevel("WARN")
    val er = graft.operators.EntityResolution
    val fixedDelta = er.catalogDeltaOf(spark, base).localCheckpoint()
    val dirs = base +: Seq("/root/repo/target/scale10x", "/root/repo/target/scale30x",
        "/root/repo/target/scale100x")
      .filter(d => java.nio.file.Files.isDirectory(java.nio.file.Paths.get(d, "part.parquet")))
    val fixedTomb = er.catalogTombstoneDeltaOf(spark, base).localCheckpoint()
    for (dir <- dirs; (tag, delta) <- Seq(
        "fixed" -> fixedDelta, "fixed_tombstone" -> fixedTomb,
        "scaled" -> er.catalogDeltaOf(spark, dir))) {
      val m = er.mentions(spark, dir)
      val t0 = System.nanoTime()
      val aff = er.reverdicts(m, er.catalog(spark, dir), delta).count()
      val sec = (System.nanoTime() - t0) / 1e9
      val tot = m.count()
      println(s"""{"metric":"er_delta_frac","dir":"$dir","delta":"$tag","affected":$aff,"mentions":$tot,"ppm":${aff * 1000000L / tot},"apply_sec":${f(sec)}}""")
    }
    spark.stop()
  }
  private def f(v: Double): String =
    BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
}
