package graft.tools

/** Regenerates the committed golden fixtures under `fixtures/`.
  *
  * `fixtures/votes_dsv2/`: the full row set of the deterministic DSv2
  * vote source at the exact options `src_votes_dsv2` scans
  * (nVoters=5000, seed=42, slices=8). It exists so the one inventory
  * entry with no star-schema analog gets a REAL DuckDB oracle — the
  * oracle SQL aggregates `read_parquet` over this snapshot while Spark
  * aggregates the live DSv2 scan, closing the r11 `no_oracle` gap.
  * VoteSourceSpec pins live-scan ≡ snapshot row-for-row, so the golden
  * file cannot drift silently: change the source, re-run this main,
  * and the spec + oracle move in lockstep.
  *
  * Usage: `sbt "runMain graft.tools.SnapshotFixtures"`
  */
object SnapshotFixtures {

  /** The snapshot the `src_votes_dsv2` oracle reads — an absolute path
    * because the driver's DuckDB session sets no CWD contract.
    */
  val VotesSnapshotDir = "/root/repo/fixtures/votes_dsv2"

  /** The live frame at the snapshot's options — shared by the query,
    * the spec, and this regenerator so the three can never disagree on
    * what "the source" means.
    */
  def liveVotes(spark: org.apache.spark.sql.SparkSession): org.apache.spark.sql.DataFrame =
    spark.read.format("graft.sources.VoteSource")
      .option("nVoters", 5000).option("seed", 42).option("slices", 8)
      .load()

  def main(args: Array[String]): Unit = {
    val spark = graft.engine.Tables.session()
    spark.sparkContext.setLogLevel("WARN")
    // one file: DuckDB's read_parquet glob stays trivial and the
    // committed fixture is a single reviewable blob
    liveVotes(spark).coalesce(1)
      .write.mode("overwrite").parquet(VotesSnapshotDir)
    println(s"[snapshot] wrote $VotesSnapshotDir")
    spark.stop()
  }
}
