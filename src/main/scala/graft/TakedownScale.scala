package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** FIXED-TAKEDOWN scale probe for the document takedown face (the
  * corpus-side delete face's evidence line, mirroring
  * [[ErDeltaFrac]]'s fixed-delta contract): build a streamed cascade
  * store from the `documents` table of the base fixture and each
  * amplified fixture present, then apply the SAME takedown batch — a
  * fixed set of copy-0 near-dup cluster members, derived once from the
  * base store — against the grown store. Printed per dir:
  *
  *  - `build_sec`   — the 4-batch streamed ingest (context, not the
  *    claim; ingest is corpus-scaled by definition)
  *  - `takedown_sec` — the verb under test. Its graph work is scaled
  *    by the affected components (constant here: the batch never
  *    grows), its label swap is a compaction-class corpus-rowed
  *    rewrite — so the curve should be FLAT in the component term and
  *    track the label-table size in the rewrite term, never the band
  *    or pair work of the corpus.
  *  - `serve_pre_sec`/`serve_post_sec` — a full
  *    [[graft.streaming.EventStreams.readCascadeVerdicts]] count
  *    before and after: the read-side keeper correction's overhead
  *    (one key-filtered map-side docs scan) must be noise.
  */
object TakedownScale {
  def main(args: Array[String]): Unit = {
    val base = sys.env.getOrElse("SPARK_GRAFT_SCALE_BASE", "/root/testdata/sf0.1")
    val spark = graft.engine.Tables.session()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val es = graft.streaming.EventStreams
    val dirs = base +: Seq("/root/repo/target/scale10x",
        "/root/repo/target/scale30x", "/root/repo/target/scale100x")
      .filter(d => Files.isDirectory(java.nio.file.Paths.get(d, "part.parquet")))
    // the fixed takedown batch, derived once from the BASE store's
    // labels: members of real near-dup clusters (so the component
    // repair has graph work to do), copy-0 ids (present in every
    // amplified fixture)
    var fixedIds: Seq[Long] = Seq.empty
    for (dir <- dirs) {
      val root = Files.createTempDirectory("graft-takedown-scale").toString
      es.cascadeStoreInit(spark, root)
      val docs = graft.engine.Tables.load(spark, dir, "documents")
        .select($"doc_id", $"text").localCheckpoint()
      val nDocs = docs.count()
      val t0 = System.nanoTime()
      (0 until 4).foreach { k =>
        es.applyCascadeBatch(docs.filter(pmod($"doc_id", lit(4)) === k),
          root, k.toLong)
      }
      val buildSec = (System.nanoTime() - t0) / 1e9
      if (fixedIds.isEmpty) {
        val labels = es.readLabelStore(spark, s"$root/labels")
          .localCheckpoint()
        val multi = labels.groupBy($"cluster_id")
          .agg(count(lit(1)).as("n")).filter($"n" >= 2)
          .select($"cluster_id")
        fixedIds = labels.join(multi, Seq("cluster_id"))
          .select($"doc_id").orderBy($"doc_id")
          .limit(10).collect().map(_.getLong(0)).toSeq
        require(fixedIds.nonEmpty, "base fixture must have near-dup clusters")
      }
      val t1 = System.nanoTime()
      val servePre = es.readCascadeVerdicts(spark, root).count()
      val servePreSec = (System.nanoTime() - t1) / 1e9
      val t2 = System.nanoTime()
      val uncrossed = es.takedownCascadeDocs(spark, root, fixedIds, 0L).count()
      val takedownSec = (System.nanoTime() - t2) / 1e9
      val t3 = System.nanoTime()
      val servePost = es.readCascadeVerdicts(spark, root).count()
      val servePostSec = (System.nanoTime() - t3) / 1e9
      println(s"""{"metric":"takedown_scale","dir":"$dir","docs":$nDocs,""" +
        s""""taken_down":${fixedIds.length},"build_sec":${f(buildSec)},""" +
        s""""takedown_sec":${f(takedownSec)},"uncrossed":$uncrossed,""" +
        s""""serve_pre":$servePre,"serve_pre_sec":${f(servePreSec)},""" +
        s""""serve_post":$servePost,"serve_post_sec":${f(servePostSec)}}""")
      graft.engine.Tables.dropOrphanRdds(spark)
    }
    spark.stop()
  }
  private def f(v: Double): String =
    BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
}
