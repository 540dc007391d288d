package graft.streaming

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The on-disk format of the streaming-maintained DELTA TREES — the
  * span layout and its fingerprint store, the label store, the matches
  * layout, the catalog and matches stores, the cascade stores and the
  * embedding-cluster stores — stated once. [[EventStreams]] keeps each
  * store's semantics (its folds, replay contract and keeper
  * re-election); this module owns what those stores share:
  *
  *  - the GENERATION grammar. A tree is a directory of parquet
  *    generation directories: `base` or `base_<n>` (a seed or a
  *    compacted base), `b<id>` (the delta micro-batch or catalog delta
  *    `id` wrote) and `cd<id>` (the matches store's re-verdicts for
  *    catalog delta `id`). A replayed batch overwrites its own `b<id>`,
  *    so every write is idempotent per batch id — the Structured
  *    Streaming exactly-once rule for sinks (SIGMOD 2018). Any other
  *    entry (`_keys`, a `_tombstones` ledger, foreign files) is never
  *    listed, folded or moved, and Spark's file index skips
  *    `_`-prefixed paths, so a root read never sees it;
  *  - the part lister and the recursive read every fold scans with;
  *  - compaction with its replay fence, and the one staged swap that
  *    compaction and the rebuilds share;
  *  - the takedown LEDGER: `t<id>` generations, monotonic ids, and the
  *    collected-ids reader every tombstone-aware read filters with;
  *  - the store-side erasure audit.
  */
private[graft] object DeltaTree {

  private val Generation = """base(_\d+)?|b\d+|cd\d+""".r
  private val Numbered = """(b|cd|t)(\d+)""".r

  private def name(p: Path): String = p.getFileName.toString

  /** Immediate subdirectories of `dir`; empty if it does not exist yet. */
  private def subDirs(dir: String): Seq[Path] = {
    val root = Paths.get(dir)
    if (!Files.isDirectory(root)) return Seq.empty
    val s = Files.list(root)
    try s.iterator().asScala.toVector.filter(Files.isDirectory(_))
    finally s.close()
  }

  private def generations(dir: String): Seq[Path] =
    subDirs(dir).filter(p => Generation.matches(name(p)))

  /** The ids of one kind's (`b`, `cd` or `t`) generations under `dir`. */
  def ids(dir: String, kind: String): Seq[Long] =
    subDirs(dir).map(name).collect { case Numbered(`kind`, id) => id.toLong }

  /** The newest `b<id>` delta among `gens`: the one generation
    * `foreachBatch` may still redeliver.
    */
  private def newestBatch(gens: Seq[Path]): Option[Path] =
    gens.flatMap(p => name(p) match {
      case Numbered("b", id) => Some(id.toLong -> p)
      case _ => None
    }).maxByOption(_._1).map(_._2)

  /** The generation directories of `dir`, sorted, minus those whose
    * name `exclude` picks — a replayed write excludes its own delta, so
    * it reads exactly the tree its first attempt read.
    */
  def parts(dir: String, exclude: String => Boolean = _ => false): Seq[String] =
    generations(dir).filterNot(p => exclude(name(p))).map(_.toString).sorted

  /** Read every parquet file under `paths` — a tree root, a ledger, or
    * a list of [[parts]].
    */
  def read(spark: SparkSession, paths: String*): DataFrame =
    spark.read.option("recursiveFileLookup", "true").parquet(paths: _*)

  /** The trigger + staged swap every delta-tree compactor delegates to.
    * Triggers when the delta count — `b<id>` batch deltas AND `cd<id>`
    * re-verdict deltas together — reaches `maxDeltas` OR their data
    * bytes reach `maxDeltaBytes` (DATA files only — `_SUCCESS`/`.crc`
    * bookkeeping would inflate it; the stat pass is skipped under the
    * default unbounded threshold). On trigger the caller writes a fold
    * of exactly the part directories it is handed to the path it is
    * handed, and [[swap]] moves it in as `base_0`.
    *
    * REPLAY FENCE (r14): the NEWEST `b<id>` delta is never folded and
    * never moved — it stays beside the new base. `foreachBatch`
    * redelivers only the last batch, and a between-batches compactor
    * cannot observe whether that batch's checkpoint offset committed:
    * fold its delta into `base_0` and a crash-before-commit → compact →
    * restart sequence would turn the replay's per-directory overwrite
    * into a re-APPEND of rows the base already holds. Left in place, a
    * replay still overwrites `b<id>` idempotently, and the next
    * compaction folds it once a newer batch exists. `cd<id>` deltas
    * fold freely (a re-applied catalog delta recomputes identical rows
    * whose gen outranks the folded base). A tree whose only delta is
    * the fenced one declines: rewriting the base alone reclaims nothing.
    *
    * `includeFenced = true` is the QUIESCED DRAIN: fold the fenced
    * delta too. Only the upsert stores expose it (see
    * [[EventStreams.compactMatchesStore]] for why their replay stays
    * content-idempotent after a drain); append-fold trees never drain.
    *
    * Returns true iff a compaction ran.
    */
  def compact(dir: String, maxDeltas: Int, maxDeltaBytes: Long = Long.MaxValue,
      includeFenced: Boolean = false)(
      writeBase: (String, Seq[String]) => Unit): Boolean = {
    if (!Files.isDirectory(Paths.get(dir))) return false
    recover(dir)
    val gens = generations(dir)
    val deltas = gens.filterNot(p => name(p).startsWith("base"))
    val deltaBytes =
      if (maxDeltaBytes == Long.MaxValue) 0L
      else deltas.flatMap { d =>
        val s = Files.list(d)
        try s.iterator().asScala.toVector finally s.close()
      }.filter(p => Files.isRegularFile(p) && {
        val n = name(p)
        !n.startsWith("_") && !n.startsWith(".")
      }).map(Files.size).sum
    if (deltas.size < maxDeltas && deltaBytes < maxDeltaBytes) return false
    val fenced = if (includeFenced) None else newestBatch(gens)
    if (deltas.forall(fenced.contains)) return false
    val folded = gens.filterNot(fenced.contains)
    swap(dir, folded)(tmp => writeBase(tmp, folded.map(_.toString)))
    true
  }

  /** Rebuild `dir` as ONE base that `writeBase(tmp, kept)` writes to
    * `tmp`, through the same staged [[swap]] as compaction. Every
    * generation is replaced except, with `fenced`, the newest `b<id>`
    * delta (the replay fence), whose path `kept` carries so the new
    * base can stay disjoint from it. Creates `dir` if it is absent.
    */
  def rebuild(dir: String, fenced: Boolean)(
      writeBase: (String, Option[String]) => Unit): Unit = {
    Files.createDirectories(Paths.get(dir))
    recover(dir)
    val gens = generations(dir)
    val kept = if (fenced) newestBatch(gens) else None
    swap(dir, gens.filterNot(kept.contains))(
      tmp => writeBase(tmp, kept.map(_.toString)))
  }

  private def staging(dir: String): Path = Paths.get(dir + ".compacting")
  private def trash(dir: String): Path = Paths.get(dir + ".trash")

  /** Marks a trash that holds EVERY generation its swap replaces. */
  private val TrashComplete = "_COMPLETE"

  /** The staged no-data-loss swap, run single-maintainer between
    * micro-batches: 1. `writeBase` writes the new base to the
    * `<dir>.compacting` sibling, outside the readers' scope; 2. the
    * `replaced` generations move into the `<dir>.trash` sibling, which
    * is then marked complete; 3. the new base moves in as `base_0`;
    * 4. the trash is dropped. At every point each row is on disk, in
    * the tree, the trash or the new base; [[recover]] finishes or
    * undoes a swap a crash interrupted.
    */
  private def swap(dir: String, replaced: Seq[Path])(
      writeBase: String => Unit): Unit = {
    val tmp = staging(dir)
    val bin = trash(dir)
    writeBase(tmp.toString)
    Files.createDirectories(bin)
    replaced.foreach(p => Files.move(p, bin.resolve(name(p))))
    Files.createFile(bin.resolve(TrashComplete))
    Files.move(tmp, Paths.get(dir).resolve("base_0"))
    deleteRecursively(bin)
  }

  /** Bring a tree an interrupted [[swap]] left behind back to one
    * whole state, before anything counts or lists its generations:
    *  - a trash with no staged base beside it: the base already moved
    *    in, drop the trash;
    *  - a complete trash beside a committed staged base (`_SUCCESS`):
    *    finish the move;
    *  - any other trash: the swap stopped while moving generations out
    *    (the tree may still hold some it had folded), so move the
    *    trash's generations back and drop the staged base.
    * Compaction and rebuilds run it first, and so do the upsert
    * stores' batch seams before they read the store they update (an
    * upsert computed against a tree missing its trashed generations
    * would land as a normal generation). Readers between the crash and
    * the recovery see a tree missing the trashed generations; the
    * recovery restores the pre-crash rows.
    */
  def recover(dir: String): Unit = {
    val tmp = staging(dir)
    val bin = trash(dir)
    if (Files.isDirectory(bin) && Files.isDirectory(tmp)) {
      if (Files.exists(bin.resolve(TrashComplete)) &&
          Files.exists(tmp.resolve("_SUCCESS")))
        Files.move(tmp, Paths.get(dir).resolve("base_0"))
      else subDirs(bin.toString).foreach(p =>
        Files.move(p, Paths.get(dir).resolve(name(p))))
    }
    deleteRecursively(bin)
    deleteRecursively(tmp)
  }

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .iterator().asScala.foreach(Files.delete)
      finally s.close()
    }

  /** Refuse a generation id below the newest one already applied (an
    * id equal to the newest is the exact replay of that generation and
    * passes). `what` names the id, `why` what a lower one would break.
    */
  def requireMonotonic(what: String, id: Long, applied: Seq[Long],
      why: String): Unit =
    require(applied.isEmpty || id >= applied.max,
      s"$what $id is below the already-applied generation ${applied.max} — " +
        "ids must be monotonically increasing (equal to the newest = exact " +
        s"replay of that generation); $why")

  /** The takedown ledger of a tree rooted at `root`: `t<id>`
    * generations under `_tombstones` (the `_` prefix keeps the ledger
    * out of every root read of the tree).
    */
  def ledgerOf(root: String): String = s"$root/_tombstones"

  /** Land takedown `tombId` as the `t<tombId>` generation of every
    * ledger in `ledgers`, refusing an id below one any of them already
    * holds: a reused lower id would overwrite an earlier takedown's
    * generation and silently resurrect what it took down. Replaying the
    * newest id overwrites the same directories idempotently. `rows` is
    * evaluated only after the guard passes.
    */
  def appendLedger(tombId: Long, ledgers: String*)(rows: => DataFrame): Unit = {
    requireMonotonic("takedown tombId", tombId, ledgers.flatMap(ids(_, "t")),
      "a reused lower id would overwrite an earlier takedown's ledger " +
        "generation and silently resurrect what it took down")
    val r = rows
    ledgers.foreach(d => r.write.mode("overwrite").parquet(s"$d/t$tombId"))
  }

  /** A ledger's rows; None before its first takedown. */
  def ledger(spark: SparkSession, ledgerDir: String): Option[DataFrame] =
    if (subDirs(ledgerDir).isEmpty) None else Some(read(spark, ledgerDir))

  /** The `idCol` ids a ledger holds, collected — takedown requests are
    * the bounded dimension-delta class, so they push into codegen'd
    * set-membership predicates ([[notTombstoned]]) on every
    * corpus-sized read instead of joining.
    */
  def ledgerIds(spark: SparkSession, ledgerDir: String, idCol: String): Seq[Long] =
    ledger(spark, ledgerDir).fold(Seq.empty[Long])(
      _.select(col(idCol)).distinct().collect().map(_.getLong(0)).toSeq)

  def notTombstoned(c: Column, ids: Seq[Long]): Column =
    if (ids.isEmpty) lit(true) else !c.isInCollection(ids)

  /** `c` is one of `vals` (false for an empty request). */
  def among(c: Column, vals: Seq[Any]): Column =
    if (vals.isEmpty) lit(false) else c.isInCollection(vals)

  /** A STORE-SIDE erasure audit: one `(store, n_raw_rows_referencing)`
    * row per `(store, dir, cond)`, counting the RAW parquet rows under
    * `dir` — every generation, the replay-fenced delta included — where
    * `cond` holds. Audits naming the same directory share ONE
    * conditional-aggregation scan, so no tree is read twice and nothing
    * shuffles. A directory with no generation yet (a ledger before its
    * first takedown) counts 0.
    */
  def erasureAudit(spark: SparkSession,
      audits: (String, String, Column)*): DataFrame = {
    import spark.implicits._
    val counts = audits.map(_._2).distinct.flatMap { dir =>
      val mine = audits.filter(_._2 == dir)
      val aggs = mine.map(a => count(when(a._3, lit(1))))
      val got =
        if (subDirs(dir).isEmpty) aggs.map(_ => 0L)
        else {
          val row = read(spark, dir).agg(aggs.head, aggs.tail: _*).head()
          aggs.indices.map(row.getLong)
        }
      mine.map(_._1).zip(got)
    }.toMap
    audits.map(a => (a._1, counts(a._1))).toDF("store", "n_raw_rows_referencing")
  }
}
