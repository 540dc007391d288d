package graft
import org.apache.spark.sql.SparkSession
object Bench {

  /** Code-independent box-speed probe: a fixed CPU-bound codegen
    * kernel plus one fixed shuffle, sizes frozen forever. Run at sweep
    * start AND end, it turns wall-clock totals into comparable numbers
    * across machine-speed epochs (r11: a +31% driver-bench drift was
    * the BOX — the shared host slows after hours of sustained 32-core
    * load — and nearly buried a real −10% code improvement). The probe
    * never touches graft code or the fixture, so its drift can only be
    * the machine's.
    */
  private[graft] def boxProbe(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 150000000L, 1L, 32)
      .selectExpr("xxhash64(id) AS h")
      .selectExpr("sum(h % 1024) AS s").collect()
    spark.range(0L, 20000000L, 1L, 32)
      .selectExpr("id % 1000000 AS k")
      .groupBy("k").count()
      .selectExpr("sum(count) AS s").collect()
    (System.nanoTime() - t0) / 1e9
  }

  /** The probe's WARM wall-clock on this box in the r12 calibration
    * epoch — the FIXED anchor every later round's box_factor is
    * measured against (factor 1.0 = the epoch BENCH_r12 normalized
    * against; >1.0 = the box is slower than that epoch). Warm = after
    * one untimed priming probe; the cold first run carries ~1 s of
    * JIT that has nothing to do with box speed.
    */
  private[graft] val BoxProbeRefSec = 2.0

  /** Serving-shape markers for the append-only ledger (r14 ADVICE): a
    * query key whose measured WORK changed shape between rounds is
    * named here with the round the shape changed, so strict ledger
    * tooling diffing same-key timings across rounds can detect it is
    * comparing different work instead of silently ratioing a loop
    * against a scan. Append, never remove.
    */
  private val ShapeTag: String =
    ""","shapes":{"graph_components":"r14+: serves the derive-once componentLabelsLayout scan (the live loop is benched as dedup_clusters / the scale-study components_loop)"}"""

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.engine.Tables.session()
    // the benched surface is gated by the no-global-window rule, not
    // just by PlanShapeSpec: an accidental Window.orderBy fails the run
    spark.conf.set(graft.plans.ScaleGuard.FailOnGlobalWindow, "true")
    spark.sparkContext.setLogLevel("WARN")
    // per-hop loop tracing for this JVM: when a loop query tail-spikes
    // in a RECORDED run, the stderr log carries the hop-level wall/GC/
    // storage breakdown needed to attribute it (r13 verdict #1)
    System.setProperty("graft.loop.trace", "1")
    // the noop sink materialises every output column AND the final
    // sort/projection — .count() let Catalyst prune both, so a query
    // whose cost lives in its signature columns benched as a row scan
    def run(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Boolean =
      try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          false
      }
    // untimed JVM/codegen warmup so the first timed query doesn't pay
    // session bring-up
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    // deterministic order, a clean heap per query, and one untimed
    // priming run before the timed ones: otherwise JIT warmup and GC
    // pressure from neighbouring queries swing individual timings 3x
    // run-to-run and the numbers measure the schedule, not the query.
    // Each query reports the MEDIAN of 3 timed runs — this box's
    // ambient load swings single runs ±15% (judge-measured in r4 AND
    // r5, both times exceeding the round-over-round delta), so a
    // median is what makes BENCH_r{N} deltas attributable to code
    val timedRuns = 3
    // SPARK_GRAFT_BENCH_ONLY=a,b,c restricts the run to named queries —
    // the dev loop for timing one operator family without the full
    // 15-minute sweep. Filtered runs skip the bench_lines.jsonl append
    // (partial lines would poison round-over-round diffs).
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val benched = only match {
      case Some(names) => SparkEntry.queries.filter(kv => names(kv._1))
      case None => SparkEntry.queries
    }
    // SPARK_GRAFT_SWEEPS=N repeats the whole sweep N times in THIS JVM
    // (default 1 = the driver contract). The variance instrument:
    // same-JVM sweep-over-sweep drift isolates session-state growth
    // (layout caches, ANN models, checkpoint files, JIT state) from
    // the across-JVM environment jitter the r10 verdict asked to
    // characterize — each sweep prints its own full JSON line.
    val sweeps = sys.env.getOrElse("SPARK_GRAFT_SWEEPS", "1").toInt
    // box-speed probe brackets the sweep (skipped for BENCH_ONLY dev
    // runs): both readings land in the JSON so a round-over-round
    // total delta can be attributed to code vs machine epoch. One
    // untimed priming probe first — the cold run pays ~1 s of JIT
    // that would read as a slow box
    val probeStart =
      if (only.isEmpty) { boxProbe(spark); boxProbe(spark) } else -1.0
    // INTRA-SWEEP probes (r12 finding: a single bracketing pair cannot
    // see transient load inside a 15-minute sweep — one sweep
    // normalized the wrong direction): re-probe every ProbeEvery
    // queries so each query gets a NEARBY box reading. ~8 probes × 2 s
    // on a 215-query sweep is the price of per-query normalization
    // that tracks intra-sweep epochs instead of assuming one.
    val ProbeEvery = 25
    def sweep(): (Seq[(String, Double)], Seq[(Int, Double)]) = {
      val probes = scala.collection.mutable.ArrayBuffer[(Int, Double)]()
      val rs = benched.toSeq.sortBy(_._1).zipWithIndex.map { case ((name, fn), i) =>
        if (only.isEmpty && i > 0 && i % ProbeEvery == 0)
          probes += i -> boxProbe(spark)
        spark.catalog.clearCache()
        // drop orphaned RDD blocks (localCheckpoint leftovers) BEFORE
        // the heap is asked for a clean slate — clearCache alone
        // leaves them, and over a 216-query sweep they saturate the
        // 8 GiB JVM's storage pool and put heavy-tailed eviction/GC
        // churn under whichever loop query runs late in the sweep
        // (BENCH_r13: graph_components 13.2 s vs 3.1 s same-code
        // median). SPARK_GRAFT_NO_RDD_DROP restores the r13 behavior
        // for A/B leak accounting.
        val dropped =
          if (sys.env.contains("SPARK_GRAFT_NO_RDD_DROP")) -1
          else graft.engine.Tables.dropOrphanRdds(spark)
        System.gc()
        val gcBefore = graft.engine.Tables.gcMillis()
        val (stBefore, stMax) = graft.engine.Tables.storageBytes(spark)
        val ok = run(name, fn)
        // a failure in ANY run must read as a failure (-1), not as a
        // fast run — a timed run can hit transient errors the priming
        // run didn't
        val times = (1 to timedRuns).map { _ =>
          val t0 = System.nanoTime()
          if (ok && run(name, fn)) (System.nanoTime() - t0) / 1e9 else -1.0
        }
        // per-query attribution line (stderr, not part of the JSON
        // contract): GC time inside this query's window, storage-pool
        // level entering it, and how many orphaned RDDs the boundary
        // cleanup reclaimed — the evidence trail that lets a recorded
        // tail spike be diagnosed from the driver log alone
        System.err.println(
          f"[bench-q] $name gc=${graft.engine.Tables.gcMillis() - gcBefore}ms " +
            f"storage_in=${stBefore / 1e9}%.2f/${stMax / 1e9}%.2fGB dropped_rdds=$dropped " +
            f"runs=${times.map(t => f"$t%.2f").mkString(",")}")
        name -> (if (times.contains(-1.0)) -1.0 else times.sorted.apply(timedRuns / 2))
      }
      (rs, probes.toSeq)
    }
    val allSweeps = (1 to sweeps).map(_ => sweep())
    val results = allSweeps.last._1
    val probeEnd = if (only.isEmpty) boxProbe(spark) else -1.0
    // box_factor > 1 = this box ran slower than the calibration epoch;
    // value/box_factor is the epoch-normalized total
    val boxFactor =
      if (probeStart < 0) -1.0
      else ((probeStart + probeEnd) / 2.0) / BoxProbeRefSec
    // 3-decimal (ms) per-query precision: the full-precision line grew
    // past the driver's log-tail capture window in r8 (BENCH_r08.json
    // recorded parsed:null) — millisecond resolution halves the value
    // bytes and is finer than this box's ±15% ambient swing anyway
    def fmt(v: Double): String =
      if (v < 0) "-1.0" else BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    def lineOf(rs: Seq[(String, Double)], intraProbes: Seq[(Int, Double)],
        sweepTag: String): String = {
      val qs = rs.map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
        .mkString("{", ",", "}")
      // failures must not shrink the total: sum only successful queries
      // and surface the failure count explicitly
      val succeeded = rs.filter(_._2 >= 0)
      val total = succeeded.map(_._2).sum
      val failed = rs.length - succeeded.length
      // the probe LADDER for per-query normalization: the pre-sweep
      // bracket probe anchors index 0, the post-sweep one index n,
      // intra-sweep probes their own positions. Each query normalizes
      // by the NEAREST probe's factor — the bracket-level value_norm
      // stays for round continuity, value_norm_intra is the
      // per-query-normalized total (the more trustworthy one when the
      // box's speed moved DURING the sweep).
      val ladder: Seq[(Int, Double)] =
        if (boxFactor < 0) Seq.empty
        else ((0 -> probeStart) +: intraProbes) :+ (rs.length -> probeEnd)
      def factorAt(i: Int): Double =
        ladder.minBy { case (pi, _) => math.abs(pi - i) }._2 / BoxProbeRefSec
      val box = if (boxFactor < 0) "" else {
        val probesJson = ladder
          .map { case (pi, p) => s""""$pi":${fmt(p)}""" }.mkString("{", ",", "}")
        val qnorm = rs.zipWithIndex.map { case ((k, v), i) =>
          s"\"" + k + "\":" + fmt(if (v < 0) v else v / factorAt(i))
        }.mkString("{", ",", "}")
        val totalIntra = rs.zipWithIndex.collect {
          case ((_, v), i) if v >= 0 => v / factorAt(i)
        }.sum
        s""","probe_start":${fmt(probeStart)},"probe_end":${fmt(probeEnd)},"box_factor":${fmt(boxFactor)},"value_norm":${fmt(total / boxFactor)},"value_norm_intra":${fmt(totalIntra)},"probes":$probesJson,"queries_norm":$qnorm"""
      }
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","failed":$failed$box$sweepTag$ShapeTag,"queries":$qs,"sf":"$sfDir"}"""
    }
    // A/B leak-accounting sweeps (SPARK_GRAFT_NO_RDD_DROP) are tagged
    // so the append-only ledger can't confuse them with contract runs
    val modeTag =
      if (sys.env.contains("SPARK_GRAFT_NO_RDD_DROP")) ""","nodrop":true""" else ""
    // with SWEEPS>1 every earlier sweep prints tagged; the LAST sweep
    // stays the untagged driver-contract line
    allSweeps.init.zipWithIndex.foreach { case ((rs, ps), i) =>
      println(lineOf(rs, ps, s""","sweep":${i + 1}$modeTag"""))
    }
    val succeeded = results.filter(_._2 >= 0)
    val total = succeeded.map(_._2).sum
    val failed = results.length - succeeded.length
    val line = lineOf(results, allSweeps.last._2, modeTag)
    println(line)
    // a compact duplicate as the LAST stdout line: if the tail window
    // still cuts the full line above, a tail-anchored parse finds this
    // one intact; the per-query map survives in bench/bench_lines.jsonl
    val compactBox = if (boxFactor < 0) "" else
      s""","box_factor":${fmt(boxFactor)},"value_norm":${fmt(total / boxFactor)}"""
    val compact =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","failed":$failed$compactBox,"n_queries":${results.length},"queries_file":"bench/bench_lines.jsonl","sf":"$sfDir"}"""
    // the driver's BENCH_r{N}.json keeps only a truncated tail of this
    // line, so round-over-round per-query comparison was impossible
    // from the repo alone — persist every full line (append-only, one
    // JSON object per run) where the next round can diff it
    // anchor at the repo root via an env override so the append can't land
    // in whatever CWD the driver launched sbt from
    if (only.isEmpty) try {
      val benchDir = java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_DIR", "/root/repo/bench"))
      java.nio.file.Files.createDirectories(benchDir)
      val target = benchDir.resolve("bench_lines.jsonl")
      val allLines = allSweeps.init.zipWithIndex
        .map { case ((rs, ps), i) => lineOf(rs, ps, s""","sweep":${i + 1}""") } :+ line
      java.nio.file.Files.writeString(target,
        allLines.mkString("", "\n", "\n"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
      System.err.println(s"[bench] appended bench line to $target")
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] could not persist bench line: ${e.getMessage}")
    }
    println(compact)
    spark.stop()
  }
}
