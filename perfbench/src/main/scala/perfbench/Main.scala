package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Command line of one benchmark JVM (see perfbench/run.py, which
  * builds the classpath, launches this and checks the outputs).
  */
final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
    work: Path, data: String, tiny: Boolean, nproc: Int, fault: Boolean)

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Paths.get(need("work")).toAbsolutePath,
      m.getOrElse("data", ""), m.getOrElse("size", "full") == "tiny",
      Runtime.getRuntime.availableProcessors(),
      m.getOrElse("fault", "0") == "1")
  }
}

/** What a workload hands back: end-to-end metrics, per-layer metrics,
  * the operations it attempted and failed, and notes for the checker.
  */
final class Outcome {
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  val extra = mutable.LinkedHashMap.empty[String, String]
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  def fail(msg: String): Unit = synchronized { failed += 1; failures += msg }
}

/** The shared session and instruments of one run. */
final class Ctx(val opts: Opts) {
  val jvmStartMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime
  val heap = new HeapPeak
  val spark: SparkSession = graft.engine.Tables.session(master = s"local[${opts.nproc}]")
  spark.sparkContext.setLogLevel("ERROR")
  val tracer = new Tracer(opts.trace, spark.sparkContext)
  val jobs = new JobStats
  val planning = new PlanningStats
  val streams = new StreamStats
  spark.streams.addListener(streams)
  if (opts.trace) {
    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(planning)
  }
  setPhase("setup")

  def setPhase(p: String): Unit = spark.sparkContext.setLocalProperty(Tracer.PhaseProp, p)

  /** Seconds from JVM start to now: the set-up time when called just
    * before the first timed operation. */
  def sinceStart(): Double = (System.currentTimeMillis() - jvmStartMs) / 1e3

  def dir(name: String): Path = {
    val p = opts.work.resolve(name)
    Files.createDirectories(p)
    p
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Block until every listener event posted so far was delivered. */
  def drainListeners(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  /** Spark-execution layer metrics of the timed phase, divided by `units`. */
  def sparkLayer(out: Outcome, units: Double): Unit = {
    val t = jobs.phase("timed")
    out.layer("spark.jobs") = t.jobs / units
    out.layer("spark.tasks") = t.tasks / units
    out.layer("spark.task_run_s") = t.runMs / 1e3 / units
    out.layer("spark.shuffle_bytes") = t.shuffleBytes / units
    out.layer("spark.spill_bytes") = t.spillBytes / units
    out.layer("spark.gc_s") = t.gcMs / 1e3 / units
    out.layer("spark.task_failures") = t.taskFailures.toDouble
  }

  def catalystLayer(out: Outcome, fromMs: Long, toMs: Long, units: Double): Unit = {
    val (o, p) = planning.within(fromMs, toMs)
    out.layer("catalyst.optimize_s") = o / units
    out.layer("catalyst.plan_s") = p / units
  }
}

/** Peak retained driver heap: the heap in use right after a full
  * collection, taken at phase boundaries (end of set-up, end of the timed
  * phase) so the collections never fall inside a timed region, and so the
  * reading is the live set rather than the young-generation sawtooth.
  */
final class HeapPeak {
  private var peak = 0L

  /** Collects until two readings agree within 1 MB (at most ten rounds):
    * each collection lets the context cleaner drop the broadcasts and
    * shuffle blocks whose owners the previous one freed, and on a slow
    * host that takes more than one round. */
  def mark(): Unit = {
    def collect(): Long = {
      System.gc()
      Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    var prev = collect()
    var cur = collect()
    var rounds = 2
    while (math.abs(prev - cur) > 1048576L && rounds < 10) {
      prev = cur
      cur = collect()
      rounds += 1
    }
    peak = math.max(peak, cur)
  }

  def peakMb: Double = peak / 1048576.0
}

object Main {
  val Workloads = Seq("dashboard", "vote_stream", "analytics")

  def main(args: Array[String]): Unit = {
    val opts = Opts.parse(args)
    require(Workloads.contains(opts.workload), s"unknown workload ${opts.workload}")
    val ctx = new Ctx(opts)
    val out = opts.workload match {
      case "dashboard" => DashboardWorkload.run(ctx)
      case "vote_stream" => VoteStreamWorkload.run(ctx)
      case "analytics" => AnalyticsWorkload.run(ctx)
    }
    out.e2e("peak_heap_mb") = ctx.heap.peakMb
    if (opts.trace) {
      // every Spark job becomes a child span of the span that launched it
      ctx.jobs.allJobs.foreach(j =>
        ctx.tracer.record(ctx.tracer.newId(), j.span, s"spark.job.${j.id}", j.start * 1000L, j.end * 1000L))
      ctx.tracer.write(opts.work.resolve("spans.jsonl"))
    }
    val spark = ctx.spark
    val env = Seq(
      "seed" -> opts.seed.toString,
      "nproc" -> opts.nproc.toString,
      "master" -> Json.str(spark.sparkContext.master),
      "spark_version" -> Json.str(spark.version),
      "jvm_version" -> Json.str(System.getProperty("java.vm.version")),
      "heap_max_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
      "shuffle_partitions" -> Json.str(spark.conf.get("spark.sql.shuffle.partitions")),
      "aqe_enabled" -> Json.str(spark.conf.get("spark.sql.adaptive.enabled")),
      "aqe_coalesce" -> Json.str(spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")),
      "size" -> Json.str(if (opts.tiny) "tiny" else "full"),
      "trace" -> opts.trace.toString)
    def metrics(m: mutable.LinkedHashMap[String, Double]) =
      Json.obj(m.toSeq.map { case (k, v) => k -> Json.num(v) })
    val json = Json.obj(Seq(
      "workload" -> Json.str(opts.workload),
      "env" -> Json.obj(env),
      "attempted" -> out.attempted.toString,
      "failed" -> out.failed.toString,
      "failures" -> out.failures.map(Json.str).mkString("[", ",", "]"),
      "e2e" -> metrics(out.e2e),
      "layer" -> metrics(out.layer),
      "extra" -> Json.obj(out.extra.toSeq)))
    Files.write(opts.work.resolve("result.json"), json.getBytes("UTF-8"))
    spark.stop()
  }
}
