package graft

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import java.time.LocalDateTime

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.fs.permission.{FsCreateModes, FsPermission}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.engine.{NioLocalFileSystem, Tables}

/** Fixture-schema-drift regression (r8 verdict item #2): the driver has
  * shipped `events.ts` as int64 TIMESTAMP(NANOS) (rounds 1–8) and as
  * native timestamp[us] (round 9+). `Tables.load` must yield identical
  * microsecond TIMESTAMP_NTZ values from every physical encoding it can
  * meet, rather than hard-coding the one it last saw.
  *
  * Also pins the schema memo of `Tables.parquet`: a warm load launches
  * no Spark job, and a rewritten file is read with its new schema; and
  * that `dropOrphanRdds` leaves no dropped broadcast to the cleaner.
  * And pins the session profile: its settings, one builder, and
  * generated code shared with a stream's cloned session.
  */
class TablesSpec extends SparkSpec {

  // 2024-03-01T12:34:56.789012 and an exact-second neighbour
  private val microsValues = Seq(1709296496789012L, 1709296497000000L)

  private def writeAndLoad(write: String => Unit): Seq[LocalDateTime] = {
    val dir = Files.createTempDirectory("graft-events-enc").toString
    write(dir)
    val loaded = Tables.load(spark, dir, "events")
    assert(loaded.schema("ts").dataType === TimestampNTZType,
      s"loader must normalize to TIMESTAMP_NTZ, got ${loaded.schema("ts").dataType}")
    loaded.select("ts").orderBy("ts").collect().toSeq
      .map(_.getAs[LocalDateTime]("ts"))
  }

  private val expected = microsValues.sorted.map { us =>
    LocalDateTime.ofEpochSecond(us / 1000000L, (us % 1000000L).toInt * 1000,
      java.time.ZoneOffset.UTC)
  }

  test("int64-nanos encoding loads as microsecond TIMESTAMP_NTZ") {
    // Spark cannot WRITE parquet TIMESTAMP(NANOS); an int64 column is
    // exactly what the nanosAsLong read of one produces, so it drives
    // the same LongType dispatch arm.
    val got = writeAndLoad { dir =>
      val rows = microsValues.map(us => Row(1L, us * 1000L))
      val schema = StructType(Seq(
        StructField("event_id", LongType), StructField("ts", LongType)))
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
    }
    assert(got === expected)
  }

  test("timestamp[us] NTZ encoding loads unchanged") {
    val got = writeAndLoad { dir =>
      import spark.implicits._
      microsValues.toDF("us")
        .select(lit(1L).as("event_id"),
          expr("timestampadd(MICROSECOND, us, TIMESTAMP_NTZ '1970-01-01 00:00:00')").as("ts"))
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
    }
    assert(got === expected)
  }

  test("instant (LTZ) encoding loads as the same NTZ micros") {
    val got = writeAndLoad { dir =>
      import spark.implicits._
      microsValues.toDF("us")
        .select(lit(1L).as("event_id"), timestamp_micros(col("us")).as("ts"))
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
    }
    assert(got === expected)
  }

  test("an unrecognized ts encoding fails loudly, not with a MatchError") {
    val dir = Files.createTempDirectory("graft-events-enc").toString
    import spark.implicits._
    Seq(("a", "2024")).toDF("event_id", "ts")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val e = intercept[RuntimeException](Tables.load(spark, dir, "events"))
    assert(e.getMessage.contains("unsupported events.ts encoding"))
  }

  test("the spec session is the Tables.session profile") {
    // native SQL names resolve with no explicit register call
    assert(spark.sql("SELECT graft_hamming64(5L, 6L)").head.getLong(0) === 2L)
    def guards = spark.experimental.extraOptimizations
      .count(_.isInstanceOf[graft.plans.NoGlobalWindowGuard])
    assert(guards === 1)
    Tables.session("local[4]")
    assert(guards === 1, "a second session() call must not stack the guard")
    assert(spark.conf.get("spark.sql.shuffle.partitions").toInt ===
      spark.sparkContext.defaultParallelism)
    assert(spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold").toInt ===
      Int.MaxValue)
    // generated code is shared by every session; local files and
    // checkpoints are written without forking a process
    assert(spark.conf.get("spark.sql.artifact.isolation.enabled") === "false")
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries").toInt === 1000)
    // a small broadcast relation takes a 1 MB page, not heap/cores/16
    assert(org.apache.spark.SparkEnv.get.memoryManager.pageSizeBytes === 1L << 20)
    assert(spark.conf.get("spark.sql.streaming.checkpointFileManagerClass") ===
      classOf[FileSystemBasedCheckpointFileManager].getName)
    val local = FileSystem.get(new java.net.URI("file:///"), spark.sparkContext.hadoopConfiguration)
    assert(local.getClass === classOf[NioLocalFileSystem])
    // ... which sets each mode bit as chmod would
    val file = Files.createTempFile("graft-mode", "")
    Seq("rw-r-----" -> "640", "r-x---rwx" -> "507", "-w--wx--x" -> "231").foreach {
      case (symbolic, octal) =>
        local.setPermission(new Path(file.toUri),
          new FsPermission(Integer.parseInt(octal, 8).toShort))
        assert(PosixFilePermissions.toString(Files.getPosixFilePermissions(file)) === symbolic)
    }
    // a create mode prints both of its modes; the masked one is set
    local.setPermission(new Path(file.toUri), FsCreateModes.create(
      new FsPermission(Integer.parseInt("640", 8).toShort),
      new FsPermission(Integer.parseInt("666", 8).toShort)))
    assert(PosixFilePermissions.toString(Files.getPosixFilePermissions(file)) === "rw-r-----")
  }

  test("a session cloned like a stream's reuses the root session's generated code") {
    def run(s: SparkSession) = s.range(0, 1000, 1, 4)
      .selectExpr("id % 7 AS k", "id * 3 AS v")
      .groupBy("k").agg(sum("v").as("s"), max("v").as("m"))
      .orderBy("k").collect().toSeq
    val expected = run(spark)
    // a stream runs on a clone of its session: a new session with the
    // root session's runtime conf
    val clone = spark.newSession()
    spark.conf.getAll.filter { case (k, _) => spark.conf.isModifiable(k) }
      .foreach { case (k, v) => clone.conf.set(k, v) }
    // the compile counter is JVM-wide: a running stream would compile too
    assert(spark.streams.active.isEmpty, "a stream is still running")
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    val before = compiles.getCount
    assert(run(clone) === expected)
    assert(compiles.getCount - before === 0L, "classes compiled again for the clone")
  }

  test("only Tables.scala builds a session or reads the core-count variable") {
    import scala.jdk.CollectionConverters._
    // split so this file does not match its own needles
    val needles = Seq("SparkSession" + ".builder", "SPARK_GRAFT" + "_CPUS")
    def files(root: String) = {
      val r = java.nio.file.Paths.get(root)
      assert(Files.isDirectory(r), s"$r not found from the test cwd")
      val walk = Files.walk(r)
      try walk.iterator().asScala.filter(Files.isRegularFile(_)).toList
      finally walk.close()
    }
    val hits = (files("src/main") ++ files("src/test"))
      .filter(f => needles.exists(Files.readString(f).contains)).map(_.toString).sorted
    assert(hits === Seq("src/main/scala/graft/engine/Tables.scala"))
    // the session profile turns artifact isolation off: no session may
    // carry artifacts of its own
    val artifactCalls = Seq("add" + "Artifact", "add" + "Jar")
    val adders = files("src/main")
      .filter(f => artifactCalls.exists(Files.readString(f).contains)).map(_.toString)
    assert(adders.isEmpty)
  }

  /** A one-file parquet directory written by Spark at `path`, its
    * columns given as (name, expression over `spark.range(n)`'s `id`). */
  private def writeTable(path: String, n: Int, cols: (String, String)*): Unit =
    spark.range(n).selectExpr(cols.map { case (name, e) => s"$e AS $name" }: _*)
      .coalesce(1).write.mode("overwrite").parquet(path)

  test("a warm Tables.load launches no schema-inference job and keeps the inferred schema") {
    val dir = Files.createTempDirectory("graft-schema-memo").toString
    val path = s"$dir/t.parquet"
    writeTable(path, 5, "k" -> "id", "s" -> "CAST(id AS STRING)",
      "d" -> "CAST(id AS DECIMAL(18,2))", "n" -> "IF(id > 2, NULL, id)")
    val counter = new JobCounter(spark)
    val sc = spark.sparkContext
    sc.setJobDescription("outer work")
    val cold = try counter.jobsDuring(Tables.load(spark, dir, "t"))
      finally {
        assert(sc.getLocalProperty("spark.job.description") === "outer work",
          "the inference job must restore the prior job description")
        sc.setJobDescription(null)
      }
    assert(cold === Seq(s"graft.schema $path"), "one named inference job on a cold key")
    val (warm, df) = counter.jobsAndValue(Tables.load(spark, dir, "t"))
    assert(warm === Seq.empty, "a warm load must not infer again")
    // StructField equality covers name, type, nullability and metadata
    assert(df.schema === spark.read.parquet(path).schema)
    assert(df.orderBy("k").collect().map(_.getLong(0)).toSeq === (0L until 5L))
  }

  test("a table rewritten at the same path loads with its new schema and rows") {
    // both layouts a fixture table can have: a Spark-written directory
    // and a single regular file (the fingerprint is the file's own
    // size and mtime)
    for (asFile <- Seq(false, true)) {
      val dir = Files.createTempDirectory("graft-schema-rewrite").toString
      val path = s"$dir/t.parquet"
      def write(n: Int, cols: (String, String)*): Unit =
        if (!asFile) writeTable(path, n, cols: _*)
        else {
          val staged = Files.createTempDirectory("graft-schema-stage").resolve("t")
          writeTable(staged.toString, n, cols: _*)
          val part = Files.list(staged).filter(_.toString.endsWith(".parquet")).findFirst.get
          Files.copy(part, java.nio.file.Paths.get(path),
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        }
      write(3, "a" -> "id", "b" -> "CAST(id AS STRING)")
      assert(Tables.load(spark, dir, "t").schema.fieldNames.toSeq === Seq("a", "b"))
      write(4, "a" -> "id", "c" -> "CAST(id AS DOUBLE)", "e" -> "CAST(id AS INT)")
      val again = Tables.load(spark, dir, "t")
      assert(again.schema.fieldNames.toSeq === Seq("a", "c", "e"), s"asFile=$asFile")
      assert(again.schema === spark.read.parquet(path).schema, s"asFile=$asFile")
      // same schema, other rows: the data is read afresh on every load
      write(6, "a" -> "id * 10", "c" -> "CAST(id AS DOUBLE)", "e" -> "CAST(id AS INT)")
      assert(Tables.load(spark, dir, "t").orderBy("a").collect().map(_.getLong(0)).toSeq ===
        (0L until 60L by 10L), s"asFile=$asFile")
    }
  }

  test("dropOrphanRdds returns after the context cleaner removed a dropped broadcast") {
    val sc = spark.sparkContext
    def storageUsed(): Long =
      sc.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum
    Tables.dropOrphanRdds(spark)
    val before = storageUsed()
    // 8 MiB of incompressible longs, so the serialized pieces the block
    // manager reports are ~8 MiB too; nothing references the broadcast
    // once this returns
    def broadcastAndDrop(): Unit = {
      sc.broadcast(Array.tabulate(1 << 20)(i => i * 0x9E3779B97F4A7C15L))
      ()
    }
    broadcastAndDrop()
    assert(storageUsed() - before > (4L << 20), "the pieces are in the block manager")
    Tables.dropOrphanRdds(spark)
    assert(storageUsed() - before < (1L << 20), "the cleaner removed the dropped broadcast")
  }

  test("building DataQuality.fkOrphans a second time launches no job") {
    // a star-schema fixture holding exactly the audited key columns
    val dir = Files.createTempDirectory("graft-fk-fixture").toString
    graft.operators.DataQuality.FkRelations
      .flatMap { case (child, fk, parent, pk) => Seq(child -> fk, parent -> pk) }
      .groupBy(_._1).foreach { case (table, cols) =>
        writeTable(s"$dir/$table.parquet", 3, cols.map(_._2).distinct.map(c => c -> "id"): _*)
      }
    graft.operators.DataQuality.fkOrphans(spark, dir)
    val counter = new JobCounter(spark)
    assert(counter.jobsDuring(graft.operators.DataQuality.fkOrphans(spark, dir)) === Seq.empty)
  }
}
