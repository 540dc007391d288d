package graft

import java.nio.file.Files
import java.time.LocalDateTime

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.engine.Tables

/** Fixture-schema-drift regression (r8 verdict item #2): the driver has
  * shipped `events.ts` as int64 TIMESTAMP(NANOS) (rounds 1–8) and as
  * native timestamp[us] (round 9+). `Tables.load` must yield identical
  * microsecond TIMESTAMP_NTZ values from every physical encoding it can
  * meet, rather than hard-coding the one it last saw.
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
  }

  test("only Tables.scala builds a session or reads the core-count variable") {
    import scala.jdk.CollectionConverters._
    // split so this file does not match its own needles
    val needles = Seq("SparkSession" + ".builder", "SPARK_GRAFT" + "_CPUS")
    val roots = Seq("src/main", "src/test").map(java.nio.file.Paths.get(_))
    roots.foreach(r => assert(Files.isDirectory(r), s"$r not found from the test cwd"))
    val hits = roots.flatMap { r =>
      val walk = Files.walk(r)
      try walk.iterator().asScala.filter(Files.isRegularFile(_)).toList
      finally walk.close()
    }.filter(f => needles.exists(Files.readString(f).contains)).map(_.toString).sorted
    assert(hits === Seq("src/main/scala/graft/engine/Tables.scala"))
  }
}
