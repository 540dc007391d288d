package graft

import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}

import graft.operators.{CoreQueries, Corpus, Dedup, Similarity}

/** Plan-shape regressions for the scale rewrites: the point is not the
  * sf0.001 result (the oracle gate covers values) but that the PLAN is
  * the one that survives 100 TB — these assertions fail if someone
  * reverts to the naive shape.
  */
class PlanShapeSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  test("q3 rollup mode: the running-count window reads a pre-aggregate, not raw events") {
    val plan = CoreQueries.runningByMinute(spark, dir).queryExecution.optimizedPlan
    val windows = plan.collect { case w: LWindow => w }
    assert(windows.nonEmpty, "expected a Window node")
    windows.foreach { w =>
      assert(w.child.collectFirst { case a: Aggregate => a }.nonEmpty,
        s"window input must be the per-(minute,type) aggregate, got:\n${w.child}")
    }
  }

  test("simhash is a pure projection: no hash-partitioned shuffle, no aggregate") {
    val plan = Dedup.simhash(spark, dir).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"simhash should not shuffle on a key:\n$plan")
    assert(!plan.contains("HashAggregate"),
      s"simhash should not aggregate:\n$plan")
  }

  test("simhash pairs join distributes on (band, band_key), never a cross product") {
    val plan = Dedup.simhashPairs(spark, dir).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"pairs generation must stay an equi-join:\n$plan")
  }

  test("IVF candidate join broadcasts the probe side") {
    val plan = Similarity.ivfTopK(spark, dir).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"probes must broadcast against the assignment relation:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"no sort-merge join expected in IVF:\n$plan")
  }

  test("contamination is a broadcast semi-join on the benchmark fingerprints") {
    val plan = Corpus.contamination(spark, dir).queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi") && plan.contains("Broadcast"),
      s"expected a broadcast left-semi join:\n$plan")
  }

  test("no benched query plans an unpartitioned window (single-partition collapse)") {
    // WindowExec warns + collapses to one task when partitionSpec is
    // empty; every global-total / global-rank shape was rewritten to a
    // broadcast total, TakeOrdered diff, or explicit bucketed rank
    import org.apache.spark.sql.catalyst.plans.logical.{Window => W}
    for ((name, fn) <- graft.SparkEntry.queries) {
      val plan = fn(spark, dir).queryExecution.optimizedPlan
      plan.foreach {
        case w: W => assert(w.partitionSpec.nonEmpty,
          s"$name has an unpartitioned window:\n$w")
        case _ =>
      }
    }
  }

  test("q1 plans a TakeOrdered top-2, not a window over the hourly history") {
    val qe = CoreQueries.hourlyLatest(spark, dir).queryExecution
    assert(qe.optimizedPlan.collect {
      case w: LWindow => w }.isEmpty, "q1 should have no window at all")
    assert(qe.executedPlan.toString.contains("TakeOrderedAndProject"),
      s"expected TakeOrderedAndProject:\n${qe.executedPlan}")
  }

  test("global rank: windows are bucket-partitioned and numbering matches the oracle shape") {
    val df = CoreQueries.globalRank(spark, dir)
    df.queryExecution.optimizedPlan.foreach {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window =>
        assert(w.partitionSpec.nonEmpty, s"global rank must never collapse:\n$w")
      case _ =>
    }
    // contiguity + determinism: ranks are exactly 1..n in price order
    val rows = df.collect()
    assert(rows.map(_.getLong(2)).toSeq == (1L to rows.length).toSeq)
    val prices = rows.map(_.getDouble(1)).toSeq
    assert(prices == prices.sorted.reverse, "rank order must follow price desc")
  }

  test("scale guard rejects unpartitioned windows when enabled, passes explicit shapes") {
    import org.apache.spark.sql.expressions.{Window => W}
    import org.apache.spark.sql.functions._
    import spark.implicits._
    spark.conf.set(graft.plans.ScaleGuard.FailOnGlobalWindow, "true")
    try {
      val df = Seq((1L, 2L), (3L, 4L)).toDF("a", "b")
      val bad = df.withColumn("rn", row_number().over(W.orderBy($"a")))
      val e = intercept[Throwable] { bad.collect() }
      def messages(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
      assert(messages(e).exists(_.contains("unpartitioned window")), s"got: $e")
      // partitioned window passes
      df.withColumn("rn", row_number().over(W.partitionBy($"b").orderBy($"a"))).collect()
      // the explicit bounded-domain rank passes (it plans no window)
      graft.operators.Ranking.boundedRowNumber(df, "rn", $"a").collect()
      // and the guarded engine queries all still plan clean
      CoreQueries.leaderboard(spark, dir).collect()
    } finally spark.conf.set(graft.plans.ScaleGuard.FailOnGlobalWindow, "false")
  }

  test("interval join is an equi-join on (key, bucket), never a nested-loop range join") {
    val plan = graft.operators.TimeSeries.clicksBeforeError(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"range predicate must ride an equi-join via time bucketing:\n$plan")
  }

  test("batch packing windows per language, never a global single partition") {
    val plan = Corpus.packBatches(spark, dir).queryExecution.executedPlan.toString
    val windowSection = plan.split("Window").drop(1).headOption.getOrElse("")
    assert(windowSection.contains("lang"),
      s"packing window must be partitioned by lang:\n$plan")
  }
}
