package org.apache.spark.sql.graftbridge

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.{CleanerListener, SparkContext}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal accessors for Spark internals: the `private[sql]`
  * Column↔Expression bridge — the standard extension-library pattern
  * for exposing custom Catalyst expressions as Columns (the public API
  * offers no constructor) — and the ContextCleaner's `private[spark]`
  * listener hook ([[cleanerClock]]).
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a function into an already-built session (withExtensions
    * only applies at session construction).
    */
  def registerFunction(spark: SparkSession, name: FunctionIdentifier,
      info: ExpressionInfo, builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry.registerFunction(name, info, builder)

  private val cleanerClocks = new java.util.WeakHashMap[SparkContext, AtomicLong]()

  /** `System.nanoTime` of the latest cleanup Spark's ContextCleaner
    * finished in `sc` (an RDD, shuffle, broadcast, accumulator or
    * checkpoint), kept from the first call on; None when the context
    * runs no cleaner. The cleaner and its listener hook are
    * `private[spark]`; one listener is attached per context.
    */
  def cleanerClock(sc: SparkContext): Option[AtomicLong] = sc.cleaner.map { cleaner =>
    cleanerClocks.synchronized {
      Option(cleanerClocks.get(sc)).getOrElse {
        val clock = new AtomicLong(System.nanoTime())
        cleaner.attachListener(new CleanerListener {
          private def tick(): Unit = clock.set(System.nanoTime())
          override def rddCleaned(rddId: Int): Unit = tick()
          override def shuffleCleaned(shuffleId: Int): Unit = tick()
          override def broadcastCleaned(broadcastId: Long): Unit = tick()
          override def accumCleaned(accId: Long): Unit = tick()
          override def checkpointCleaned(rddId: Long): Unit = tick()
        })
        cleanerClocks.put(sc, clock)
        clock
      }
    }
  }
}
