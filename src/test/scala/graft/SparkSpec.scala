package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs: the mains' profile at `local[4]`.
  * getOrCreate so all suites in the forked test JVM share one context.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = graft.engine.Tables.session("local[4]")
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
