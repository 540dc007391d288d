package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Batch sinks/sources matching the reference's I/O surface (SURVEY
  * §2.3): header'd CSV export (`app.py:373-381`, golden shape
  * `docs/cvs-sample.csv`), Parquet at rest, and JSON lines (the Kafka
  * value shape, for replay files).
  */
object Outputs {

  /** CSV download export — single file with header, like the
    * dashboard's download button produces.
    */
  def csvExport(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode("overwrite").option("header", "true").csv(path)

  def readCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).option("header", "true").csv(path)

  /** JSON-lines export of the Kafka value shape (replayable stream
    * input).
    */
  def jsonLines(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  def readJsonLines(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** ORC at rest — the second columnar format Spark ships natively
    * (predicate pushdown and column pruning work the same as parquet,
    * so a warehouse already on ORC can adopt the engine unchanged).
    */
  def orcWrite(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)
}
