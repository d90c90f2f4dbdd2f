package org.apache.spark.sql.graftbridge

import java.util.UUID

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, FunctionIdentifier, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetUtils}
import org.apache.spark.sql.types.StructType

/** Minimal accessor for `private[sql]` seams the public API does not
  * expose in Spark 4: Expression↔Column conversion, live-session
  * function registration, the schema a file-source read reports and
  * Spark's Parquet file writer. Lives under org.apache.spark.sql.* solely
  * for access scope; contains no Spark code.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** EAGER conversion of a Column to its catalyst tree.
    * [[expression]] returns a lazy `ColumnNodeExpression` wrapper whose
    * children are invisible to `collect`/`references`; callers that
    * INSPECT the tree (e.g. which attributes a predicate touches) need
    * the converted form. */
  def convertedExpression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter.apply(c.node)

  /** The schema a file-source read reports for data written with `s`:
    * every field, at every depth, nullable. */
  def asNullable(s: StructType): StructType = s.asNullable

  /** Writes `rows` as one Parquet file in directory `dir` from the calling
    * thread, with the file writer a Spark write task uses for `schema`
    * (same footer and schema metadata), so no Spark job runs. Unlike a
    * write job it leaves no `_SUCCESS` marker. */
  def writeParquet(spark: SparkSession, schema: StructType, rows: Seq[Row], dir: Path): Unit = {
    val state = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState
    val job = Job.getInstance(state.newHadoopConf())
    val factory = ParquetUtils.prepareWrite(state.conf, job, schema,
      new ParquetOptions(Map.empty[String, String], state.conf))
    val task = new TaskAttemptContextImpl(job.getConfiguration,
      new TaskAttemptID(new TaskID(new JobID("graft", 0), TaskType.MAP, 0), 0))
    val file = new Path(dir, s"part-00000-${UUID.randomUUID()}-c000${factory.getFileExtension(task)}")
    val writer = factory.newInstance(file.toString, schema, task)
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(schema)
    try rows.foreach(r => writer.write(toCatalyst(r).asInstanceOf[InternalRow]))
    finally writer.close()
  }

  def registerFunction(
      spark: SparkSession,
      name: String,
      info: ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      .registerFunction(FunctionIdentifier(name), info, builder)
}
