package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Central table loaders for the driver's testdata store (TESTDATA.md).
  *
  * `events.ts` is normalized to an exact epoch-nanos LONG at this source
  * boundary, whatever the store's physical type — every downstream
  * consumer gets ONE clock contract and derives calendar projections
  * with exact integer arithmetic. Store generations handled:
  *   - TIMESTAMP(NANOS) (early driver stores): Spark cannot represent
  *     nanos natively; read with `spark.sql.legacy.parquet.nanosAsLong`,
  *     which already yields the LONG.
  *   - TIMESTAMP(MICROS) wall time, NTZ or LTZ (current driver store /
  *     Spark-written fixtures): `unix_micros(CAST ts AS TIMESTAMP) *
  *     1000` — exact (micros scale up losslessly). The session timezone
  *     is pinned to UTC here so the NTZ wall→epoch interpretation
  *     matches DuckDB's zone-free wall arithmetic (`CAST(ts AS DATE)`,
  *     `epoch_us`) regardless of machine zone.
  */
object Tables {

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** Store path of each named table of a corpus: the sources a
    * [[graft.core.SessionCache]] entry derived from those tables names. */
  def paths(sfDir: String, names: String*): Seq[String] = names.map(n => s"$sfDir/$n.parquet")

  val NanosPerDay: Long = 86400L * 1000000000L

  /** events with `ts` as epoch-nanos LONG (exact; see scaladoc above).
    * Served through the [[ChunkStore]] scan-parallelism mirror when the
    * raw store is a single file (same rows, `ts` pre-normalized). */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = eventsRaw(spark, sfDir)
    val normalized = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => raw // nanos store
      case _ =>
        raw.withColumn("ts", expr("unix_micros(CAST(ts AS TIMESTAMP)) * 1000"))
    }
    ChunkStore.eventsMirror(spark, sfDir, normalized)
  }

  /** events exactly as stored (no ts normalization) — for consumers
    * that must match the ON-DISK schema, e.g. the streaming file
    * source, whose user-supplied schema is checked against the files. */
  def eventsRaw(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.read.parquet(s"$sfDir/events.parquet")
  }

  /** Calendar day of an epoch-nanos LONG ts column — exact integer
    * arithmetic (`DIV`, not double division: epoch-nanos exceed a
    * double's 53-bit mantissa), equal to DuckDB's `CAST(ts AS DATE)`. */
  def tsDay(tsCol: String): Column =
    date_add(lit(java.sql.Date.valueOf("1970-01-01")),
      expr(s"CAST($tsCol DIV $NanosPerDay AS INT)"))
}
