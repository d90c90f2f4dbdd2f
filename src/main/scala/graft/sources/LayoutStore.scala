package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Time-sorted mirror of the `events` fact — the OTHER ingest-time
  * layout move, complementing [[BucketStore]] (which deletes join
  * shuffles) and [[SeriesStore]] (directory partition pruning): this
  * one makes time-slice scans cheap via parquet ROW-GROUP statistics.
  *
  * `repartitionByRange(ts)` + `sortWithinPartitions(ts)` writes the
  * stream globally time-ordered, so every row group's (min, max) on the
  * stored `ts_day` column covers a sliver of the calendar, and a pushed
  * `ts_day = K` predicate lets the parquet reader skip whole row groups
  * without decoding them. Directory partitioning (`partitionBy(day)`)
  * achieves the same pruning but explodes into one directory per day —
  * wrong for high-cardinality or multi-granularity time keys, where a
  * 100 TB feed would generate millions of tiny files; range-sorted row
  * groups keep file counts governed by data volume (`maxRecordsPerFile`
  * etc.) while pruning at finer-than-file granularity. Range
  * partitioning also spreads load by VOLUME, not by key: a hot day
  * simply spans more partitions (and files) instead of hot-spotting a
  * single writer task the way hash-on-day would.
  *
  * `ts_day` is stored as the exact integer epoch-day of the nanosecond
  * clock ([[Tables.tsDay]] semantics) so the slice predicate is a plain
  * integer equality — the form parquet min/max stats answer directly.
  *
  * Both mirrors are [[DerivedLayout]] generations keyed on the events
  * store's identity, an ingest-time cost like every other layout in
  * `sources/`.
  */
object LayoutStore {

  private def source(sfDir: String): String = s"$sfDir/events.parquet"

  /** `ts` as epoch-nanos LONG — the driver store's native clock, and
    * what [[Tables.events]] serves; a synthetic TIMESTAMP batch is
    * accepted through the same dual-type rule as `EventAnalytics` — plus
    * the stored `ts_day`. */
  private def withDay(ev: DataFrame): DataFrame = {
    val tsLong = ev.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => col("ts")
      case _ => unix_micros(col("ts")) * lit(1000L)
    }
    ev.withColumn("ts", tsLong)
      .withColumn("ts_day", expr(s"CAST(ts DIV ${Tables.NanosPerDay} AS INT)"))
  }

  /** Write (or reuse) the time-sorted events mirror for one corpus. */
  def ensureSorted(spark: SparkSession, sfDir: String): Unit = { sortedGen(spark, sfDir); () }

  /** The sorted mirror's generation that serves the events store as it
    * is now. */
  private def sortedGen(spark: SparkSession, sfDir: String): String =
    DerivedLayout.ensure(spark, DerivedLayout.dir(sfDir, "events_sorted"), source(sfDir)) { out =>
      withDay(Tables.events(spark, sfDir))
        .repartitionByRange(col("ts"))
        .sortWithinPartitions(col("ts"))
        .write.parquet(out)
    }

  /** The sorted mirror (builds on first use). `ts` is epoch-nanos LONG
    * like [[Tables.events]]; `ts_day` is the stored integer epoch-day
    * the row-group stats prune on. */
  def sorted(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(sortedGen(spark, sfDir))

  /** Bit-spread a 16-bit value to even bit positions of a 32-bit word
    * (the classic Morton-code magic-mask ladder) — pure codegen'd
    * integer expressions, no UDF. */
  private def spread16(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val x0 = c.bitwiseAND(lit(0xFFFFL))
    val x1 = x0.bitwiseOR(shiftleft(x0, 8)).bitwiseAND(lit(0x00FF00FFL))
    val x2 = x1.bitwiseOR(shiftleft(x1, 4)).bitwiseAND(lit(0x0F0F0F0FL))
    val x3 = x2.bitwiseOR(shiftleft(x2, 2)).bitwiseAND(lit(0x33333333L))
    x3.bitwiseOR(shiftleft(x3, 1)).bitwiseAND(lit(0x55555555L))
  }

  /** Z-ORDERED mirror: the two-dimensional data-skipping layout. The
    * ts-sorted mirror prunes time slices perfectly but a `user_id = K`
    * slice decodes the whole corpus (every row group spans all users).
    * Interleaving the bits of (epoch-day, user) into a Morton code and
    * range-sorting on THAT clusters rows so every row group covers a
    * small rectangle of (day × user) space — both dimensions' stored
    * column stats stay tight, and a pushed equality on EITHER prunes
    * most row groups (the sqrt-locality trade: neither dimension is
    * perfect, both are good). This is the lakehouse OPTIMIZE ZORDER
    * move, built from `shiftleft`/`bitwiseAND`/`bitwiseOR` built-ins —
    * whole-stage-codegen'd, no UDF. Day and user take the low 16 bits
    * each (the test corpora span ~30 days × ≤64k users; a deployment
    * widens the masks with the id domain). */
  def ensureZOrdered(spark: SparkSession, sfDir: String): Unit = { zOrdered(spark, sfDir); () }

  /** The z-ordered mirror (builds on first use). */
  def zOrdered(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(DerivedLayout.ensure(spark, DerivedLayout.dir(sfDir, "events_zorder"),
        source(sfDir)) { out =>
      val z = spread16(expr(s"ts DIV ${Tables.NanosPerDay}"))
        .bitwiseOR(shiftleft(spread16(col("user_id")), 1))
      withDay(Tables.events(spark, sfDir))
        .withColumn("zval", z)
        .repartitionByRange(col("zval"))
        .sortWithinPartitions(col("zval"))
        .write.parquet(out)
    })

  /** Incremental ingest: APPEND one batch of events to the mirror
    * without rewriting it. The pruning invariant is per ROW GROUP, not
    * global — each appended file only needs to be internally
    * ts-sorted for its row groups' (min, max) to stay tight, so daily
    * (or hourly) increments keep the whole mirror prunable forever with
    * O(increment) write cost. This is exactly why the mirror sorts by
    * range instead of directory-partitioning: an append never has to
    * touch, split, or compact existing day directories.
    *
    * `newEvents` must carry the raw schema (`ts` epoch-nanos LONG or
    * TIMESTAMP, plus the event columns); `ts_day` is derived here so
    * callers cannot write a mirror whose stats column disagrees with
    * the clock. The batch lands in the current generation, which keeps
    * serving while the events store's identity is unchanged. */
  def appendBatch(spark: SparkSession, sfDir: String, newEvents: DataFrame): Unit = {
    val gen = sortedGen(spark, sfDir)
    withDay(newEvents)
      .repartitionByRange(col("ts"))
      .sortWithinPartitions(col("ts"))
      .write.mode(SaveMode.Append).parquet(gen)
  }
}
