package graft.sources

import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** JSON-lines tier of the source surface — the text-format ingest path
  * a deployment actually receives feeds in (the reference's own source
  * is Elasticsearch JSON documents,
  * `TimeSeriesFunctions_GPL_0.5.1.R:23-40`; this is that wire format as
  * a Spark file source). Each mirror (JSONL, CSV, ORC) is a
  * [[DerivedLayout]] generation keyed on the parquet events store's
  * identity, and the reader applies an EXPLICIT schema — at 100 TB, schema inference is a
  * full extra pass over the text before the first real job, so a
  * production reader always ships its schema.
  *
  * Exactness contract: `ts` travels as the epoch-nanos LONG (integers
  * round-trip JSON exactly; an ISO timestamp string would re-open the
  * µs/ns truncation class), doubles round-trip via Spark's
  * shortest-representation writer, and strings are JSON-escaped by the
  * writer — so a query over the JSONL mirror must equal the same query
  * over parquet bit-for-bit, which is exactly what the
  * `events_from_json` oracle (plain SQL over the PARQUET store) checks.
  */
object JsonStore {

  /** The generation of `layout` that serves the events store as it is
    * now, writing the events' reader-schema columns with `write`. */
  private def mirror(spark: SparkSession, sfDir: String, layout: String)(
      write: DataFrameWriter[Row] => String => Unit): String =
    DerivedLayout.ensure(spark, DerivedLayout.dir(sfDir, layout), s"$sfDir/events.parquet") {
      // Tables.events normalizes ts to epoch-nanos LONG for every store
      // generation, so the text tiers carry integers
      write(Tables.events(spark, sfDir).select(EventSchema.fieldNames.map(col): _*).write)
    }

  /** The explicit reader schema (ts = epoch-nanos LONG). */
  val EventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Write (or reuse) the JSONL mirror for one corpus. */
  def ensureJsonl(spark: SparkSession, sfDir: String): Unit = { eventsFromJson(spark, sfDir); () }

  /** Events read back from the JSONL mirror with the explicit schema
    * (no inference pass). */
  def eventsFromJson(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.schema(EventSchema).json(mirror(spark, sfDir, "events_jsonl")(_.json))

  /** CSV null sentinel: Spark's default maps BOTH null and '' to an
    * empty field, so an empty-string `props`/`event_type` would
    * round-trip as NULL — silently breaking bit-for-bit parity (and
    * dropping the row from any `IS NOT NULL`-guarded aggregate). A
    * distinct sentinel on writer AND reader keeps null and ''
    * distinguishable (the `\N` convention is the MySQL/Hive text-format
    * standard). `emptyValue` pins ''-round-tripping explicitly. */
  val CsvNullSentinel = "\\N"

  /** CSV sibling of the JSONL mirror — same identity rule, same
    * explicit schema, same exactness contract. The `props` column
    * carries embedded JSON (quotes + commas), so the writer's RFC-4180
    * quoting/escaping is part of what the parity check proves. */
  def ensureCsv(spark: SparkSession, sfDir: String): Unit = { eventsFromCsv(spark, sfDir); () }

  /** Events read back from the CSV mirror with the explicit schema. The
    * `_v2` layout carries the explicit null sentinel; the version suffix
    * keeps a pre-sentinel mirror from ever being read back with the new
    * options. */
  def eventsFromCsv(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.schema(EventSchema)
      .option("header", "true").option("escape", "\"")
      .option("nullValue", CsvNullSentinel)
      .option("emptyValue", "")
      .csv(mirror(spark, sfDir, "events_csv_v2")(
        _.option("header", "true").option("escape", "\"")
          .option("nullValue", CsvNullSentinel)
          .option("emptyValue", "\"\"")
          .csv))

  private def dailyOf(events: DataFrame): DataFrame =
    events
      .filter(col("event_type").isNotNull && col("ts").isNotNull)
      .groupBy(col("event_type"),
        expr(s"CAST(ts DIV ${Tables.NanosPerDay} AS INT)").as("day_num"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))
      .select(col("event_type"),
        date_add(lit(java.sql.Date.valueOf("1970-01-01")), col("day_num")).as("day"),
        col("n_events"), col("sum_value"))
      .orderBy(col("event_type"), col("day"))

  /** The registered parity queries: per-(type, day) counts and
    * decimal-exact value sums off each text tier — hash-checked
    * against the same aggregate over the PARQUET store (the oracle),
    * proving the round-trip loses nothing. */
  def dailyFromJson(spark: SparkSession, sfDir: String): DataFrame =
    dailyOf(eventsFromJson(spark, sfDir))

  def dailyFromCsv(spark: SparkSession, sfDir: String): DataFrame =
    dailyOf(eventsFromCsv(spark, sfDir))

  /** ORC sibling — the second COLUMNAR format of the source surface
    * (the Hive-ecosystem interchange format Spark supports natively).
    * Unlike the text tiers there is no serialization round-trip to
    * prove; the parity hash pins the writer/reader TYPE MAPPING
    * (LONG/DOUBLE/STRING survive exactly, nulls stay nulls) and the
    * read path keeps everything the parquet scan has — vectorized
    * batched reads, predicate pushdown into ORC stripe/row-group
    * statistics, column pruning — so a deployment whose lake speaks
    * ORC gets the same plans this engine ships for parquet. */
  def ensureOrc(spark: SparkSession, sfDir: String): Unit = { eventsFromOrc(spark, sfDir); () }

  /** Events read back from the ORC mirror with the explicit schema. */
  def eventsFromOrc(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.schema(EventSchema).orc(mirror(spark, sfDir, "events_orc")(_.orc))

  def dailyFromOrc(spark: SparkSession, sfDir: String): DataFrame =
    dailyOf(eventsFromOrc(spark, sfDir))
}
