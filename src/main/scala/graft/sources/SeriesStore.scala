package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.SessionCache

/** One named time series, materialized in an executor task. Values are in
  * evaluation-time order; calendar dates are discarded (positional `ts`
  * semantics, TimeSeriesFunctions_GPL_0.5.1.R:32) — ordering comes solely
  * from the source sort, gaps are NOT filled.
  */
final case class Series(element: String, values: Array[Double])

/** A [[Series]] with the identity of the window it was read from: the
  * row count and max event time (epoch nanos) of its observations, the
  * stamp `Engine` records at train time. `days` holds each value's
  * calendar day (epoch days) on the dated path and is empty otherwise. */
final case class StampedSeries(element: String, days: Array[Int], values: Array[Double],
    nObs: Long, maxTs: Long)

/** The engine's `searchElement` (R:23-40): scan the observation store with
  * server-side filter + project + sort + limit, returning either the
  * positional series shape (`returnDF = FALSE`, R:31-33) or the
  * calendar-aware (ds, y) shape used by Prophet (R:35-38).
  *
  * The store is the driver's `events` parquet (TESTDATA.md): `event_type`
  * plays the reference's element name, `ts` plays `evaluationDate`, `value`
  * is `value`. Filter/projection push down to the parquet scan (Catalyst
  * `PushDownPredicates` / `ColumnPruning` replace what Elasticsearch did
  * server-side in R:27-28).
  *
  * Scale posture: only one *series* (≤ `MaxSeriesLength` points, the
  * reference's `size = 10000` cap R:28) must ever fit in a single task;
  * the store itself is never collected.
  */
object SeriesStore {

  /** The reference's ES query cap `size = 10000` (R:28). */
  val MaxSeriesLength = 10000

  /** `ts` comes back as epoch-nanos LONG (exact) — see [[Tables.events]]. */
  def events(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)

  /** Oldest-`MaxSeriesLength` rows per element, in evaluation order — the
    * per-element analogue of ES `sort=evaluationDate:asc, size=10000`
    * (R:28). Ties broken by event_id for determinism. Emits
    * (element, step, ts, value) with step = 1-based position.
    */
  def observations(spark: SparkSession, sfDir: String, elements: Seq[String] = Nil): DataFrame =
    window(events(spark, sfDir).withColumnRenamed("event_type", "element"), elements)

  /** The capped, ordered window of `base` (which has element, ts,
    * event_id and value columns): (element, step, ts, value). */
  private def window(base: DataFrame, elements: Seq[String]): DataFrame = {
    val observed = base
      // a null measurement is not an observation: keep it out of the
      // series (and out of step numbering) rather than letting it NPE
      // the non-nullable Series encoder downstream; the predicate
      // pushes down to the scan like the element filter
      .filter(col("value").isNotNull)
      .select(col("element"), col("ts"), col("event_id"), col("value").cast("double"))
    val filtered =
      if (elements.isEmpty) observed
      else if (elements.size == 1) observed.filter(col("element") === elements.head)
      else observed.filter(col("element").isin(elements: _*))
    val w = Window.partitionBy(col("element")).orderBy(col("ts").asc, col("event_id").asc)
    filtered
      .withColumn("step", row_number().over(w))
      .filter(col("step") <= MaxSeriesLength)
      .select(col("element"), col("step"), col("ts"), col("value"))
  }

  /** The one per-element aggregate every series read selects from: the
    * ordered values (`pts`), their calendar form (`dated`) and the
    * window's stamp (`n_obs`, `max_ts`). The ordered collect happens
    * inside one task per element via sort_array(collect_list); the 10k
    * cap guarantees it fits. Catalyst prunes the aggregates a reader
    * does not select, so each read plans only its own. */
  private def perElement(window: DataFrame): DataFrame =
    window
      .select(col("element"), col("step"), expr(s"CAST(ts DIV ${Tables.NanosPerDay} AS INT)").as("d"),
        col("value"), col("ts"))
      .groupBy(col("element"))
      .agg(
        sort_array(collect_list(struct(col("step"), col("value")))).as("pts"),
        sort_array(collect_list(struct(col("step"), col("d"), col("value")))).as("dated"),
        count(lit(1)).as("n_obs"),
        max(col("ts")).as("max_ts"))

  /** One [[StampedSeries]] per element, from one read of its window: the
    * values and the stamp come from the same rows. Both the positional
    * path (`dated = false`) and the dated path (Prophet's, R:35-38) read
    * the element-partitioned mirror when one serves the events store as
    * it is now, else the events store. Never cached. */
  def stampedSeries(spark: SparkSession, sfDir: String, elements: Seq[String],
      dated: Boolean): Dataset[StampedSeries] = {
    import spark.implicits._
    val source = DerivedLayout.current(spark, mirrorDir(sfDir), eventsPath(sfDir))
      .fold(observations(spark, sfDir, elements))(mirrorWindow(spark, _, elements))
    perElement(source).select(col("element"),
      (if (dated) col("dated.d") else typedLit(Array.empty[Int])).as("days"),
      col(if (dated) "dated.value" else "pts.value").as("values"),
      col("n_obs").as("nObs"), col("max_ts").as("maxTs"))
      .as[StampedSeries]
  }

  /** `searchElement(..., returnDF = FALSE)` (R:31-33): positional series,
    * dates discarded. One row per (element, step). */
  def seriesDF(spark: SparkSession, sfDir: String, elements: Seq[String] = Nil): DataFrame =
    observations(spark, sfDir, elements).select("element", "step", "value")

  /** `searchElement(..., returnDF = TRUE)` (R:35-38): calendar-aware
    * two-column (ds DATE, y DOUBLE) frame per element — Prophet's input. */
  def prophetDF(spark: SparkSession, sfDir: String, elements: Seq[String] = Nil): DataFrame =
    observations(spark, sfDir, elements)
      .select(col("element"), Tables.tsDay("ts").as("ds"), col("value").as("y"))

  /** Materialize one dense series per element — the `ts(values, ...)`
    * construction (R:32) — as a distributed Dataset: [[stampedSeries]]'
    * values. This is the engine's one genuine shuffle on the fit path
    * (SURVEY.md §4).
    *
    * When the element-partitioned mirror of this corpus serves its
    * events store as it is now (laid out via [[ensurePartitioned]] — the
    * administrative step a 100 TB deployment does at ingest), the fit
    * path reads THAT:
    * element filters become `PartitionFilters` (zero bytes read for
    * other elements) and the scan is already corpus-column-pruned.
    * Results are identical either way — the closed-form forecast
    * oracles (fc_naive/…/fc_ses) hash-check the partitioned path
    * end-to-end. */
  def series(spark: SparkSession, sfDir: String, elements: Seq[String] = Nil): Dataset[Series] = {
    import spark.implicits._
    def build = stampedSeries(spark, sfDir, elements, dated = false)
      .select(col("element"), col("values")).as[Series]
    // the full-store read feeds EVERY fit query — materialize it once
    // per (app, events store as it is now): one (element, values) row per
    // series, ≤10k points each, so the persisted table is per-series-
    // bounded, not corpus-bounded. A regenerated events store refills (and
    // unpersists) the entry. Element-filtered reads stay uncached
    // (partition-pruned, already cheap).
    if (elements.nonEmpty) build
    else SessionCache(spark, Tables.paths(sfDir, "events"), "series.fullStore")(
      build.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
  }

  private def eventsPath(sfDir: String): String = s"$sfDir/events.parquet"

  /** The layout directory of the element-partitioned mirror of a corpus
    * ([[DerivedLayout]]: its generations live under it). */
  def mirrorDir(sfDir: String): String = DerivedLayout.dir(sfDir, "events_by_element")

  /** Build (or reuse) the element-partitioned mirror of `sfDir`'s
    * events store — the explicit layout step; [[series]] then picks it
    * up automatically. Returns the generation directory that serves
    * the events store as it is now. */
  def ensurePartitioned(spark: SparkSession, sfDir: String): String =
    DerivedLayout.ensure(spark, mirrorDir(sfDir), eventsPath(sfDir))(writePartitioned(spark, sfDir, _))

  /** Write the observation store pre-partitioned by element — the
    * SURVEY.md §4 scale move: with the store laid out this way, the
    * per-series ordered collect reads only the matching element's
    * directory (partition pruning) and a follow-up repartition-by-key is
    * a directory-local operation, so the fit path's one shuffle becomes
    * map-side at 100 TB. */
  def writePartitioned(spark: SparkSession, sfDir: String, outDir: String): Unit =
    events(spark, sfDir)
      .withColumn("element", org.apache.spark.sql.functions.col("event_type"))
      .write.mode("overwrite")
      .partitionBy("element")
      .parquet(outDir)

  /** Series materialization over a pre-partitioned store: identical
    * output to [[series]]; the scan prunes to the requested elements'
    * partitions (`PartitionFilters` in the plan, zero data read for
    * other elements). */
  def seriesFromPartitioned(spark: SparkSession, partitionedDir: String,
      elements: Seq[String] = Nil): Dataset[Series] = {
    import spark.implicits._
    perElement(mirrorWindow(spark, partitionedDir, elements))
      .select(col("element"), col("pts.value").as("values"))
      .as[Series]
  }

  /** [[observations]] over a pre-partitioned store. */
  private def mirrorWindow(spark: SparkSession, partitionedDir: String, elements: Seq[String]): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    window(spark.read.parquet(partitionedDir), elements)
  }

  /** Calendar gap-fill with last-observation-carried-forward — the
    * ingest-hygiene step in front of any calendar-indexed consumer (the
    * reference's positional `ts` silently treats a 3-day outage as
    * adjacent points; a calendar pipeline must instead SEE the gap and
    * decide the fill). Per element: daily mean value (decimal-exact sum,
    * one double division), densified to every day in [first, last] via
    * `sequence()`, gaps filled by the running `last(_, ignoreNulls)`
    * window with `n_obs = 0` and `is_filled = true` marking synthetic
    * days.
    *
    * Scale shape: one (element, day) aggregate shuffle; the spine
    * explode is map-side from a per-element min/max row (≤ |elements| ×
    * timeline-days rows); the LOCF window is partitioned per element —
    * never global. */
  def gapFilledDaily(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = events(spark, sfDir)
    // driver store: ts = epoch-nanos LONG; synthetic test stores may
    // write a plain TIMESTAMP — accept both (the shared dual-clock rule)
    val dayCol = ev.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => Tables.tsDay("ts")
      case _ => to_date(col("ts"))
    }
    val daily = ev
      .filter(col("value").isNotNull) // same null-observation rule as [[observations]]
      .groupBy(col("event_type").as("element"), dayCol.as("day"))
      .agg(count(lit(1)).as("n_obs"),
        sum(col("value").cast("decimal(18,4)")).as("sum_dec"))
      .withColumn("day_value", col("sum_dec").cast("double") / col("n_obs"))
      .drop("sum_dec")
    val spine = daily.groupBy(col("element"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("element"), explode(sequence(col("d0"), col("d1"))).as("day"))
    val w = Window.partitionBy(col("element")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(daily, Seq("element", "day"), "left")
      .select(col("element"), col("day"),
        coalesce(col("n_obs"), lit(0L)).as("n_obs"),
        round(last(col("day_value"), ignoreNulls = true).over(w), 6).as("value"),
        coalesce(col("n_obs"), lit(0L)).equalTo(0L).as("is_filled"))
      .orderBy(col("element"), col("day"))
  }

  /** Calendar-aware per-element series for Prophet: (element, epoch days
    * asc, values) — the only path that keeps dates (R:35-38, R:369). */
  def datedSeries(spark: SparkSession, sfDir: String, elements: Seq[String] = Nil): Dataset[(String, Array[Int], Array[Double])] = {
    import spark.implicits._
    stampedSeries(spark, sfDir, elements, dated = true)
      .select(col("element"), col("days"), col("values"))
      .as[(String, Array[Int], Array[Double])]
  }
}
