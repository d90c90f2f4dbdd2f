package graft.engine

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Methods
import graft.models._
import graft.sources.SeriesStore

/** Family registry — the engine's analogue of positional dispatch into
  * `stringMethods` (R:6-7, used at R:87, R:105, R:370). All ten reference
  * methods plus the engine's closed-form extensions resolve here.
  */
object Families {
  import NaiveFamilies._
  val all: Map[String, ModelFamily] = Map(
    Methods.ARIMA -> Arima.ArimaFamily,
    Methods.ARIMA_FORCE_SEASONALITY -> Arima.ArimaForceSeasonalFamily,
    Methods.THETA -> Theta.ThetaFamily,
    Methods.ETS -> Ets.EtsFamily,
    Methods.ETSDAMPED -> Ets.EtsDampedFamily,
    Methods.BAGGEDETS -> Bagged.BaggedFamily,
    Methods.STL -> Stl.StlFamily,
    Methods.NN -> NNar.NNFamily,
    Methods.HYBRID -> Hybrid.HybridFamily,
    Methods.PROPHET -> ProphetLite.ProphetFamily,
    Methods.NAIVE -> Naive,
    Methods.SNAIVE -> SNaive,
    Methods.DRIFT -> Drift,
    Methods.MEANF -> Meanf,
    Methods.SES -> Ses,
    Methods.TBATS -> Tbats.TbatsFamily)

  def byMethod(method: String): ModelFamily =
    all.getOrElse(method, throw new IllegalArgumentException(s"unknown method: $method"))
}

/** Batch fit + forecast over a store: every series is fitted by
  * [[fitSeries]], the same per-series fit `Engine` trains with, inside
  * one executor task, then expanded to h contract rows, so a batch
  * returns what one `Engine.forecast` per element returns. The driver
  * holds only plans and keys.
  */
object Forecaster {

  /** The one per-series fit (R:87-93 dispatch): PROPHET on its calendar
    * days (R:369), HYBRID with the requested horizon as its CV horizon
    * (R:359), every other method through its family's `fit`. `days` is
    * read only for PROPHET. */
  def fitSeries(method: String, days: Array[Int], values: Array[Double], frequency: Int,
      horizon: Int): SeriesModel = method match {
    case Methods.PROPHET => ProphetLite.fitDated(days, values)
    case Methods.HYBRID => Hybrid.HybridFamily.fitCv(values, frequency, horizon)
    case _ => Families.byMethod(method).fit(values, frequency)
  }

  /** Forecast every element in the store (or `elements`) with `method`:
    * each series is fitted inside one task; rows sorted by (element, step). */
  def forecastStore(
      spark: SparkSession,
      sfDir: String,
      method: String,
      frequency: Int,
      horizon: Int,
      elements: Seq[String] = Nil): DataFrame = {
    import spark.implicits._
    val (m, f, h) = (method, frequency, horizon)
    val series =
      if (m == Methods.PROPHET) SeriesStore.datedSeries(spark, sfDir, elements).toDF("element", "days", "values")
      else SeriesStore.series(spark, sfDir, elements).select(col("element"),
        typedLit(Array.empty[Int]).as("days"), col("values"))
    series
      // round-robin to an explicit count: AQE never coalesces it, and the
      // series spread evenly over the tasks (hashing on element put 7 of
      // fit_batch's 16 series on one of 4 tasks)
      .repartition(spark.sparkContext.defaultParallelism)
      .as[(String, Array[Int], Array[Double])]
      .flatMap { case (element, days, values) =>
        fitSeries(m, days, values, f, h).forecast(h).toPoints(element, m)
      }
      .toDF()
      // one hash partition sorted in place: the same rows in the same order
      // as a global sort, without the range exchange's sampling job, which
      // would run every upstream fit a second time
      .repartition(1, col("element")).sortWithinPartitions("element", "step")
  }
}

/** The generic wrapper skeleton shared by all 7 reference wrappers
  * (R:104-124 etc.): 3-way branch —
  *  (a) model + valid cache  → load cache, slice to horizon (R:109-110);
  *  (b) model, stale cache   → re-forecast from saved params, refresh
  *                             cache (R:112-114);
  *  (c) miss                 → train and forecast, persisting one
  *                             cache of max(14, horizon) steps: the
  *                             14-step warm cache (R:92-93), or the
  *                             h-step forecast if longer (R:119-121).
  * So the cache always holds max(14, largest horizon seen since the last
  * train). Implemented once, generically, for every method family.
  */
final class Engine(spark: SparkSession, baseDir: String) {
  import spark.implicits._

  /** `forecastsCacheLength <- 14` (R:10). */
  val cacheLength: Int = 14

  val models = new ModelStore(spark, s"$baseDir/forecastModels")
  val cache = new ForecastCache(spark, s"$baseDir/forecastsCache")
  val stamps = new StampStore(spark, s"$baseDir/observationStamps")

  /** Store keys with a branch-(c) train in flight, and its latch. */
  private val training = new ConcurrentHashMap[String, CountDownLatch]()

  /** Ingest→cache invalidation (round-14 engine extension, OFF by
    * default). The reference's cache validity is horizon-only
    * (R:64-82): after new observations arrive it serves the stale
    * forecast until someone deletes the model by hand, and the default
    * `false` faithfully preserves that. With `true`, a saved model (and
    * its cache) is valid only while the observation store's effective
    * series window matches the [[StampStore]] stamp recorded at train
    * time — a streamed append ([[graft.streaming.EventIngest.start]])
    * flips the next `forecast()` back to branch (c). Cost when on: one
    * pushed-down count/max aggregate per forecast call; when off: zero
    * extra reads (the stamp is still RECORDED at train time, so the
    * flag can be enabled later without a mass retrain). */
  @volatile var invalidateOnIngest: Boolean = false

  /** The effective observation window's identity for `name`: row count
    * and max event time over the capped, null-filtered series window —
    * exactly the data a fit sees. Only the [[invalidateOnIngest]]
    * pre-check reads it; a train records the stamp of its own fit's
    * read. */
  private def observationStamp(name: String, sfDir: String): (Long, Long) = {
    val r = SeriesStore.observations(spark, sfDir, Seq(name))
      .agg(count(lit(1)).as("n"), max(col("ts")).as("t")).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** `getAvailableMethods()` (R:12-14). */
  def availableMethods: Seq[String] = Methods.reference

  /** `elasticConnection(...)` + ping (R:16-21): the "connection" is the
    * session + store path; ping = a 1-row probe of the observation
    * store (scan metadata only — the limit is pushed down). */
  def ping(sfDir: String): Boolean =
    try graft.sources.Tables.events(spark, sfDir).limit(1).count() == 1
    catch { case _: Throwable => false }

  /** Fits `method` on `name`'s series with [[Forecaster.fitSeries]]
    * inside a one-row Spark job; returns the model and the stamp
    * `(n_obs, max_ts)` of the rows it fitted, from the same read. */
  private def fitOne(name: String, sfDir: String, method: String, frequency: Int,
      horizon: Int): (SeriesModel, (Long, Long)) = {
    val (m, f, h) = (method, frequency, horizon)
    // PROPHET fits on the calendar-aware path (R:369)
    val (row, nObs, maxTs) = SeriesStore.stampedSeries(spark, sfDir, Seq(name), dated = m == Methods.PROPHET)
      .map(s => (ParamsRow.from(Forecaster.fitSeries(m, s.days, s.values, f, h).params), s.nObs, s.maxTs))
      .head()
    (Families.byMethod(method).fromParams(row.toParams), (nObs, maxTs))
  }

  private def pointsDF(name: String, method: String, model: SeriesModel, h: Int): DataFrame =
    model.forecast(h).toPoints(name, method).toDF()

  /** The generic `forecastXWrapper` (R:104-124 / 143-163 / 182-202 / ...). */
  def forecast(name: String, sfDir: String, method: String, frequency: Int, horizon: Int): DataFrame = {
    val index = indexName(sfDir)
    // reference-faithful mode never touches the stamp (R:64-82 parity);
    // invalidation mode treats a stamp mismatch as "no model": both the
    // saved params and the cache predate the ingest, so branch (c) runs
    val stampNow = if (invalidateOnIngest) Some(observationStamp(name, sfDir)) else None
    def modelUsable = models.exists(name, index, method) &&
      stampNow.forall { case (n, t) => stamps.matches(name, index, method, n, t) }
    if (modelUsable) fromStore(name, index, method, horizon)
    else {
      // (c) one train per key at a time in this engine: later callers wait
      // for it and then take (a) or (b) on what it published; if it
      // failed, they find no model and train themselves
      val key = Names.key(name, index, method)
      val flight = new CountDownLatch(1)
      val leader = training.putIfAbsent(key, flight)
      if (leader != null) {
        leader.await()
        forecast(name, sfDir, method, frequency, horizon)
      } else try {
        // a train may have finished between the check above and the flight
        if (modelUsable) fromStore(name, index, method, horizon)
        else train(name, sfDir, index, method, frequency, horizon)
      } finally {
        training.remove(key, flight)
        flight.countDown()
      }
    }
  }

  /** Branches (a) and (b): validity and slice come from one generation. */
  private def fromStore(name: String, index: String, method: String, horizon: Int): DataFrame =
    cache.validSlice(name, index, method, horizon).getOrElse {
      // (b) re-forecast from the persisted typed params — no refit
      val model = Families.byMethod(method).fromParams(models.load(name, index, method))
      val pts = pointsDF(name, method, model, horizon)
      cache.save(name, index, method, pts)
      pts
    }

  /** Branch (c): full train. The cache gets one generation of
    * max(cacheLength, horizon) steps: the cacheLength-step warm cache,
    * or the h-step forecast when h is longer (R:92-93, R:119-121). The
    * observation stamp is recorded unconditionally, from the fit's own
    * series read (no extra read), so invalidateOnIngest can be enabled
    * on an existing store without forcing a mass retrain. The three
    * publishes run on the driver: the fit's jobs are the train's only
    * Spark work. */
  private def train(name: String, sfDir: String, index: String, method: String, frequency: Int,
      horizon: Int): DataFrame = {
    val (model, (n, t)) = fitOne(name, sfDir, method, frequency, horizon)
    models.save(name, index, method, model.params)
    stamps.save(name, index, method, n, t)
    val pts = pointsDF(name, method, model, horizon)
    cache.save(name, index, method,
      if (horizon > cacheLength) pts else pointsDF(name, method, model, cacheLength))
    pts
  }

  /** The reference keys stores by ES index name; the engine keys by the
    * store directory's basename (e.g. "sf0.01"). */
  def indexName(sfDir: String): String =
    sfDir.stripSuffix("/").split('/').last
}

/** Encoder-friendly row shape for shipping ModelParams off executors. */
final case class ParamsRow(dk: Array[String], dv: Array[Array[Double]], sk: Array[String], sv: Array[String]) {
  def toParams: ModelParams = ModelParams(dk.zip(dv).toMap, sk.zip(sv).toMap)
}
object ParamsRow {
  def from(p: ModelParams): ParamsRow = {
    val d = p.dparams.toArray.sortBy(_._1)
    val s = p.sparams.toArray.sortBy(_._1)
    ParamsRow(d.map(_._1), d.map(_._2), s.map(_._1), s.map(_._2))
  }
}
