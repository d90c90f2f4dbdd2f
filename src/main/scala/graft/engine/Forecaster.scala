package graft.engine

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{ForecastPoint, Methods}
import graft.models._
import graft.sources.{Series, SeriesStore}

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

/** Distributed fit + forecast: each series is one group, fitted inside one
  * executor task (`groupByKey.mapGroups` shape — SURVEY.md §2.2-J), then
  * expanded to h contract rows. The driver holds only plans and keys.
  *
  * Methods with internal fan-out get dedicated plans:
  *  - PROPHET consumes the calendar-aware (ds, y) store path (R:35-38);
  *  - BAGGEDETS explodes its bootstrap replicates across executors and
  *    re-aggregates with groupBy(step).agg(avg/min/max) — the replicate
  *    ensemble IS data parallelism (SURVEY.md §7 step 6);
  *  - ARIMA can fan its exhaustive candidate grid out as rows
  *    (fitArimaGrid) so a cluster searches every (series × order)
  *    concurrently — the Spark replacement for `stepwise = FALSE`'s
  *    sequential exhaustive loop.
  */
object Forecaster {

  /** Fit `method` on every series and emit h forecast rows per series. */
  def forecastAll(
      spark: SparkSession,
      series: Dataset[Series],
      method: String,
      frequency: Int,
      horizon: Int): Dataset[ForecastPoint] = {
    import spark.implicits._
    val m = method // avoid capturing outer refs
    val f = frequency
    val h = horizon
    series.flatMap { s =>
      val model = Families.byMethod(m).fit(s.values, f)
      model.forecast(h).toPoints(s.element, m)
    }
  }

  /** Calendar-aware Prophet plan (R:369: frequency hard-coded to daily/7,
    * dates preserved). */
  def forecastProphet(
      spark: SparkSession, sfDir: String, horizon: Int,
      elements: Seq[String] = Nil): Dataset[ForecastPoint] = {
    import spark.implicits._
    val h = horizon
    SeriesStore.datedSeries(spark, sfDir, elements).flatMap { case (element, days, values) =>
      val model = ProphetLite.fitDated(days, values)
      model.forecast(h).toPoints(element, Methods.PROPHET)
    }
  }

  /** Bagged-ETS fan-out plan: one row per (series, replicate) spread
    * across the cluster, ensemble-combined by a step-keyed aggregation
    * (mean point, min/max single band — R:215-217 semantics). */
  def forecastBagged(
      spark: SparkSession, series: Dataset[Series], frequency: Int, horizon: Int,
      numReplicates: Int = Bagged.DefaultReplicates): DataFrame = {
    import spark.implicits._
    val f = frequency
    val h = horizon
    val n = numReplicates
    val parallelism = spark.sparkContext.defaultParallelism
    // stage 1: select the ETS class once per series; emit replicates
    val reps = series.flatMap { s =>
      val base = Ets.fitAuto(s.values, f, None).getOrElse(Ets.fallback(s.values))
      Bagged.replicates(s.values, f, n).zipWithIndex.map { case (rep, i) =>
        (s.element, i, base.spec.toString, rep)
      }
    }
    // stage 2: refit + forecast each replicate in its own task
    val perRep = reps
      .repartition(parallelism) // spread the fit work; replicate rows are small (≤10k doubles)
      .flatMap { case (element, _, specStr, rep) =>
        val fitted = Bagged.refit(rep, Ets.Spec.parse(specStr), f)
        val fc = Ets.forecast(fitted, h)
        (0 until h).map(j => (element, j + 1, fc.mean(j)))
      }
      .toDF("element", "step", "m")
    // stage 3: ensemble combine — one small shuffle on (element, step)
    perRep.groupBy($"element", $"step")
      .agg(avg($"m").as("mean"), min($"m").as("lo"), max($"m").as("hi"))
      .select($"element", lit(Methods.BAGGEDETS).as("method"), $"step",
        $"lo".as("lower1"), $"lo".as("lower2"), $"mean",
        $"hi".as("upper1"), $"hi".as("upper2"))
  }

  /** ARIMA candidate-grid fan-out: stage 1 differences each series and
    * emits (series × order) rows; stage 2 CSS-fits each candidate in its
    * own task; stage 3 reduces to the AICc-argmin per series and
    * forecasts. At cluster scale this searches every candidate of every
    * series concurrently — `min_by` over a tiny shuffled key space. */
  def forecastArimaGrid(
      spark: SparkSession, series: Dataset[Series], frequency: Int, horizon: Int,
      forceSeasonal: Boolean): Dataset[ForecastPoint] = {
    import spark.implicits._
    val m = frequency
    val h = horizon
    val methodName = if (forceSeasonal) Methods.ARIMA_FORCE_SEASONALITY else Methods.ARIMA
    val parallelism = spark.sparkContext.defaultParallelism
    val prepped = series.map { s =>
      val y = s.values
      val seasonalOk = m > 1 && y.length >= 3 * m
      val bigD = if (forceSeasonal && seasonalOk) 1
                 else if (seasonalOk) Arima.selectSeasonalD(y, m) else 0
      val afterSeas = { var u = y; var i = 0; while (i < bigD) { u = graft.core.Stats.diff(u, m); i += 1 }; u }
      val d = Arima.selectD(afterSeas)
      (s.element, d, bigD, if (seasonalOk) 1 else 0, y)
    }
    val candidates = prepped.flatMap { case (element, d, bigD, seasonalOk, y) =>
      Arima.candidateOrders(d, bigD, m, seasonalOk == 1).map { o =>
        (element, o.p, o.q, o.bigP, o.bigQ, if (o.mean) 1 else 0, d, bigD, y)
      }
    }
    val fits = candidates
      .repartition(parallelism)
      .flatMap { case (element, p, q, bp, bq, mean, d, bigD, y) =>
        val o = Arima.Order(p, d, q, bp, bigD, bq, mean == 1)
        val (z, u1Tail, yTail) = Arima.difference(y, d, bigD, m)
        Arima.fitCandidate(z, o, m).map { cand =>
          val model = Arima.toModel(z, cand, m, methodName, u1Tail, yTail)
          (element, cand.aicc, ParamsRow.from(model.params), y)
        }
      }
    // stage 3: the top-K CSS candidates per series survive to the exact-
    // ML rescore (two-stage `approximation = FALSE` — see KalmanMl),
    // UNION the 3 lowest-complexity fits (same reasoning as
    // Arima.rescoreSet: CSS's conditioning flatters AR-heavy models);
    // the group buffer is ~30 small param rows
    val topK = fits.groupByKey(_._1)
      .flatMapGroups { (_: String, it: Iterator[(String, Double, ParamsRow, Array[Double])]) =>
        val rows = it.toArray
        def kOf(r: (String, Double, ParamsRow, Array[Double])): Int = {
          val o = r._3.toParams.d("order")
          o(0).toInt + o(2).toInt + o(3).toInt + o(5).toInt + (if (o(6) > 0.5) 1 else 0)
        }
        (rows.sortBy(_._2).take(KalmanMl.RescoreTop) ++
          rows.sortBy(r => (kOf(r), r._2)).take(3)).distinct.iterator
      }
    // stage 4: one exact-ML refinement task per surviving candidate; a
    // failed refinement keeps its CSS ranking but loses to any success
    val refined = topK
      .repartition(parallelism)
      .map { case (element, cssAicc, row, y) =>
        val model = Arima.fromParams(row.toParams)
        val o = model.fit.order
        val (z, u1Tail, yTail) = Arima.difference(y, o.d, o.bigD, m)
        Arima.fitCandidateExact(z, model.fit, m) match {
          case Some(ml) =>
            (element, ml.aicc,
              ParamsRow.from(Arima.toModel(z, ml, m, methodName, u1Tail, yTail).params))
          case None => (element, 1e15 + cssAicc, row)
        }
      }
    refined.groupByKey(_._1)
      .reduceGroups((a, b) => if (a._2 <= b._2) a else b)
      .flatMap { case (element, (_, _, row)) =>
        Arima.fromParams(row.toParams).forecast(h).toPoints(element, methodName)
      }
  }

  /** ETS model-selection fan-out: one row per (series, candidate class),
    * fitted concurrently, reduced to the AICc argmin per series. The
    * sequential path evaluates ~12 classes in one task; this spreads
    * them so a contended or heterogeneous cluster isn't gated on the
    * slowest fat task. */
  def forecastEtsGrid(
      spark: SparkSession, series: Dataset[Series], frequency: Int, horizon: Int,
      damped: Option[Boolean], methodName: String): Dataset[ForecastPoint] = {
    import spark.implicits._
    val m = frequency
    val h = horizon
    val dampedFlag = damped match { case Some(true) => 1; case Some(false) => 0; case None => 2 }
    val parallelism = spark.sparkContext.defaultParallelism
    val cands = series.flatMap { s =>
      val d = dampedFlag match { case 1 => Some(true); case 0 => Some(false); case _ => None }
      // the degenerate-series fallback rides along as its own candidate
      // (MaxValue score: only wins when every real class fails to fit)
      Ets.candidateSpecs(s.values, m, d).map(spec => (s.element, spec.toString, s.values)) :+
        ((s.element, "__fallback__", s.values))
    }
    val fits = cands
      .repartition(parallelism)
      .flatMap { case (element, specStr, y) =>
        if (specStr == "__fallback__")
          Some((element, Double.MaxValue, ParamsRow.from(Ets.EtsModel(Ets.fallback(y), methodName).params)))
        else Ets.fitSpec(y, Ets.Spec.parse(specStr), m).map { f =>
          (element, f.aicc, ParamsRow.from(Ets.EtsModel(f, methodName).params))
        }
      }
    val mm = methodName
    fits.groupByKey(_._1)
      .reduceGroups((a, b) => if (a._2 <= b._2) a else b)
      .flatMap { case (element, (_, _, row)) =>
        Families.byMethod(mm).fromParams(row.toParams).forecast(h).toPoints(element, mm)
      }
  }

  /** NN restart fan-out: each of the 20 independently-seeded networks
    * trains in its own task; the per-series ensemble is reassembled from
    * the (tiny) weight vectors for forecasting. Training dominates ~20×
    * over the ensemble simulation, so this is near-linear speedup. */
  def forecastNNGrid(
      spark: SparkSession, series: Dataset[Series], frequency: Int, horizon: Int): Dataset[ForecastPoint] = {
    import spark.implicits._
    val m = frequency
    val h = horizon
    val parallelism = spark.sparkContext.defaultParallelism
    // stage 1: per-series architecture + per-restart seeds (cheap)
    val restarts = series.flatMap { s =>
      val arch = NNar.architecture(s.values, m)
      (0 until NNar.Repeats).map(r => (s.element, r, arch.p, arch.seasonalLag, arch.nHidden, s.values))
    }
    // stage 2: train one net per task
    val nets = restarts
      .repartition(parallelism)
      .map { case (element, r, p, sl, nh, y) =>
        (element, r, p, sl, nh, NNar.trainOne(y, m, p, sl, nh, r), y)
      }
    // stage 3: reassemble the ensemble per series, simulate, forecast
    nets.groupByKey(_._1)
      .flatMapGroups { (element: String, it: Iterator[(String, Int, Int, Int, Int, Array[Double], Array[Double])]) =>
        val rows = it.toArray.sortBy(_._2)
        val (_, _, p, sl, nh, _, y) = rows.head
        val model = NNar.assemble(y, m, p, sl, nh, rows.map(_._6))
        model.forecast(h).toPoints(element, Methods.NN)
      }
  }

  /** Hybrid fan-out: stage 1 fits each (series, component) structure in
    * its own task; stage 2 runs each (series, component, CV-fold) refit
    * concurrently; stage 3 reduces fold errors to weights and combines
    * the stage-1 forecasts. The reference caps this exact computation at
    * 2 forked processes (R:331-332) — here it is (#series × 5 × folds)
    * independent tasks. */
  def forecastHybrid(
      spark: SparkSession, series: Dataset[Series], frequency: Int, horizon: Int,
      cvHorizon: Int): Dataset[ForecastPoint] = {
    import spark.implicits._
    val m = frequency
    val h = horizon
    val parallelism = spark.sparkContext.defaultParallelism
    // stage 1: full structure fits, one task per (series, component).
    // localCheckpoint MATERIALIZES the fits: the frame has two consumers
    // (the CV fold fan-out below and the stage-3 combine), and without a
    // lineage cut each consumer re-runs every structure fit — profiled as
    // the query's two dominant stages (2.1 s + 1.8 s at sf0.1, identical
    // 1.36 MB shuffle input; guide §1.2 "don't compute things you throw
    // away"). The checkpoint job runs inside the query (per invocation,
    // nothing persists across runs) and the fits are seeded/deterministic,
    // so computing them once is value-identical to computing them twice.
    val comps = series.flatMap(s => Hybrid.Components.map(c => (s.element, c, s.values)))
      .repartition(parallelism)
      .map { case (element, c, y) =>
        (element, c, ParamsRow.from(Families.byMethod(c).fit(y, m).params), y)
      }
      .localCheckpoint()
    // stage 2: CV refits, one task per (series, component, fold)
    val cvh = cvHorizon
    val folds = comps.flatMap { case (element, c, structRow, y) =>
      val (hh, origins) = Hybrid.cvPlan(y.length, m, cvh)
      origins.iterator.map(origin => (element, c, origin, hh, structRow, y))
    }
    val errs = folds
      .repartition(parallelism)
      .map { case (element, c, origin, hh, structRow, y) =>
        val train = java.util.Arrays.copyOfRange(y, 0, origin)
        val structure = Families.byMethod(c).fromParams(structRow.toParams)
        val sse = try {
          val fc = Hybrid.cvFit(c, train, m, structure).forecast(hh)
          var s = 0.0; var cnt = 0
          var j = 0
          while (j < hh && origin + j < y.length) {
            val e = fc.mean(j) - y(origin + j); s += e * e; cnt += 1; j += 1
          }
          if (cnt > 0) s / cnt else Double.MaxValue
        } catch { case _: Throwable => Double.MaxValue }
        (element, c, sse)
      }
    // stage 3: weights ∝ 1/RMSE; weighted point + mean-band combine
    val weights = errs.groupByKey(r => (r._1, r._2))
      .mapGroups { (key: (String, String), it: Iterator[(String, String, Double)]) =>
        val es = it.map(_._3).toArray
        val (element, c) = key
        (element, c, math.sqrt(es.sum / es.length))
      }
      .groupByKey(_._1)
      .mapGroups { (element: String, it: Iterator[(String, String, Double)]) =>
        val rmse = it.map(r => r._2 -> r._3).toMap
        val inv = rmse.map { case (c, e) => c -> (if (e > 1e-12) 1.0 / e else 1e12) }
        val tot = inv.values.sum
        (element, inv.map { case (c, v) => c -> v / tot })
      }
    val compModels = comps.map { case (element, c, row, _) => (element, c, row) }
    compModels.groupByKey(_._1)
      .cogroup(weights.groupByKey(_._1)) { (element, compIt, wIt) =>
        val byComp = compIt.map(r => r._2 -> r._3).toMap
        val w = wIt.toSeq.headOption.map(_._2)
          .getOrElse(Hybrid.Components.map(_ -> 1.0 / Hybrid.Components.size).toMap)
        val models = byComp.map { case (c, row) => c -> Families.byMethod(c).fromParams(row.toParams) }
        Hybrid.HybridModel(models, w).forecast(h).toPoints(element, Methods.HYBRID).iterator
      }
  }

  /** Convenience: forecast every element in the store with `method`. */
  def forecastStore(
      spark: SparkSession,
      sfDir: String,
      method: String,
      frequency: Int,
      horizon: Int,
      elements: Seq[String] = Nil): DataFrame = {
    import spark.implicits._
    def ser = SeriesStore.series(spark, sfDir, elements)
    val out = method match {
      case Methods.PROPHET =>
        forecastProphet(spark, sfDir, horizon, elements).toDF()
      case Methods.BAGGEDETS =>
        forecastBagged(spark, ser, frequency, horizon)
      case Methods.ARIMA | Methods.ARIMA_FORCE_SEASONALITY =>
        forecastArimaGrid(spark, ser, frequency, horizon,
          method == Methods.ARIMA_FORCE_SEASONALITY).toDF()
      case Methods.ETS =>
        forecastEtsGrid(spark, ser, frequency, horizon, Some(false), Methods.ETS).toDF()
      case Methods.ETSDAMPED =>
        forecastEtsGrid(spark, ser, frequency, horizon, Some(true), Methods.ETSDAMPED).toDF()
      case Methods.NN =>
        forecastNNGrid(spark, ser, frequency, horizon).toDF()
      case Methods.HYBRID =>
        forecastHybrid(spark, ser, frequency, horizon, cvHorizon = horizon).toDF()
      case _ =>
        forecastAll(spark, ser, method, frequency, horizon).toDF()
    }
    // one hash partition sorted in place: the same rows in the same order
    // as a global sort, without the range exchange's sampling job, which
    // would run every upstream fit a second time
    out.repartition(1, col("element")).sortWithinPartitions("element", "step")
  }
}

/** The generic wrapper skeleton shared by all 7 reference wrappers
  * (R:104-124 etc.): 3-way branch —
  *  (a) model + valid cache  → load cache, slice to horizon (R:109-110);
  *  (b) model, stale cache   → re-forecast from saved params, refresh
  *                             cache (R:112-114);
  *  (c) miss                 → train (warming a 14-step cache, R:92-93),
  *                             forecast, persist cache only if
  *                             horizon > 14 (R:119-121).
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

  /** Fits `method` on `name`'s series inside a one-row Spark job; returns
    * the model and the stamp `(n_obs, max_ts)` of the rows it fitted,
    * from the same read. */
  private def fitOne(name: String, sfDir: String, method: String, frequency: Int,
      horizon: Int): (SeriesModel, (Long, Long)) = {
    val family = Families.byMethod(method)
    val f = frequency
    val h = horizon
    // PROPHET fits on the calendar-aware path (R:369)
    val (row, nObs, maxTs) = SeriesStore.stampedSeries(spark, sfDir, Seq(name), dated = method == Methods.PROPHET)
      .map { s =>
        val params = method match {
          case Methods.PROPHET => ProphetLite.fitDated(s.days, s.values).params
          // the reference passes the REQUESTED horizon as cvHorizon (R:359)
          // — CV granularity depends on the first caller's horizon
          case Methods.HYBRID => Hybrid.HybridFamily.fitCv(s.values, f, h).params
          case _ => family.fit(s.values, f).params
        }
        (ParamsRow.from(params), s.nObs, s.maxTs)
      }
      .head()
    (family.fromParams(row.toParams), (nObs, maxTs))
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

  /** Branch (c): full train; training itself warms a cacheLength-step
    * cache. The observation stamp is recorded unconditionally, from the
    * fit's own series read (no extra read), so invalidateOnIngest can be
    * enabled on an existing store without forcing a mass retrain. The
    * three publishes run on the driver: the fit's jobs are the train's
    * only Spark work. */
  private def train(name: String, sfDir: String, index: String, method: String, frequency: Int,
      horizon: Int): DataFrame = {
    val (model, (n, t)) = fitOne(name, sfDir, method, frequency, horizon)
    models.save(name, index, method, model.params)
    stamps.save(name, index, method, n, t)
    cache.save(name, index, method, pointsDF(name, method, model, cacheLength))
    val pts = pointsDF(name, method, model, horizon)
    if (horizon > cacheLength) cache.save(name, index, method, pts)
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
