package graft.models

import graft.core.{Forecasts, Methods}

/** CV-weighted hybrid ensemble — the engine's `hybridModel(ts,
  * weights = "cv.errors", windowSize = length − 2·cvHorizon,
  * horizonAverage = TRUE, parallel = TRUE, num.cores = 2)`
  * (TimeSeriesFunctions_GPL_0.5.1.R:324-332).
  *
  * Components: ARIMA, ETS, THETA, NN, STL, TBATS — forecastHybrid's
  * full default set "aefnst" (auto.arima, ets, thetam, nnetar, stlm,
  * tbats). Weights ∝ 1/RMSE from ROLLING-ORIGIN cross-validation:
  * train on [0, origin), forecast cvHorizon steps, error against the
  * held-out window, origins sliding one step from `windowSize` to
  * n − cvHorizon (cvts semantics), errors averaged across horizons
  * (`horizonAverage = TRUE`, R:328).
  *
  * The reference forks exactly 2 OS processes for this (R:331-332 — its
  * entire parallelism story); here each series' CV (component, fold)
  * refits run in a loop inside that series' task. CV refits
  * reuse the full fit's selected structure (ETS class / ARIMA order /
  * NN architecture) and re-optimize parameters only — the structure
  * search is done once, not once per fold.
  *
  * Forecast combination (R:339-344): point = Σ wᵢ·meanᵢ; interval bands
  * are the UNWEIGHTED mean of component bands (`PI.combination = "mean"`,
  * R:340). The `cvHorizon = horizon` caller quirk (R:359) is preserved
  * by the Engine wrapper.
  */
object Hybrid {

  val Components: Seq[String] = Seq(
    Methods.ARIMA, Methods.ETS, Methods.THETA, Methods.NN, Methods.STL,
    Methods.TBATS)

  /** Cheap structure-fixed refit used inside CV folds. For NN the fold
    * refit uses fewer restarts/epochs (3/80) — the averaging already
    * damps initialization noise and the fold only needs a comparable
    * error scale, not a deployable net. */
  def cvFit(method: String, y: Array[Double], m: Int, structure: SeriesModel): SeriesModel =
    method match {
      case Methods.ETS =>
        val spec = structure.asInstanceOf[Ets.EtsModel].fitted.spec
        Ets.EtsModel(Ets.fitSpec(y, spec, m).getOrElse(Ets.fallback(y)), Methods.ETS)
      case Methods.ARIMA =>
        val full = structure.asInstanceOf[Arima.ArimaModel]
        val o = full.fit.order
        val (z, u1Tail, yTail) = Arima.difference(y, o.d, o.bigD, m)
        val cand = Arima.fitCandidate(z, o, m).getOrElse(
          return Arima.fitAuto(y, m, forceSeasonal = false, Methods.ARIMA))
        Arima.toModel(z, cand, m, Methods.ARIMA, u1Tail, yTail)
      case Methods.THETA => Theta.ThetaFamily.fit(y, m)
      case Methods.STL   => Stl.StlFamily.fit(y, m)
      case Methods.TBATS =>
        // structure-fixed refit: keep the selected (λ, k, damped, p, q),
        // re-optimize the continuous parameters on the fold window
        val full = structure.asInstanceOf[Tbats.TbatsModel].fitted
        Tbats.TbatsModel(
          Tbats.fitConfig(y, m, full.cfg, full.lambda, maxIter = 150)
            .getOrElse(Tbats.fallback(y)))
      case Methods.NN =>
        val full = structure.asInstanceOf[NNar.NNModel]
        fitSmallNN(y, m, full.p, full.seasonalLag, full.nHidden)
      case other => throw new IllegalArgumentException(other)
    }

  private def fitSmallNN(y: Array[Double], m: Int, p: Int, seasonalLag: Int, nHidden: Int): SeriesModel = {
    import graft.core.Stats
    val n = y.length
    val mu = Stats.mean(y)
    val sd = math.max(1e-8, Stats.stddevSamp(y))
    val z = y.map(v => (v - mu) / sd)
    val bigP = if (seasonalLag > 0) 1 else 0
    val nIn = p + bigP
    val maxLag = math.max(p, seasonalLag)
    if (n <= maxLag + 2) return NaiveFamilies.Naive.fit(y, m)
    val rows = n - maxLag
    val xs = new Array[Array[Double]](rows)
    val ys = new Array[Double](rows)
    var t = maxLag
    while (t < n) {
      val x = new Array[Double](nIn)
      var i = 0
      while (i < p) { x(i) = z(t - 1 - i); i += 1 }
      if (bigP > 0) x(p) = z(t - seasonalLag)
      xs(t - maxLag) = x
      ys(t - maxLag) = z(t)
      t += 1
    }
    val seed = Optim.seedOf(y)
    val rng = new java.util.Random(seed)
    val nets = Array.fill(3)(NNar.train(xs, ys, nIn, nHidden, rng, 400).w)
    NNar.NNModel(p, seasonalLag, nHidden, mu, sd, sd, nets,
      Array.tabulate(maxLag)(i => z(n - 1 - i)), seed)
  }

  /** Rolling-origin CV RMSE per component (horizon-averaged, R:326-328).
    * Each origin advances ONE observation (`cvts` fold semantics): fold i
    * trains on the expanding window [0, windowSize + i), forecasts
    * cvHorizon steps, and errors pool across all (fold, horizon) cells
    * (`horizonAverage = TRUE`). With `windowSize = n − 2·cvHorizon` this
    * yields exactly cvHorizon + 1 folds regardless of series length. */
  /** The fold plan: effective horizon h and the rolling origins
    * (`windowSize = n − 2·h`, one origin per observation, h + 1 folds).
    * Empty origins ⇒ series too short for CV ⇒ [[cvWeights]] falls back
    * to equal weights. */
  def cvPlan(n: Int, m: Int, cvHorizon: Int): (Int, Range) = {
    val h = math.max(1, math.min(cvHorizon, n / 4))
    val windowSize = n - 2 * h
    if (windowSize < math.max(8, 2 * m)) (h, Range(0, 0))
    else (h, windowSize to (n - h) by 1)
  }

  def cvWeights(y: Array[Double], m: Int, cvHorizon: Int,
      structures: Map[String, SeriesModel]): Map[String, Double] = {
    val n = y.length
    val (h, origins) = cvPlan(n, m, cvHorizon)
    if (origins.isEmpty) return Components.map(_ -> 1.0 / Components.size).toMap
    val rmse = Components.map { c =>
      var sse = 0.0
      var cnt = 0
      origins.foreach { origin =>
        val train = java.util.Arrays.copyOfRange(y, 0, origin)
        try {
          val fc = cvFit(c, train, m, structures(c)).forecast(h)
          var j = 0
          while (j < h && origin + j < n) {
            val e = fc.mean(j) - y(origin + j)
            sse += e * e; cnt += 1
            j += 1
          }
        } catch { case _: Throwable => sse += Double.MaxValue / origins.size }
      }
      c -> (if (cnt > 0) math.sqrt(sse / cnt) else Double.MaxValue)
    }.toMap
    val inv = rmse.map { case (c, e) => c -> (if (e > 1e-12) 1.0 / e else 1e12) }
    val total = inv.values.sum
    inv.map { case (c, v) => c -> v / total }
  }

  final case class HybridModel(
      components: Map[String, SeriesModel],
      weights: Map[String, Double]) extends SeriesModel {
    val method: String = Methods.HYBRID
    def forecast(h: Int): Forecasts = {
      val fcs = Components.map(c => c -> components(c).forecast(h)).toMap
      val mean = new Array[Double](h)
      val l1 = new Array[Double](h); val l2 = new Array[Double](h)
      val u1 = new Array[Double](h); val u2 = new Array[Double](h)
      var j = 0
      while (j < h) {
        Components.foreach { c =>
          val f = fcs(c)
          mean(j) += weights(c) * f.mean(j)
          l1(j) += f.lower1(j) / Components.size
          l2(j) += f.lower2(j) / Components.size
          u1(j) += f.upper1(j) / Components.size
          u2(j) += f.upper2(j) / Components.size
        }
        j += 1
      }
      Forecasts(l1, l2, mean, u1, u2)
    }
    def params: ModelParams = {
      // flatten component params under prefixed keys
      val d = scala.collection.mutable.Map[String, Array[Double]]()
      val s = scala.collection.mutable.Map[String, String]()
      Components.foreach { c =>
        val p = components(c).params
        p.dparams.foreach { case (k, v) => d(s"$c.$k") = v }
        p.sparams.foreach { case (k, v) => s(s"$c.$k") = v }
        d(s"$c.weight") = Array(weights(c))
      }
      ModelParams(d.toMap, s.toMap)
    }
  }

  def fromParams(p: ModelParams): HybridModel = {
    def sub(c: String): ModelParams = ModelParams(
      p.dparams.collect { case (k, v) if k.startsWith(c + ".") => k.stripPrefix(c + ".") -> v },
      p.sparams.collect { case (k, v) if k.startsWith(c + ".") => k.stripPrefix(c + ".") -> v })
    val comps = Map[String, SeriesModel](
      Methods.ARIMA -> Arima.fromParams(sub(Methods.ARIMA)),
      Methods.ETS -> Ets.EtsFamily.fromParams(sub(Methods.ETS)),
      Methods.THETA -> Theta.ThetaFamily.fromParams(sub(Methods.THETA)),
      Methods.NN -> NNar.fromParams(sub(Methods.NN)),
      Methods.STL -> Stl.StlFamily.fromParams(sub(Methods.STL)),
      Methods.TBATS -> Tbats.fromParams(sub(Methods.TBATS)))
    val w = Components.map(c => c -> sub(c).d1("weight")).toMap
    HybridModel(comps, w)
  }

  object HybridFamily extends ModelFamily {
    val method: String = Methods.HYBRID
    /** cvHorizon defaults to the forecast-cache length; the Engine
      * wrapper passes the requested horizon to preserve the R:359 quirk. */
    def fit(y: Array[Double], frequency: Int): SeriesModel =
      fitCv(y, frequency, cvHorizon = 14)
    def fitCv(y: Array[Double], m: Int, cvHorizon: Int): HybridModel = {
      val structures: Map[String, SeriesModel] = Map(
        Methods.ARIMA -> Arima.ArimaFamily.fit(y, m),
        Methods.ETS -> Ets.EtsFamily.fit(y, m),
        Methods.THETA -> Theta.ThetaFamily.fit(y, m),
        Methods.NN -> NNar.NNFamily.fit(y, m),
        Methods.STL -> Stl.StlFamily.fit(y, m),
        Methods.TBATS -> Tbats.TbatsFamily.fit(y, m))
      val w = cvWeights(y, m, cvHorizon, structures)
      HybridModel(structures, w)
    }
    def fromParams(p: ModelParams): SeriesModel = Hybrid.fromParams(p)
  }
}
