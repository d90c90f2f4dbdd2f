package graft.models

import graft.core.{Forecasts, Methods, Stats}

/** Bagged ETS — the engine's `baggedETS(ts)` (TimeSeriesFunctions_GPL_0.5.1
  * .R:206): Box-Cox transform (λ by Guerrero's method) → STL decomposition
  * → moving-block bootstrap of the remainder (Bergmeir, Hyndman &
  * Benítez 2016) → one ETS fit per bootstrap replicate → ensemble
  * forecast where the point is the replicate MEAN and the single band is
  * the replicate MIN/MAX, duplicated into both contract levels
  * (R:216-217).
  *
  * `BaggedFamily.fit` runs the whole ensemble in one task, the one fit
  * both the Engine wrapper and the batch path use; replicates come from
  * a generator seeded by the series content, so refits repeat exactly.
  *
  * Cost control: the ETS model CLASS is selected once on the original
  * series; replicates re-optimize only that class's parameters. (R refits
  * the full ets search per replicate — same family of models, ~20×
  * slower; documented divergence, SURVEY.md §7 hard-parts.)
  */
object Bagged {

  val DefaultReplicates = 100

  /** Guerrero's method: λ ∈ [0,1] (the `bld.mbb.bootstrap` bounds)
    * minimizing the coefficient of variation of sd_i/mean_i^(1−λ) over
    * non-overlapping subseries of length max(m, 2). */
  def guerreroLambda(y: Array[Double], m: Int): Double = {
    if (y.exists(_ <= 0)) return 1.0
    val block = math.max(m, 2)
    val nBlocks = y.length / block
    if (nBlocks < 2) return 1.0
    val means = new Array[Double](nBlocks)
    val sds = new Array[Double](nBlocks)
    var b = 0
    while (b < nBlocks) {
      val seg = java.util.Arrays.copyOfRange(y, b * block, (b + 1) * block)
      means(b) = Stats.mean(seg)
      sds(b) = Stats.stddevSamp(seg)
      b += 1
    }
    var bestLam = 1.0
    var bestCv = Double.PositiveInfinity
    var lam = 0.0
    while (lam <= 1.0 + 1e-9) {
      val ratios = Array.tabulate(nBlocks)(i =>
        if (means(i) > 0) sds(i) / math.pow(means(i), 1.0 - lam) else Double.NaN)
      if (!ratios.exists(_.isNaN)) {
        val mu = Stats.mean(ratios)
        val cv = if (math.abs(mu) > 1e-12) Stats.stddevSamp(ratios) / mu else Double.PositiveInfinity
        if (cv < bestCv) { bestCv = cv; bestLam = lam }
      }
      lam += 0.05
    }
    bestLam
  }

  def boxCox(y: Array[Double], lam: Double): Array[Double] =
    if (lam == 1.0) y.clone()
    else if (math.abs(lam) < 1e-9) y.map(math.log)
    else y.map(v => (math.pow(v, lam) - 1.0) / lam)

  def invBoxCox(w: Array[Double], lam: Double): Array[Double] =
    if (lam == 1.0) w.clone()
    else if (math.abs(lam) < 1e-9) w.map(math.exp)
    else w.map(v => math.pow(math.max(lam * v + 1.0, 1e-12), 1.0 / lam))

  def invBoxCox1(v: Double, lam: Double): Double =
    if (lam == 1.0) v
    else if (math.abs(lam) < 1e-9) math.exp(v)
    else math.pow(math.max(lam * v + 1.0, 1e-12), 1.0 / lam)

  /** Moving-block-bootstrap replicates of the series (replicate 0 IS the
    * original — bld.mbb.bootstrap's convention). Deterministic from the
    * series-content seed. */
  def replicates(y: Array[Double], m: Int, num: Int): Array[Array[Double]] = {
    val n = y.length
    val lam = guerreroLambda(y, m)
    val w = boxCox(y, lam)
    val dec = Stl.decompose(w, m)
    // clamp to n: a block longer than the series would index past the
    // remainder array (n=1 crashed here before the degenerate sweep)
    val block = math.min(math.min(if (m > 1) 2 * m else 8, math.max(2, n / 2)), n)
    val rng = new java.util.Random(Optim.seedOf(y) ^ 0x5bd1e995)
    val out = new Array[Array[Double]](num)
    out(0) = y.clone()
    var r = 1
    while (r < num) {
      // sample ⌈n/block⌉+2 blocks, discard a random initial offset
      val nBlocks = n / block + 2
      val boot = new Array[Double](nBlocks * block)
      var b = 0
      while (b < nBlocks) {
        val start = rng.nextInt(math.max(1, n - block + 1))
        var i = 0
        while (i < block) { boot(b * block + i) = dec.remainder(start + i); i += 1 }
        b += 1
      }
      val offset = rng.nextInt(block)
      val rep = new Array[Double](n)
      var i = 0
      while (i < n) {
        val wv = dec.trend(i) + dec.seasonal(i) + boot(offset + i)
        rep(i) = invBoxCox1(wv, lam)
        i += 1
      }
      out(r) = rep
      r += 1
    }
    out
  }

  /** Ensemble combine: point = mean of replicate points, single band =
    * min/max over replicates (R:216-217). */
  def combine(forecasts: Seq[Forecasts]): Forecasts = {
    val h = forecasts.head.length
    val mean = new Array[Double](h)
    val lo = Array.fill(h)(Double.PositiveInfinity)
    val hi = Array.fill(h)(Double.NegativeInfinity)
    forecasts.foreach { f =>
      var j = 0
      while (j < h) {
        mean(j) += f.mean(j)
        if (f.mean(j) < lo(j)) lo(j) = f.mean(j)
        if (f.mean(j) > hi(j)) hi(j) = f.mean(j)
        j += 1
      }
    }
    var j = 0
    while (j < h) { mean(j) /= forecasts.size; j += 1 }
    Forecasts.singleBand(mean, lo, hi)
  }

  /** Re-optimize ONE ETS class's parameters on a replicate (see scaladoc
    * cost note). */
  def refit(rep: Array[Double], spec: Ets.Spec, m: Int): Ets.Fitted =
    Ets.fitSpec(rep, spec, m).getOrElse(Ets.fallback(rep))

  final case class BaggedModel(fits: Array[Ets.Fitted]) extends SeriesModel {
    val method: String = Methods.BAGGEDETS
    def forecast(h: Int): Forecasts = combine(fits.toSeq.map(Ets.forecast(_, h)))
    def params: ModelParams = {
      val base = fits.zipWithIndex.map { case (f, i) =>
        Seq(
          s"smoothing$i" -> Array(f.alpha, f.beta, f.gamma, f.phi),
          s"state$i" -> Array(f.level, f.trend, f.lastIndex.toDouble, f.m.toDouble, f.sigma2, f.aicc),
          s"seasonal$i" -> (if (f.seasonal.isEmpty) Array(0.0) else f.seasonal))
      }.flatten.toMap
      ModelParams(base,
        fits.zipWithIndex.map { case (f, i) => s"spec$i" -> f.spec.toString }.toMap +
          ("n" -> fits.length.toString))
    }
  }

  def fromParams(p: ModelParams): BaggedModel = {
    val n = p.s("n").toInt
    BaggedModel(Array.tabulate(n) { i =>
      val sm = p.d(s"smoothing$i"); val st = p.d(s"state$i")
      val spec = Ets.Spec.parse(p.s(s"spec$i"))
      Ets.Fitted(spec, st(3).toInt, sm(0), sm(1), sm(2), sm(3), st(0), st(1),
        if (spec.hasSeasonal) p.d(s"seasonal$i") else Array.empty,
        st(2).toInt, st(4), st(5), Double.NaN)
    })
  }

  object BaggedFamily extends ModelFamily {
    val method: String = Methods.BAGGEDETS
    def fit(y: Array[Double], frequency: Int): SeriesModel =
      fitN(y, frequency, DefaultReplicates)
    def fitN(y: Array[Double], frequency: Int, num: Int): BaggedModel = {
      val base = Ets.fitAuto(y, frequency, None).getOrElse(Ets.fallback(y))
      val reps = replicates(y, frequency, num)
      BaggedModel(reps.map(r => refit(r, base.spec, frequency)))
    }
    def fromParams(p: ModelParams): SeriesModel = Bagged.fromParams(p)
  }
}
