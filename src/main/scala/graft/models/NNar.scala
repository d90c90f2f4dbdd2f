package graft.models

import graft.core.{Forecasts, Methods, Stats}

/** Feed-forward autoregressive neural net — the engine's `nnetar(ts)`
  * (TimeSeriesFunctions_GPL_0.5.1.R:285) with simulation-based prediction
  * intervals (`forecast(model, h, PI = TRUE)`, R:293).
  *
  * nnetar semantics preserved: inputs are lags 1..p (p chosen by AICc of
  * a linear AR fit, nnetar's default) plus the seasonal lag m when the
  * series is seasonal (P = 1); one hidden layer of size ⌈(p+P+1)/2⌉ with
  * sigmoid units and linear output; 20 independently-initialized networks
  * whose predictions are AVERAGED (nnetar's `repeats = 20`); inputs
  * standardized. Prediction intervals come from 1000 simulated future
  * sample paths with Gaussian innovations (σ = residual sd), quantiles at
  * 80/95 — seeded deterministically from the series content (SURVEY.md
  * §5.4: stochastic PIs must be reproducible), so repeated runs are
  * bit-identical.
  */
object NNar {

  val Repeats = 20
  val SimPaths = 1000
  /** Adam steps per network. Minibatched (batch 256, sequential
    * wrap-around — deterministic), so training cost is INDEPENDENT of
    * series length: a 10k-point series costs the same as 1k. */
  val AdamSteps = 1200
  val BatchSize = 256

  /** Select AR order by AICc of OLS AR(p), p ∈ 1..maxP — nnetar's
    * default order selection. */
  def selectP(y: Array[Double], maxP: Int): Int = {
    val n = y.length
    var best = 1
    var bestAicc = Double.PositiveInfinity
    var p = 1
    while (p <= maxP) {
      val rows = n - p
      if (rows > p + 3) {
        // OLS y_t ~ y_{t-1..t-p} via normal equations
        val dim = p + 1
        val xtx = Array.ofDim[Double](dim, dim)
        val xty = new Array[Double](dim)
        var t = p
        while (t < n) {
          var i = 0
          while (i < dim) {
            val xi = if (i == 0) 1.0 else y(t - i)
            xty(i) += xi * y(t)
            var j = 0
            while (j <= i) {
              val xj = if (j == 0) 1.0 else y(t - j)
              xtx(i)(j) += xi * xj; j += 1
            }
            i += 1
          }
          t += 1
        }
        var i2 = 0
        while (i2 < dim) { var j = i2 + 1; while (j < dim) { xtx(i2)(j) = xtx(j)(i2); j += 1 }; i2 += 1 }
        val beta = ProphetLite.ridgeSolve(xtx, xty, Array.fill(dim)(1e-8))
        var sse = 0.0
        t = p
        while (t < n) {
          var pred = beta(0)
          var i = 1
          while (i < dim) { pred += beta(i) * y(t - i); i += 1 }
          val e = y(t) - pred
          sse += e * e
          t += 1
        }
        val k = dim + 1.0
        if (sse > 0 && rows - k - 1 > 0) {
          val aicc = rows * math.log(sse / rows) + 2 * k + 2 * k * (k + 1) / (rows - k - 1)
          if (aicc < bestAicc) { bestAicc = aicc; best = p }
        }
      }
      p += 1
    }
    best
  }

  /** One tiny MLP: weights packed [W1 (hidden×in+bias) | W2 (out: hidden+bias)]. */
  final class Net(val nIn: Int, val nHidden: Int, val w: Array[Double]) {
    def predict(x: Array[Double]): Double = {
      var out = w(w.length - 1) // output bias (last)
      var hIdx = 0
      while (hIdx < nHidden) {
        var a = w(hIdx * (nIn + 1) + nIn) // hidden bias
        var i = 0
        while (i < nIn) { a += w(hIdx * (nIn + 1) + i) * x(i); i += 1 }
        val act = 1.0 / (1.0 + math.exp(-a))
        out += w(nHidden * (nIn + 1) + hIdx) * act
        hIdx += 1
      }
      out
    }
  }

  object Net {
    def nWeights(nIn: Int, nHidden: Int): Int = nHidden * (nIn + 1) + nHidden + 1
  }

  /** Minibatch Adam on squared error. Deterministic given the rng (init
    * only; batches advance sequentially with wrap-around). */
  def train(xs: Array[Array[Double]], ys: Array[Double], nIn: Int, nHidden: Int,
      rng: java.util.Random, steps: Int): Net = {
    val nw = Net.nWeights(nIn, nHidden)
    val w = Array.fill(nw)((rng.nextDouble() - 0.5) * 0.7) // nnet-style U(-0.35, 0.35) init
    val m = new Array[Double](nw)
    val v = new Array[Double](nw)
    val grad = new Array[Double](nw)
    val hiddenA = new Array[Double](nHidden)
    val lr = 0.03
    val n = xs.length
    // no training rows (series shorter than the lag window): keep the
    // seeded init — the Adam step would divide the zero gradient by a
    // zero batch and poison every weight with NaN
    if (n == 0) return new Net(nIn, nHidden, w)
    val batch = math.min(BatchSize, n)
    var cursor = 0
    var epoch = 0
    while (epoch < steps) {
      java.util.Arrays.fill(grad, 0.0)
      var b = 0
      while (b < batch) {
        val t = cursor
        cursor += 1; if (cursor >= n) cursor = 0
        val x = xs(t)
        // forward
        var out = w(nw - 1)
        var hIdx = 0
        while (hIdx < nHidden) {
          var a = w(hIdx * (nIn + 1) + nIn)
          var i = 0
          while (i < nIn) { a += w(hIdx * (nIn + 1) + i) * x(i); i += 1 }
          val act = 1.0 / (1.0 + math.exp(-a))
          hiddenA(hIdx) = act
          out += w(nHidden * (nIn + 1) + hIdx) * act
          hIdx += 1
        }
        // backward (dL/dout = 2e)
        val e = out - ys(t)
        grad(nw - 1) += e
        hIdx = 0
        while (hIdx < nHidden) {
          val act = hiddenA(hIdx)
          grad(nHidden * (nIn + 1) + hIdx) += e * act
          val dAct = e * w(nHidden * (nIn + 1) + hIdx) * act * (1.0 - act)
          grad(hIdx * (nIn + 1) + nIn) += dAct
          var i = 0
          while (i < nIn) { grad(hIdx * (nIn + 1) + i) += dAct * x(i); i += 1 }
          hIdx += 1
        }
        b += 1
      }
      // Adam step
      val b1 = 0.9; val b2 = 0.999
      val bc1 = 1.0 - math.pow(b1, epoch + 1.0)
      val bc2 = 1.0 - math.pow(b2, epoch + 1.0)
      var k = 0
      while (k < nw) {
        val g = grad(k) / batch
        m(k) = b1 * m(k) + (1 - b1) * g
        v(k) = b2 * v(k) + (1 - b2) * g * g
        w(k) -= lr * (m(k) / bc1) / (math.sqrt(v(k) / bc2) + 1e-8)
        k += 1
      }
      epoch += 1
    }
    new Net(nIn, nHidden, w)
  }

  final case class NNModel(
      p: Int, seasonalLag: Int, nHidden: Int,
      mu: Double, sd: Double, residSd: Double,
      nets: Array[Array[Double]], tail: Array[Double], seed: Long)
      extends SeriesModel {
    val method: String = Methods.NN
    private def nIn = p + (if (seasonalLag > 0) 1 else 0)

    /** Averaged one-step prediction from the standardized lag window
      * (window(0) = most recent). */
    private def step(window: Array[Double]): Double = {
      val x = new Array[Double](nIn)
      var i = 0
      while (i < p) { x(i) = window(i); i += 1 }
      if (seasonalLag > 0) x(p) = window(seasonalLag - 1)
      var s = 0.0
      var k = 0
      while (k < nets.length) { s += new Net(nIn, nHidden, nets(k)).predict(x); k += 1 }
      s / nets.length
    }

    def forecast(h: Int): Forecasts = {
      val maxLag = math.max(p, seasonalLag)
      // point path: no-noise recursion (nnetar's point forecast)
      val mean = new Array[Double](h)
      locally {
        val win = tail.clone() // win(0) = z_{n}, win(1) = z_{n-1}, ...
        var j = 0
        while (j < h) {
          val zh = step(win)
          mean(j) = zh * sd + mu
          System.arraycopy(win, 0, win, 1, maxLag - 1)
          win(0) = zh
          j += 1
        }
      }
      // simulated paths for the PI quantiles
      val rng = new java.util.Random(seed)
      val sims = Array.ofDim[Double](h, SimPaths)
      var pth = 0
      while (pth < SimPaths) {
        val win = tail.clone()
        var j = 0
        while (j < h) {
          val zh = step(win) + rng.nextGaussian() * (residSd / sd)
          sims(j)(pth) = zh * sd + mu
          System.arraycopy(win, 0, win, 1, maxLag - 1)
          win(0) = zh
          j += 1
        }
        pth += 1
      }
      val l1 = new Array[Double](h); val l2 = new Array[Double](h)
      val u1 = new Array[Double](h); val u2 = new Array[Double](h)
      var j = 0
      while (j < h) {
        val s = sims(j)
        java.util.Arrays.sort(s)
        // clamp the sim quantiles to CONTAIN the deterministic point
        // path: a saturating network responds asymmetrically to the
        // Gaussian innovations, so on skewed series the no-noise
        // iterate can drift outside the simulated quantiles (first
        // seen on the sf0.1 store's 128-point fit slices — the
        // sf0.01-only check never hit it). The engine's band contract
        // (lower2 ≤ lower1 ≤ mean ≤ upper1 ≤ upper2, the invariant
        // every consumer of R:99-101's 5-column table assumes) is
        // restored by widening, never narrowing, the affected side.
        l1(j) = math.min(quantile(s, 0.10), mean(j))
        l2(j) = math.min(quantile(s, 0.025), mean(j))
        u1(j) = math.max(quantile(s, 0.90), mean(j))
        u2(j) = math.max(quantile(s, 0.975), mean(j))
        j += 1
      }
      Forecasts(l1, l2, mean, u1, u2)
    }

    /** Type-7 (R default) quantile on a sorted array. */
    private def quantile(sorted: Array[Double], q: Double): Double = {
      val n = sorted.length
      val pos = (n - 1) * q
      val lo = pos.toInt
      val frac = pos - lo
      if (lo + 1 < n) sorted(lo) * (1 - frac) + sorted(lo + 1) * frac else sorted(lo)
    }

    def params: ModelParams = ModelParams(
      Map(
        "meta" -> Array(p, seasonalLag, nHidden, mu, sd, residSd,
          java.lang.Double.longBitsToDouble(seed)),
        "tail" -> tail) ++
        nets.zipWithIndex.map { case (w, i) => s"net$i" -> w }.toMap,
      Map("nNets" -> nets.length.toString))
  }

  def fromParams(pp: ModelParams): NNModel = {
    val m = pp.d("meta")
    val nNets = pp.s("nNets").toInt
    NNModel(m(0).toInt, m(1).toInt, m(2).toInt, m(3), m(4), m(5),
      Array.tabulate(nNets)(i => pp.d(s"net$i")), pp.d("tail"),
      java.lang.Double.doubleToRawLongBits(m(6)))
  }

  object NNFamily extends ModelFamily {
    val method: String = Methods.NN
    def fit(y: Array[Double], frequency: Int): SeriesModel = {
      val n = y.length
      val mu = Stats.mean(y)
      val sd = math.max(1e-8, Stats.stddevSamp(y))
      val z = y.map(v => (v - mu) / sd)
      val p = selectP(z, math.min(10, math.max(1, n / 4)))
      val seasonalLag = if (frequency > 1 && n > 3 * frequency) frequency else 0
      val bigP = if (seasonalLag > 0) 1 else 0
      val nHidden = math.max(1, math.round((p + bigP + 1) / 2.0).toInt)
      val nIn = p + bigP
      val maxLag = math.max(p, seasonalLag)
      // training rows: x = [lag1..lagp, (lag m)], target z_t
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
      val nets = Array.fill(Repeats)(train(xs, ys, nIn, nHidden, rng, AdamSteps).w)
      // residual sd of the averaged net (original scale)
      val model0 = NNModel(p, seasonalLag, nHidden, mu, sd, sd,
        nets, Array.tabulate(maxLag)(i => z(n - 1 - i)), seed)
      var sse = 0.0
      t = maxLag
      while (t < n) {
        var s = 0.0
        var k = 0
        while (k < nets.length) { s += new Net(nIn, nHidden, nets(k)).predict(xs(t - maxLag)); k += 1 }
        val e = (z(t) - s / nets.length) * sd
        sse += e * e
        t += 1
      }
      val residSd = math.sqrt(sse / math.max(1, rows))
      model0.copy(residSd = residSd)
    }
    def fromParams(p: ModelParams): SeriesModel = NNar.fromParams(p)
  }
}
