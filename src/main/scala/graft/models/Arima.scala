package graft.models

import graft.core.{Forecasts, Methods, Stats}

/** Seasonal ARIMA — the engine's `auto.arima(ts, D = if(forceSeasonality)
  * 1 else NA, stepwise = FALSE, approximation = FALSE)`
  * (TimeSeriesFunctions_GPL_0.5.1.R:90, flag logic R:84-88).
  *
  * Matching the reference's *search semantics*, not CRAN's exact numbers
  * (SURVEY.md §7 hard-parts): d is chosen by repeated KPSS level tests
  * (5% critical value 0.463, max d = 2 — `ndiffs`), D by the STL
  * seasonal-strength heuristic (strength > 0.64 → D = 1 — `nsdiffs`
  * "seas" measure) unless forced to 1 by ARIMA_FORCE_SEASONALITY; the
  * (p,q,P,Q) grid is searched EXHAUSTIVELY (p,q ≤ 3; P,Q ≤ 1) scored by
  * AICc, the `stepwise=FALSE` behavior.
  *
  * Estimation is conditional-sum-of-squares with parameters optimized in
  * partial-autocorrelation space (Durbin–Levinson / Monahan transform —
  * the same trick as R arima's `transform.pars`), which guarantees
  * stationary AR and invertible MA polynomials by construction, so the
  * forecast recursion and ψ-weight variance always converge.
  *
  * Fit of ONE candidate is a single-task O(grid · NM-iters · n) loop;
  * the engine fits each series in one task (Forecaster.fitSeries).
  */
object Arima {

  val MaxP = 3
  val MaxQ = 3
  val MaxSeasonalP = 1
  val MaxSeasonalQ = 1

  // ------------------------------------------------------------ d / D

  /** KPSS level-stationarity statistic with Bartlett long-run variance,
    * lag truncation trunc(4·(n/100)^0.25) (tseries::kpss.test "short"). */
  def kpssStat(y: Array[Double]): Double = {
    val n = y.length
    if (n < 8) return 0.0
    val mu = Stats.mean(y)
    val e = y.map(_ - mu)
    val s = new Array[Double](n)
    var acc = 0.0
    var i = 0
    while (i < n) { acc += e(i); s(i) = acc; i += 1 }
    var eta = 0.0
    i = 0
    while (i < n) { eta += s(i) * s(i); i += 1 }
    val l = math.max(1, math.floor(4.0 * math.pow(n / 100.0, 0.25)).toInt)
    var lrv = 0.0
    i = 0
    while (i < n) { lrv += e(i) * e(i); i += 1 }
    var k = 1
    while (k <= l) {
      var g = 0.0
      var t = k
      while (t < n) { g += e(t) * e(t - k); t += 1 }
      lrv += 2.0 * (1.0 - k / (l + 1.0)) * g
      k += 1
    }
    if (lrv <= 0) return 0.0
    // η = n⁻² Σ S_t² / σ̂²_lrv with σ̂² = lrv/n  ⇒  Σ S_t² / (n · lrv)
    eta / (n.toDouble * lrv)
  }

  /** `ndiffs`: difference until KPSS accepts stationarity (max 2). */
  def selectD(y: Array[Double], max: Int = 2): Int = {
    var z = y
    var d = 0
    while (d < max && z.length >= 8 && kpssStat(z) > 0.463) {
      z = Stats.diff(z); d += 1
    }
    d
  }

  /** `nsdiffs` ("seas" measure): STL seasonal strength
    * 1 − var(remainder)/var(seasonal + remainder) > 0.64 → D = 1. */
  def selectSeasonalD(y: Array[Double], m: Int): Int = {
    if (m <= 1 || y.length < 2 * m + 2) return 0
    val dec = Stl.decompose(y, m)
    val sr = Array.tabulate(y.length)(i => dec.seasonal(i) + dec.remainder(i))
    val vR = variance(dec.remainder)
    val vSR = variance(sr)
    if (vSR <= 0) return 0
    val strength = math.max(0.0, 1.0 - vR / vSR)
    if (strength > 0.64) 1 else 0
  }

  private def variance(x: Array[Double]): Double = {
    val s = Stats.stddevSamp(x); s * s
  }

  // ------------------------------------------------- transforms / polys

  /** Durbin–Levinson: partial autocorrelations (each in (−1,1)) → AR
    * coefficients of a stationary polynomial 1 − Σφ_i B^i. */
  def pacfToCoef(r: Array[Double]): Array[Double] = {
    val p = r.length
    val phi = new Array[Double](p)
    val work = new Array[Double](p)
    var k = 0
    while (k < p) {
      phi(k) = r(k)
      var i = 0
      while (i < k) { work(i) = phi(i) - r(k) * phi(k - 1 - i); i += 1 }
      System.arraycopy(work, 0, phi, 0, k)
      k += 1
    }
    phi
  }

  /** Polynomial multiply: a(B)·b(B), coefficient arrays with a(0)=1. */
  def polyMul(a: Array[Double], b: Array[Double]): Array[Double] = {
    val out = new Array[Double](a.length + b.length - 1)
    var i = 0
    while (i < a.length) {
      var j = 0
      while (j < b.length) { out(i + j) += a(i) * b(j); j += 1 }
      i += 1
    }
    out
  }

  /** 1 − Σφ_i B^i (regular, lag 1) and seasonal 1 − ΣΦ_i B^{im} expanded
    * to a single full coefficient array c with c(0)=1. */
  def expand(reg: Array[Double], seas: Array[Double], m: Int): Array[Double] = {
    val a = new Array[Double](reg.length + 1)
    a(0) = 1.0
    var i = 0
    while (i < reg.length) { a(i + 1) = -reg(i); i += 1 }
    if (seas.isEmpty) return a
    val b = new Array[Double](seas.length * m + 1)
    b(0) = 1.0
    i = 0
    while (i < seas.length) { b((i + 1) * m) = -seas(i); i += 1 }
    polyMul(a, b)
  }

  /** (1−B)^d (1−B^m)^D as a coefficient array. */
  def diffPoly(d: Int, bigD: Int, m: Int): Array[Double] = {
    var out = Array(1.0)
    val one = Array(1.0, -1.0)
    var i = 0
    while (i < d) { out = polyMul(out, one); i += 1 }
    if (bigD > 0 && m > 1) {
      val seas = new Array[Double](m + 1)
      seas(0) = 1.0; seas(m) = -1.0
      i = 0
      while (i < bigD) { out = polyMul(out, seas); i += 1 }
    }
    out
  }

  // ------------------------------------------------------------ CSS fit

  final case class Order(p: Int, d: Int, q: Int, bigP: Int, bigD: Int, bigQ: Int, mean: Boolean) {
    /** Free-parameter count (ex σ²). */
    def k: Int = p + q + bigP + bigQ + (if (mean) 1 else 0)
  }

  /** `auto.arima` parity: a fit whose AR or MA polynomial has a root
    * within 1% of the unit circle is "close to non-stationary /
    * non-invertible" and is rejected (its forecast variance recursion
    * and near-cancelling parameterizations are unreliable). */
  private def rootTooClose(poly: Array[Double]): Boolean =
    poly.length > 1 && KalmanMl.minRootModulus(poly) < 1.01

  /** CSS objective pieces for one parameter vector on the differenced
    * series z. `arFull`/`maFull` are expanded coefficient arrays
    * (index 0 == lag-0 term == 1). Returns (sse, neff) or null on
    * numeric failure. */
  def cssResiduals(z: Array[Double], mu: Double,
      arFull: Array[Double], maFull: Array[Double]): (Array[Double], Int) = {
    val n = z.length
    val pF = arFull.length - 1
    val qF = maFull.length - 1
    val e = new Array[Double](n)
    var t = pF
    while (t < n) {
      // w_t - Σφ w_{t-i}  (arFull holds 1, -φ_1, ...)
      var acc = 0.0
      var i = 0
      while (i <= pF) { acc += arFull(i) * (z(t - i) - mu); i += 1 }
      // subtract MA terms θ_j e_{t-j} (maFull holds 1, θ_1, ...)
      var j = 1
      while (j <= qF) { if (t - j >= pF) acc -= maFull(j) * e(t - j); j += 1 }
      e(t) = acc
      t += 1
    }
    (e, n - pF)
  }

  final case class CandidateFit(
      order: Order, m: Int,
      arReg: Array[Double], arSeas: Array[Double],
      maReg: Array[Double], maSeas: Array[Double],
      mu: Double, sigma2: Double, aicc: Double)

  /** Fit one (p,q,P,Q,mean) candidate on the differenced series z by
    * Nelder–Mead over PACF-space parameters (CSS objective). */
  def fitCandidate(z: Array[Double], order: Order, m: Int): Option[CandidateFit] =
    fitCandidateImpl(z, order, m, exact = false, warm = None)

  /** Exact-ML refinement of a CSS-fitted candidate: same PACF-space
    * parameterization, Kalman-filter likelihood objective, warm-started
    * at the CSS optimum (`auto.arima`'s `approximation = FALSE`
    * estimation, R:90 — see [[KalmanMl]]). The returned AICc is on the
    * exact-likelihood scale and only comparable with other exact fits. */
  def fitCandidateExact(z: Array[Double], warm: CandidateFit, m: Int): Option[CandidateFit] =
    fitCandidateImpl(z, warm.order, m, exact = true, warm = Some(warm))

  private def fitCandidateImpl(z: Array[Double], order: Order, m: Int,
      exact: Boolean, warm: Option[CandidateFit]): Option[CandidateFit] = {
    import order._
    val nz = z.length
    val k = p + q + bigP + bigQ + (if (mean) 1 else 0)
    if (nz - (p + bigP * m) < math.max(8, k + 2)) return None
    val zMean = if (mean) Stats.mean(z) else 0.0

    def unpack(x: Array[Double]): (Array[Double], Array[Double], Array[Double], Array[Double], Double) = {
      var idx = 0
      def take(len: Int): Array[Double] = {
        val r = new Array[Double](len)
        var i = 0
        while (i < len) { r(i) = 0.97 * math.tanh(x(idx)); idx += 1; i += 1 }
        pacfToCoef(r)
      }
      val arR = take(p)
      val arS = take(bigP)
      val maR0 = take(q)
      val maS0 = take(bigQ)
      // invertible MA: θ(B) = 1 + Σθ_j B^j with θ_j = −(stationary AR coefs)
      val maR = maR0.map(-_)
      val maS = maS0.map(-_)
      val muV = if (mean) { val v = zMean + x(idx); idx += 1; v } else 0.0
      (arR, arS, maR, maS, muV)
    }
    def objective(x: Array[Double]): Double = {
      val (arR, arS, maR, maS, muV) = unpack(x)
      val arFull = expand(arR, arS, m)
      // maFull: 1 + θ(B) terms — expand() builds 1 − Σc B, so negate inputs
      val maFull = expand(maR.map(-_), maS.map(-_), m)
      if (exact) {
        val res = KalmanMl.exactNegLogLik(z, muV, arFull, maFull)
        if (res == null) 1e12 else res._1
      } else {
        val (e, neff) = cssResiduals(z, muV, arFull, maFull)
        var sse = 0.0
        var t = z.length - neff
        while (t < z.length) { sse += e(t) * e(t); t += 1 }
        if (!java.lang.Double.isFinite(sse) || sse <= 0) 1e12
        else neff * math.log(sse / neff)
      }
    }
    val dim = k
    if (dim == 0) {
      // white noise / pure differencing candidate
      if (exact) {
        val res = KalmanMl.exactNegLogLik(z, 0.0, Array(1.0), Array(1.0))
        if (res == null || nz <= 3) return None
        val kk = 1.0
        val aicc = res._1 + 2 * kk + 2 * kk * (kk + 1) / (nz - kk - 1)
        return Some(CandidateFit(order, m, Array.empty, Array.empty, Array.empty, Array.empty, 0.0, res._2, aicc))
      }
      val (e, neff) = cssResiduals(z, 0.0, Array(1.0), Array(1.0))
      var sse = 0.0
      var t = z.length - neff
      while (t < z.length) { sse += e(t) * e(t); t += 1 }
      if (sse <= 0 || neff <= 2) return None
      val sigma2 = sse / neff
      val kk = 1.0
      val ll = -0.5 * neff * (math.log(2 * math.Pi * sigma2) + 1.0)
      val aicc = -2 * ll + 2 * kk + 2 * kk * (kk + 1) / (neff - kk - 1)
      return Some(CandidateFit(order, m, Array.empty, Array.empty, Array.empty, Array.empty, 0.0, sigma2, aicc))
    }
    // warm start: invert the PACF-space mapping at the CSS optimum so the
    // exact refinement begins where CSS ended (atanh(pacf/0.97) per lag)
    def toX(r: Array[Double]): Array[Double] = r.map { v =>
      val c = math.max(-0.999, math.min(0.999, v / 0.97))
      0.5 * math.log((1 + c) / (1 - c))
    }
    val x0 = warm match {
      case Some(w) =>
        (toX(KalmanMl.coefToPacf(w.arReg)) ++ toX(KalmanMl.coefToPacf(w.arSeas)) ++
          toX(KalmanMl.coefToPacf(w.maReg.map(-_))) ++ toX(KalmanMl.coefToPacf(w.maSeas.map(-_))) ++
          (if (mean) Array(w.mu - zMean) else Array.empty[Double]))
      case None => new Array[Double](dim)
    }
    val step = Array.fill(dim)(if (warm.isDefined) 0.05 else 0.2)
    if (mean) step(dim - 1) = math.max(1e-8, Stats.stddevSamp(z) * (if (warm.isDefined) 0.02 else 0.1))
    // negLL magnitude ~n·log(SSE): 1e-6 relative ≈ 1e-3 absolute here,
    // far below any AICc-relevant difference — candidates near the
    // invertibility boundary would otherwise burn the full budget
    val (xb, fb) = Optim.nelderMead(objective, x0, step,
      maxIter = if (exact) 200 else 250, tol = 1e-6)
    if (fb >= 1e12) return None
    val (arR, arS, maR, maS, muV) = unpack(xb)
    val arFull = expand(arR, arS, m)
    val maFull = expand(maR.map(-_), maS.map(-_), m)
    if (rootTooClose(arFull) || rootTooClose(maFull)) return None
    if (exact) {
      val res = KalmanMl.exactNegLogLik(z, muV, arFull, maFull)
      if (res == null || nz - k - 2 <= 0) return None
      val kk = k + 1.0 // + sigma2
      val aicc = res._1 + 2 * kk + 2 * kk * (kk + 1) / (nz - kk - 1)
      return Some(CandidateFit(order, m, arR, arS, maR, maS, muV, res._2, aicc))
    }
    val (e, neff) = cssResiduals(z, muV, arFull, maFull)
    var sse = 0.0
    var t = z.length - neff
    while (t < z.length) { sse += e(t) * e(t); t += 1 }
    if (!java.lang.Double.isFinite(sse) || sse <= 0 || neff - k - 2 <= 0) return None
    val sigma2 = sse / neff
    val kk = k + 1.0 // + sigma2
    val ll = -0.5 * neff * (math.log(2 * math.Pi * sigma2) + 1.0)
    val aicc = -2 * ll + 2 * kk + 2 * kk * (kk + 1) / (neff - kk - 1)
    Some(CandidateFit(order, m, arR, arS, maR, maS, muV, sigma2, aicc))
  }

  /** The exhaustive candidate grid for fixed (d, D) — `stepwise=FALSE`
    * considers all models with p+q+P+Q ≤ max.order (auto.arima's
    * `max.order = 5`). */
  val MaxOrder = 5
  def candidateOrders(d: Int, bigD: Int, m: Int, seasonal: Boolean): Seq[Order] = {
    val mean = d + bigD == 0
    for {
      p <- 0 to MaxP
      q <- 0 to MaxQ
      bp <- 0 to (if (seasonal) MaxSeasonalP else 0)
      bq <- 0 to (if (seasonal) MaxSeasonalQ else 0)
      if p + q + bp + bq <= MaxOrder
      // the all-zero order IS a model: white noise at d = 0 (mean-only),
      // and the pure random walk ARIMA(0,d,0) after differencing
    } yield Order(p, d, q, bp, bigD, bq, mean)
  }

  // ------------------------------------------------------------ model

  /** Everything needed to forecast without refit: fitted polys + the
    * differenced-series tail, residual tail, and the per-differencing
    * tails needed to integrate back to the original scale. */
  final case class ArimaModel(
      fit: CandidateFit, m: Int, methodName: String,
      zTail: Array[Double], eTail: Array[Double],
      u1Tail: Array[Double], // last values of the seasonally-differenced chain (for d integration)
      yTail: Array[Double]   // last m·D values of y (for D integration)
  ) extends SeriesModel {
    def method: String = methodName

    def forecast(h: Int): Forecasts = {
      val order = fit.order
      val arFull = expand(fit.arReg, fit.arSeas, m)
      val maFull = expand(fit.maReg.map(-_), fit.maSeas.map(-_), m)
      val pF = arFull.length - 1
      val qF = maFull.length - 1
      // z-scale mean forecasts
      val zAll = new Array[Double](zTail.length + h)
      System.arraycopy(zTail, 0, zAll, 0, zTail.length)
      val eAll = new Array[Double](eTail.length + h)
      System.arraycopy(eTail, 0, eAll, 0, eTail.length)
      var s = 0
      while (s < h) {
        val t = zTail.length + s
        var acc = fit.mu
        var i = 1
        while (i <= pF) {
          val zi = if (t - i >= 0) zAll(t - i) - fit.mu else 0.0
          acc -= arFull(i) * zi // arFull(i) = -φ_i ⇒ subtracting adds φ_i z
          i += 1
        }
        var j = 1
        while (j <= qF) {
          val te = eTail.length + s - j
          if (te >= 0 && te < eTail.length) acc += maFull(j) * eAll(te)
          j += 1
        }
        zAll(t) = acc
        s += 1
      }
      val zF = java.util.Arrays.copyOfRange(zAll, zTail.length, zAll.length)
      // integrate d regular differences using u1 chain tails
      var cur = zF
      var level = order.d
      val u1 = u1Tail.clone()
      while (level > 0) {
        // u1Tail(0) = last value of the (d−1)-times-differenced series,
        // …, u1Tail(d−1) = last value of the undifferenced-by-1 chain —
        // consumed innermost-first while integrating back up
        val lastVal = u1(order.d - level)
        val integ = new Array[Double](cur.length)
        var acc2 = lastVal
        var i2 = 0
        while (i2 < cur.length) { acc2 += cur(i2); integ(i2) = acc2; i2 += 1 }
        cur = integ
        level -= 1
      }
      // integrate seasonal difference using y tail
      val meanF =
        if (order.bigD > 0 && m > 1) {
          val out = new Array[Double](h)
          val hist = new Array[Double](yTail.length + h)
          System.arraycopy(yTail, 0, hist, 0, yTail.length)
          var i2 = 0
          while (i2 < h) {
            val v = cur(i2) + hist(yTail.length + i2 - m)
            out(i2) = v
            hist(yTail.length + i2) = v
            i2 += 1
          }
          out
        } else cur
      // ψ-weight variance on the original scale
      val arStar = polyMul(expand(fit.arReg, fit.arSeas, m), diffPoly(order.d, order.bigD, m))
      val psi = new Array[Double](h)
      psi(0) = 1.0
      var j2 = 1
      while (j2 < h) {
        var acc3 = if (j2 <= qF) maFull(j2) else 0.0
        var i3 = 1
        while (i3 <= math.min(j2, arStar.length - 1)) {
          acc3 -= arStar(i3) * psi(j2 - i3)
          i3 += 1
        }
        psi(j2) = acc3
        j2 += 1
      }
      val se = new Array[Double](h)
      var cum = 0.0
      var j3 = 0
      while (j3 < h) {
        cum += psi(j3) * psi(j3)
        se(j3) = math.sqrt(fit.sigma2 * cum)
        j3 += 1
      }
      Forecasts.gaussian(meanF, se)
    }

    def params: ModelParams = ModelParams(
      Map(
        "order" -> Array(fit.order.p, fit.order.d, fit.order.q,
          fit.order.bigP, fit.order.bigD, fit.order.bigQ,
          if (fit.order.mean) 1.0 else 0.0, m.toDouble),
        "arReg" -> pad(fit.arReg), "arSeas" -> pad(fit.arSeas),
        "maReg" -> pad(fit.maReg), "maSeas" -> pad(fit.maSeas),
        "scalars" -> Array(fit.mu, fit.sigma2, fit.aicc),
        "zTail" -> pad(zTail), "eTail" -> pad(eTail),
        "u1Tail" -> pad(u1Tail), "yTail" -> pad(yTail)),
      Map("method" -> methodName))
    private def pad(a: Array[Double]): Array[Double] = if (a.isEmpty) Array(Double.NaN) else a
  }

  private def unpad(a: Array[Double]): Array[Double] =
    if (a.length == 1 && a(0).isNaN) Array.empty else a

  def fromParams(p: ModelParams): ArimaModel = {
    val o = p.d("order")
    val order = Order(o(0).toInt, o(1).toInt, o(2).toInt, o(3).toInt, o(4).toInt, o(5).toInt, o(6) > 0.5)
    val sc = p.d("scalars")
    val fit = CandidateFit(order, o(7).toInt,
      unpad(p.d("arReg")), unpad(p.d("arSeas")), unpad(p.d("maReg")), unpad(p.d("maSeas")),
      sc(0), sc(1), sc(2))
    ArimaModel(fit, o(7).toInt, p.s("method"),
      unpad(p.d("zTail")), unpad(p.d("eTail")), unpad(p.d("u1Tail")), unpad(p.d("yTail")))
  }

  /** Difference y by (d, D); also return the chain tails needed to
    * integrate forecasts back. */
  def difference(y: Array[Double], d: Int, bigD: Int, m: Int): (Array[Double], Array[Double], Array[Double]) = {
    var u = y
    var i = 0
    while (i < bigD) { u = Stats.diff(u, m); i += 1 }
    val yTail = if (bigD > 0) y.takeRight(m * bigD) else Array.empty[Double]
    // u1Tail(level-1) = last value of the series one level above regular diff `level`
    val u1Tail = new Array[Double](d)
    var z = u
    i = 0
    while (i < d) {
      u1Tail(d - 1 - i) = z.last // innermost integration first
      z = Stats.diff(z)
      i += 1
    }
    (z, u1Tail, yTail)
  }

  /** Build the forecast-ready model from a winning candidate. */
  def toModel(z: Array[Double], cand: CandidateFit, m: Int, methodName: String,
      u1Tail: Array[Double], yTail: Array[Double]): ArimaModel = {
    val arFull = expand(cand.arReg, cand.arSeas, m)
    val maFull = expand(cand.maReg.map(-_), cand.maSeas.map(-_), m)
    val (e, _) = cssResiduals(z, cand.mu, arFull, maFull)
    val pF = arFull.length - 1
    val qF = maFull.length - 1
    ArimaModel(cand, m, methodName,
      z.takeRight(math.max(pF, 1)), e.takeRight(math.max(qF, 1)),
      u1Tail, yTail)
  }

  /** Full fit: d/D selection + exhaustive CSS grid + exact-ML rescore of
    * the top CSS candidates (the two-stage `approximation = FALSE`
    * posture — see [[KalmanMl]]), single-task. */
  def fitAuto(y: Array[Double], m: Int, forceSeasonal: Boolean, methodName: String): ArimaModel = {
    val seasonalOk = m > 1 && y.length >= 3 * m
    val bigD = if (forceSeasonal && seasonalOk) 1
               else if (seasonalOk) selectSeasonalD(y, m) else 0
    val afterSeas = { var u = y; var i = 0; while (i < bigD) { u = Stats.diff(u, m); i += 1 }; u }
    val d = selectD(afterSeas)
    val (z, u1Tail, yTail) = difference(y, d, bigD, m)
    val cands = candidateOrders(d, bigD, m, seasonalOk)
      .flatMap(o => fitCandidate(z, o, m))
    val best =
      if (cands.nonEmpty) {
        val exact = rescoreSet(cands).flatMap(c => fitCandidateExact(z, c, m))
        if (exact.nonEmpty) exact.minBy(_.aicc) else cands.minBy(_.aicc)
      } else CandidateFit(Order(0, d, 0, 0, bigD, 0, mean = false), m,
        Array.empty, Array.empty, Array.empty, Array.empty, 0.0,
        math.max(1e-12, variance(z)), Double.PositiveInfinity)
    toModel(z, best, m, methodName, u1Tail, yTail)
  }

  /** Candidates that survive to the exact-ML rescore: the top
    * [[KalmanMl.RescoreTop]] by CSS AICc UNION the 3 lowest-complexity
    * fits. CSS's conditioning (dropping the first p residuals from
    * n_eff) systematically flatters AR-heavy candidates, so a top-K cut
    * alone can exclude the parsimonious model that exact ML would pick
    * — the union keeps it in the race. */
  def rescoreSet(cands: Seq[CandidateFit]): Seq[CandidateFit] = {
    val byAicc = cands.sortBy(_.aicc).take(KalmanMl.RescoreTop)
    val parsimonious = cands.sortBy(c => (c.order.k, c.aicc)).take(3)
    (byAicc ++ parsimonious).distinct
  }

  object ArimaFamily extends ModelFamily {
    val method: String = Methods.ARIMA
    def fit(y: Array[Double], frequency: Int): SeriesModel =
      fitAuto(y, frequency, forceSeasonal = false, method)
    def fromParams(p: ModelParams): SeriesModel = Arima.fromParams(p)
  }

  /** `ARIMA_FORCE_SEASONALITY` (R:84-90: D forced to 1). */
  object ArimaForceSeasonalFamily extends ModelFamily {
    val method: String = Methods.ARIMA_FORCE_SEASONALITY
    def fit(y: Array[Double], frequency: Int): SeriesModel =
      fitAuto(y, frequency, forceSeasonal = true, method)
    def fromParams(p: ModelParams): SeriesModel = Arima.fromParams(p)
  }
}
