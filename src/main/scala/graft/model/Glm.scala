package graft.model

/** Penalized IRLS for log-link count GLMs — Poisson and negative
  * binomial (NB2) — in plain Scala (no external math deps; per-group
  * data is ≤ ~17.5k rows × ~70 columns, see SURVEY.md §2.9).
  *
  * NB2: Var(y) = mu + alpha*mu²; alpha estimated between IRLS rounds by
  * method of moments (fixed-theta simplification documented in
  * SURVEY.md §7 risk 1; reference uses mgcv's nb() family,
  * /root/reference/R/_analyze_data.R:214).
  */
object Glm {

  final case class Fit(beta: Array[Double], alpha: Double, converged: Boolean)

  /** Second-difference penalty blocks: for each (offset, len) block of
    * spline coefficients, λ·D'D with D the (len−2)×len second-difference
    * operator — the fixed-λ stand-in for mgcv's smoothing penalty
    * (penalizes curvature of adjacent B-spline coefficients).
    */
  def diffPenalty(p: Int, blocks: Seq[(Int, Int)], lambda: Double): Array[Array[Double]] = {
    val pen = Array.ofDim[Double](p, p)
    blocks.foreach { case (off, len) =>
      var r = 0
      while (r < len - 2) {
        // row of D: +1 at r, −2 at r+1, +1 at r+2 → add λ·dᵀd
        val idx = Array(off + r, off + r + 1, off + r + 2)
        val cf = Array(1.0, -2.0, 1.0)
        var a = 0
        while (a < 3) {
          var b = 0
          while (b < 3) {
            pen(idx(a))(idx(b)) += lambda * cf(a) * cf(b)
            b += 1
          }
          a += 1
        }
        r += 1
      }
    }
    pen
  }

  /** Column indices of each row's nonzero entries, ascending. A GAM
    * design row has about 10 nonzeros out of p ≈ 79 (one weekday dummy,
    * the B-spline bases' local support), so the O(n·p²) and O(n·p)
    * kernels below run over these instead of all p columns. Every
    * skipped term is a product with an exact ±0.0 and adding it never
    * changes a sum that starts at +0.0, and each sum still runs over
    * the rows in order, so the results are bit-identical to the dense
    * loops.
    */
  private def nonzeros(x: Array[Array[Double]]): Array[Array[Int]] =
    x.map { xi =>
      val idx = new Array[Int](xi.length)
      var k = 0
      var j = 0
      while (j < xi.length) { if (xi(j) != 0.0) { idx(k) = j; k += 1 }; j += 1 }
      java.util.Arrays.copyOf(idx, k)
    }

  /** x·β over the row's nonzeros. */
  private def dot(xi: Array[Double], nzi: Array[Int], beta: Array[Double]): Double = {
    var e = 0.0
    var k = 0
    while (k < nzi.length) { val j = nzi(k); e += xi(j) * beta(j); k += 1 }
    e
  }

  /** X'WX (upper triangle mirrored) and, when `z` is given, X'Wz. */
  private def normalEquations(x: Array[Array[Double]], nz: Array[Array[Int]],
                              w: Array[Double], z: Array[Double])
      : (Array[Array[Double]], Array[Double]) = {
    val p = x(0).length
    val ata = Array.ofDim[Double](p, p)
    val atb = new Array[Double](p)
    var i = 0
    while (i < x.length) {
      val xi = x(i); val nzi = nz(i); val wi = w(i)
      var ka = 0
      while (ka < nzi.length) {
        val a = nzi(ka)
        val xa = xi(a) * wi
        if (z != null) atb(a) += xa * z(i)
        val row = ata(a)
        var kb = ka
        while (kb < nzi.length) {
          val b = nzi(kb)
          row(b) += xa * xi(b)
          kb += 1
        }
        ka += 1
      }
      i += 1
    }
    var a = 0
    while (a < p) {
      var b = a + 1
      while (b < p) { ata(b)(a) = ata(a)(b); b += 1 }
      a += 1
    }
    (ata, atb)
  }

  /** Weighted penalized least squares via normal equations + Cholesky:
    * (X'WX + ridge·I + penalty) beta = X'Wz.
    */
  private def solveWLS(x: Array[Array[Double]], nz: Array[Array[Int]],
                       z: Array[Double], w: Array[Double], ridge: Double,
                       penalty: Array[Array[Double]]): Array[Double] = {
    val p = x(0).length
    val (ata, atb) = normalEquations(x, nz, w, z)
    var a = 0
    while (a < p) {
      ata(a)(a) += ridge
      if (penalty != null) {
        var b = 0
        while (b < p) { ata(a)(b) += penalty(a)(b); b += 1 }
      }
      a += 1
    }
    choleskySolve(ata, atb)
  }

  /** In-place Cholesky factorization + solve; falls back to adding
    * jitter on non-PD (collinear basis columns).
    */
  private[model] def choleskySolve(m: Array[Array[Double]], b: Array[Double]): Array[Double] = {
    val p = b.length
    var jitter = 0.0
    var attempts = 0
    while (attempts < 4) {
      val l = Array.ofDim[Double](p, p)
      var ok = true
      var i = 0
      while (i < p && ok) {
        var j = 0
        while (j <= i && ok) {
          var s = m(i)(j) + (if (i == j) jitter else 0.0)
          var k = 0
          while (k < j) { s -= l(i)(k) * l(j)(k); k += 1 }
          if (i == j) {
            if (s <= 1e-12) ok = false
            else l(i)(i) = math.sqrt(s)
          } else l(i)(j) = s / l(j)(j)
          j += 1
        }
        i += 1
      }
      if (ok) {
        // forward then backward substitution
        val y = new Array[Double](p)
        i = 0
        while (i < p) {
          var s = b(i)
          var k = 0
          while (k < i) { s -= l(i)(k) * y(k); k += 1 }
          y(i) = s / l(i)(i)
          i += 1
        }
        val xs = new Array[Double](p)
        i = p - 1
        while (i >= 0) {
          var s = y(i)
          var k = i + 1
          while (k < p) { s -= l(k)(i) * xs(k); k += 1 }
          xs(i) = s / l(i)(i)
          i -= 1
        }
        return xs
      }
      jitter = if (jitter == 0.0) 1e-6 else jitter * 100
      attempts += 1
    }
    new Array[Double](p) // degenerate group: all-zero coefficients
  }

  /** Fit log-link count GLM. `negBin=true` adds the NB2 variance;
    * dispersion is warm-started by method of moments inside IRLS and
    * (with `mlTheta=true`, the default) refined to the profile-ML
    * estimate — alternating α̂ = argmax ℓ(α; μ̂) with short fixed-α IRLS
    * refits — which is the theta mgcv's nb() family estimates
    * (reference R/_analyze_data.R:214).
    */
  def fit(x: Array[Array[Double]], y: Array[Double], negBin: Boolean,
          maxIter: Int = 25, ridge: Double = 1e-6, tol: Double = 1e-8,
          penalty: Array[Array[Double]] = null, mlTheta: Boolean = true): Fit = {
    val n = y.length
    val p = x(0).length
    val nz = nonzeros(x)
    var beta = new Array[Double](p)
    // init: intercept at log(mean), guard all-zero groups
    val ybar = math.max(y.sum / n, 1e-3)
    beta(0) = math.log(ybar)
    var alpha = 0.0
    var converged = false
    val eta = new Array[Double](n)
    val mu = new Array[Double](n)
    val z = new Array[Double](n)
    val w = new Array[Double](n)

    def irls(iters: Int, updateAlphaMoM: Boolean): Unit = {
      converged = false
      var iter = 0
      while (iter < iters && !converged) {
        var i = 0
        while (i < n) {
          eta(i) = math.max(-30, math.min(30, dot(x(i), nz(i), beta)))
          mu(i) = math.exp(eta(i))
          // working response + weights for log link:
          // z = eta + (y-mu)/mu ; w = mu (Poisson) or mu/(1+alpha*mu) (NB2)
          z(i) = eta(i) + (y(i) - mu(i)) / mu(i)
          w(i) = if (negBin) mu(i) / (1.0 + alpha * mu(i)) else mu(i)
          i += 1
        }
        val newBeta = solveWLS(x, nz, z, w, ridge, penalty)
        var delta = 0.0
        var j = 0
        while (j < p) {
          delta = math.max(delta, math.abs(newBeta(j) - beta(j)) / (1 + math.abs(beta(j))))
          j += 1
        }
        beta = newBeta
        if (negBin && updateAlphaMoM) {
          // method-of-moments: alpha = sum((y-mu)^2 - mu) / sum(mu^2)
          var num = 0.0; var den = 0.0
          i = 0
          while (i < n) {
            val r = y(i) - mu(i)
            num += r * r - mu(i)
            den += mu(i) * mu(i)
            i += 1
          }
          alpha = math.max(0.0, if (den > 0) num / den else 0.0)
        }
        converged = delta < tol
        iter += 1
      }
      // refresh μ at the final β (the loop's μ lags one solve behind)
      var i = 0
      while (i < n) {
        mu(i) = math.exp(math.max(-30, math.min(30, dot(x(i), nz(i), beta))))
        i += 1
      }
    }

    irls(maxIter, updateAlphaMoM = true)
    if (negBin && mlTheta) {
      var outer = 0
      var prev = alpha
      var go = true
      while (go && outer < 3) {
        alpha = mlAlpha(y, mu)
        // refit also on the alpha→0 transition: beta must be re-estimated
        // under Poisson weights, not left paired with the stale NB2 fit
        if (alpha > 0 || prev > 0) irls(10, updateAlphaMoM = false)
        go = math.abs(alpha - prev) > 1e-4 * (1 + prev)
        prev = alpha
        outer += 1
      }
    }
    Fit(beta, alpha, converged)
  }

  private val lanczosCof = Array(76.18009172947146, -86.50532032941677,
    24.01409824083091, -1.231739572450155, 0.1208650973866179e-2,
    -0.5395239384953e-5)

  /** Lanczos log-gamma (g=5, 6-term — the classic public-domain
    * coefficients; |err| < 2e-10 for x > 0). Needed for the NB2
    * likelihood; no external math dependency.
    */
  private[model] def lgamma(xx: Double): Double = {
    val x = xx
    var y = xx
    val tmp0 = x + 5.5
    val tmp = tmp0 - (x + 0.5) * math.log(tmp0)
    var ser = 1.000000000190015
    var j = 0
    while (j < 6) { y += 1; ser += lanczosCof(j) / y; j += 1 }
    -tmp + math.log(2.5066282746310005 * ser / x)
  }

  /** NB2 log-likelihood at fixed means (r = 1/α):
    * Σ lgamma(y+r) − lgamma(r) − lgamma(y+1) + r·log(r/(r+μ)) + y·log(μ/(r+μ)).
    */
  def nbLogLik(y: Array[Double], mu: Array[Double], alpha: Double): Double =
    nbLogLik(y, lgammaY1(y), mu, alpha)

  /** lgamma(y+1) per row: constant in α, so [[mlAlpha]] computes it once
    * for all its likelihood evaluations. */
  private def lgammaY1(y: Array[Double]): Array[Double] = y.map(v => lgamma(v + 1.0))

  /** [[nbLogLik]] with lgamma(y+1) given and lgamma(r) computed once;
    * the terms are added in the same order, so the sum is bit-identical
    * to evaluating both inside the loop. */
  private def nbLogLik(y: Array[Double], lgY1: Array[Double], mu: Array[Double],
                       alpha: Double): Double = {
    val r = 1.0 / alpha
    val lgR = lgamma(r)
    var ll = 0.0
    var i = 0
    while (i < y.length) {
      val mi = math.max(mu(i), 1e-12)
      ll += lgamma(y(i) + r) - lgR - lgY1(i) +
        r * math.log(r / (r + mi)) + y(i) * math.log(mi / (r + mi))
      i += 1
    }
    ll
  }

  /** Profile-ML dispersion: maximize the NB2 likelihood in α at fixed
    * means — golden-section on log α (unimodal profile). This is the ML
    * theta mgcv's nb() family estimates (vs the method-of-moments
    * update inside IRLS, which only matches first two moments).
    */
  def mlAlpha(y: Array[Double], mu: Array[Double],
              lo: Double = 1e-8, hi: Double = 100.0): Double = {
    val phi = (math.sqrt(5.0) - 1) / 2
    val lgY1 = lgammaY1(y)
    def ll(logAlpha: Double) = nbLogLik(y, lgY1, mu, math.exp(logAlpha))
    var a = math.log(lo); var b = math.log(hi)
    var c = b - phi * (b - a); var d = a + phi * (b - a)
    var fc = ll(c); var fd = ll(d)
    var it = 0
    while (b - a > 1e-4 && it < 80) {
      if (fc > fd) { b = d; d = c; fd = fc; c = b - phi * (b - a); fc = ll(c) }
      else { a = c; c = d; fc = fd; d = a + phi * (b - a); fd = ll(d) }
      it += 1
    }
    val best = math.exp((a + b) / 2)
    // degenerate (equi/under-dispersed) groups profile to the lower
    // bound — collapse to Poisson exactly rather than keeping ε noise.
    // Threshold is deliberately loose: near the bound the likelihood
    // differences are below lgamma(y+1/α)−lgamma(1/α) cancellation noise,
    // so the search can stall a few ulps above lo; α < 1e-6 means a
    // variance excess of ~1e-6·μ² — operationally Poisson.
    if (best < 1e-6) 0.0 else best
  }

  /** Count-family deviance at fitted means: Poisson
    * 2Σ[y·log(y/μ) − (y−μ)], or NB2 with dispersion α
    * 2Σ[y·log(y/μ) − (y+1/α)·log((1+αy)/(1+αμ))] (α→0 recovers
    * Poisson; the α-dependent term is the NB2 quasi-likelihood used by
    * mgcv's nb() family).
    */
  def deviance(y: Array[Double], mu: Array[Double], alpha: Double,
               negBin: Boolean): Double = {
    var d = 0.0
    var i = 0
    while (i < y.length) {
      val yi = y(i); val mi = math.max(mu(i), 1e-12)
      val ylog = if (yi > 0) yi * math.log(yi / mi) else 0.0
      d += 2.0 * (
        if (negBin && alpha > 1e-12)
          ylog - (yi + 1.0 / alpha) * math.log((1.0 + alpha * yi) / (1.0 + alpha * mi))
        else
          ylog - (yi - mi))
      i += 1
    }
    d
  }

  /** Effective degrees of freedom of the penalized fit:
    * tr[(X'WX + S + ridge·I)⁻¹ X'WX] — the trace of the IRLS influence
    * map (mgcv's edf). p×p only; never touches the n-row data again.
    */
  def edf(ata: Array[Array[Double]], penalty: Array[Array[Double]],
          ridge: Double): Double = {
    val p = ata.length
    val m = Array.ofDim[Double](p, p)
    var a = 0
    while (a < p) {
      var b = 0
      while (b < p) {
        m(a)(b) = ata(a)(b) + (if (penalty != null) penalty(a)(b) else 0.0)
        b += 1
      }
      m(a)(a) += ridge
      a += 1
    }
    var tr = 0.0
    var c = 0
    while (c < p) {
      val col = new Array[Double](p)
      var r = 0
      while (r < p) { col(r) = ata(r)(c); r += 1 }
      tr += choleskySolve(m, col)(c)
      c += 1
    }
    tr
  }

  /** A fit with its model-selection statistics. */
  final case class Scored(fit: Fit, lambda: Double, deviance: Double,
                          edf: Double, gcv: Double)

  /** Score one converged fit: recompute μ and the IRLS weights at β̂,
    * then GCV = n·D / (n − edf)² (mgcv's GCV.Cp shape with scale
    * unknown, R/_analyze_data.R:206-225 fits with method="GCV.Cp" by
    * default).
    */
  def score(x: Array[Array[Double]], y: Array[Double], f: Fit,
            negBin: Boolean, penalty: Array[Array[Double]],
            lambda: Double, ridge: Double = 1e-6): Scored = {
    val n = y.length
    val nz = nonzeros(x)
    val mu = new Array[Double](n)
    val w = new Array[Double](n)
    var i = 0
    while (i < n) {
      mu(i) = math.exp(math.max(-30, math.min(30, dot(x(i), nz(i), f.beta))))
      w(i) = if (negBin) mu(i) / (1.0 + f.alpha * mu(i)) else mu(i)
      i += 1
    }
    val dev = deviance(y, mu, f.alpha, negBin)
    val df = edf(normalEquations(x, nz, w, null)._1, penalty, ridge)
    val denom = math.max(n - df, 1e-6)
    Scored(f, lambda, dev, df, n * dev / (denom * denom))
  }

  /** Smoothing-parameter selection: fit once per λ in `lambdaGrid`
    * (penalty = λ·D'D over `blocks`), keep the GCV minimizer — the
    * grid-search stand-in for mgcv's GCV optimization. The per-group
    * data is small (≤ ~17.5k × ~70), so a handful of extra IRLS fits
    * per group is noise next to the shuffle that grouped the data.
    */
  def fitGcv(x: Array[Array[Double]], y: Array[Double], negBin: Boolean,
             blocks: Seq[(Int, Int)], lambdaGrid: Seq[Double],
             ridge: Double = 1e-6): Scored = {
    require(lambdaGrid.nonEmpty, "lambdaGrid must be non-empty")
    val p = x(0).length
    lambdaGrid.map { lam =>
      val pen = diffPenalty(p, blocks, lam)
      score(x, y, fit(x, y, negBin, penalty = pen), negBin, pen, lam, ridge)
    }.minBy(_.gcv)
  }

  def predict(x: Array[Double], beta: Array[Double]): Double = {
    var e = 0.0
    var j = 0
    while (j < x.length) { e += x(j) * beta(j); j += 1 }
    math.exp(math.max(-30, math.min(30, e)))
  }
}
