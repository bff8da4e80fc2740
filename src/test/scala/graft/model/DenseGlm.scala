package graft.model

/** The dense IRLS that `Glm`'s sparse kernels replaced, loop for loop,
  * and the seeded GAM designs the model specs pin it on. `mlAlpha` is a
  * parameter so a spec can swap in a reference dispersion search.
  */
private[model] object DenseGlm {
  type MlAlpha = (Array[Double], Array[Double]) => Double

  def solveWLS(x: Array[Array[Double]], z: Array[Double], w: Array[Double],
               ridge: Double, penalty: Array[Array[Double]]): Array[Double] = {
    val p = x(0).length
    val ata = Array.ofDim[Double](p, p)
    val atb = new Array[Double](p)
    var i = 0
    while (i < x.length) {
      val xi = x(i); val wi = w(i); val zi = z(i)
      var a = 0
      while (a < p) {
        val xa = xi(a) * wi
        atb(a) += xa * zi
        var b = a
        while (b < p) { ata(a)(b) += xa * xi(b); b += 1 }
        a += 1
      }
      i += 1
    }
    var a = 0
    while (a < p) {
      var b = a + 1
      while (b < p) { ata(b)(a) = ata(a)(b); b += 1 }
      a += 1
    }
    a = 0
    while (a < p) {
      ata(a)(a) += ridge
      if (penalty != null) {
        var b = 0
        while (b < p) { ata(a)(b) += penalty(a)(b); b += 1 }
      }
      a += 1
    }
    Glm.choleskySolve(ata, atb)
  }

  def crossProd(x: Array[Array[Double]], w: Array[Double]): Array[Array[Double]] = {
    val p = x(0).length
    val ata = Array.ofDim[Double](p, p)
    var i = 0
    while (i < x.length) {
      val xi = x(i); val wi = w(i)
      var a = 0
      while (a < p) {
        val xa = xi(a) * wi
        var b = a
        while (b < p) { ata(a)(b) += xa * xi(b); b += 1 }
        a += 1
      }
      i += 1
    }
    var a = 0
    while (a < p) {
      var b = a + 1
      while (b < p) { ata(b)(a) = ata(a)(b); b += 1 }
      a += 1
    }
    ata
  }

  def fit(x: Array[Array[Double]], y: Array[Double], negBin: Boolean,
          penalty: Array[Array[Double]], maxIter: Int = 25,
          ridge: Double = 1e-6, tol: Double = 1e-8,
          mlAlpha: MlAlpha = Glm.mlAlpha(_, _)): Glm.Fit = {
    val n = y.length
    val p = x(0).length
    var beta = new Array[Double](p)
    beta(0) = math.log(math.max(y.sum / n, 1e-3))
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
          var e = 0.0
          val xi = x(i)
          var j = 0
          while (j < p) { e += xi(j) * beta(j); j += 1 }
          eta(i) = math.max(-30, math.min(30, e))
          mu(i) = math.exp(eta(i))
          z(i) = eta(i) + (y(i) - mu(i)) / mu(i)
          w(i) = if (negBin) mu(i) / (1.0 + alpha * mu(i)) else mu(i)
          i += 1
        }
        val newBeta = solveWLS(x, z, w, ridge, penalty)
        var delta = 0.0
        var j = 0
        while (j < p) {
          delta = math.max(delta, math.abs(newBeta(j) - beta(j)) / (1 + math.abs(beta(j))))
          j += 1
        }
        beta = newBeta
        if (negBin && updateAlphaMoM) {
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
      var i = 0
      while (i < n) { mu(i) = Glm.predict(x(i), beta); i += 1 }
    }
    irls(maxIter, updateAlphaMoM = true)
    if (negBin) {
      var outer = 0
      var prev = alpha
      var go = true
      while (go && outer < 3) {
        alpha = mlAlpha(y, mu)
        if (alpha > 0 || prev > 0) irls(10, updateAlphaMoM = false)
        go = math.abs(alpha - prev) > 1e-4 * (1 + prev)
        prev = alpha
        outer += 1
      }
    }
    Glm.Fit(beta, alpha, converged)
  }

  def fitGcv(x: Array[Array[Double]], y: Array[Double], negBin: Boolean,
             blocks: Seq[(Int, Int)], grid: Seq[Double],
             ridge: Double = 1e-6,
             mlAlpha: MlAlpha = Glm.mlAlpha(_, _)): Glm.Scored =
    grid.map { lam =>
      val pen = Glm.diffPenalty(x(0).length, blocks, lam)
      val f = fit(x, y, negBin, pen, mlAlpha = mlAlpha)
      val mu = x.map(Glm.predict(_, f.beta))
      val w = mu.map(m => if (negBin) m / (1.0 + f.alpha * m) else m)
      val dev = Glm.deviance(y, mu, f.alpha, negBin)
      val df = Glm.edf(crossProd(x, w), pen, ridge)
      val denom = math.max(y.length - df, 1e-6)
      Glm.Scored(f, lam, dev, df, y.length * dev / (denom * denom))
    }.minBy(_.gcv)

  def bits(a: Array[Double]): Seq[Long] =
    a.toSeq.map(java.lang.Double.doubleToRawLongBits)

  /** A seeded hourly or daily GAM design with overdispersed counts. */
  def design(hourly: Boolean, n: Int, seed: Long) = {
    val cfg = Gam.Config(hourly = hourly)
    val ydaySp = Spline.uniform(1, 366, cfg.kYday)
    val itimeSp = Spline.uniform(0, 86400, cfg.kItime)
    val rnd = new scala.util.Random(seed)
    val t0 = 1546300800L // 2019-01-01
    val step = if (hourly) 3600L else 86400L
    val ts = (0 until n).map(k => t0 + k * step)
    val x = ts.map(t => Gam.designRow(Gam.feats(t), cfg, ydaySp, itimeSp)).toArray
    val y = ts.map { t =>
      val f = Gam.feats(t)
      val rate = 200 * (1.2 + math.sin(f.itime / 86400.0 * 2 * math.Pi)) *
        (if (f.weekday == 0) 0.6 else 1.0) * math.exp(0.4 * rnd.nextGaussian())
      math.round(rate).toDouble
    }.toArray
    val nY = ydaySp.size - 1
    val nI = if (hourly) itimeSp.size - 1 else 0
    val blocks = Seq((7, nY)) ++ (if (hourly) (0 until 7).map(w => (7 + nY + w * nI, nI)) else Nil)
    (x, y, blocks)
  }
}
