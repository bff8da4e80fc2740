package graft.model

import org.scalatest.funsuite.AnyFunSuite

/** `Glm.mlAlpha` evaluates the NB2 likelihood with lgamma(1/α) computed
  * once per evaluation and lgamma(y+1) once per search. The terms are
  * still added in the same order, so the dispersion search, and every
  * fit that uses it, must equal the per-row formula bit for bit; that
  * formula is kept here.
  */
class GlmLgammaSpec extends AnyFunSuite {
  import DenseGlm.{bits, design}

  /** The likelihood and golden-section search with every lgamma term
    * evaluated inside the row loop. */
  private object PerRow {
    def nbLogLik(y: Array[Double], mu: Array[Double], alpha: Double): Double = {
      val r = 1.0 / alpha
      var ll = 0.0
      var i = 0
      while (i < y.length) {
        val mi = math.max(mu(i), 1e-12)
        ll += Glm.lgamma(y(i) + r) - Glm.lgamma(r) - Glm.lgamma(y(i) + 1.0) +
          r * math.log(r / (r + mi)) + y(i) * math.log(mi / (r + mi))
        i += 1
      }
      ll
    }

    def mlAlpha(y: Array[Double], mu: Array[Double]): Double = {
      val (lo, hi) = (1e-8, 100.0)
      val phi = (math.sqrt(5.0) - 1) / 2
      var a = math.log(lo); var b = math.log(hi)
      var c = b - phi * (b - a); var d = a + phi * (b - a)
      var fc = nbLogLik(y, mu, math.exp(c)); var fd = nbLogLik(y, mu, math.exp(d))
      var it = 0
      while (b - a > 1e-4 && it < 80) {
        if (fc > fd) { b = d; d = c; fd = fc; c = b - phi * (b - a); fc = nbLogLik(y, mu, math.exp(c)) }
        else { a = c; c = d; fc = fd; d = a + phi * (b - a); fd = nbLogLik(y, mu, math.exp(d)) }
        it += 1
      }
      val best = math.exp((a + b) / 2)
      if (best < 1e-6) 0.0 else best
    }
  }

  private val (x, y, blocks) = design(hourly = true, n = 2000, seed = 31)
  private val pen = Glm.diffPenalty(x(0).length, blocks, 1.0)

  test("nbLogLik and mlAlpha equal the per-row lgamma formula bit for bit") {
    val poisson = Glm.fit(x, y, negBin = false, penalty = pen).beta
    val mu = x.map(Glm.predict(_, poisson))
    for (alpha <- Seq(1e-7, 0.01, 0.17, 3.0, 90.0))
      assert(bits(Array(Glm.nbLogLik(y, mu, alpha))) ==
        bits(Array(PerRow.nbLogLik(y, mu, alpha))), alpha)
    val ml = Glm.mlAlpha(y, mu)
    assert(ml > 0 && bits(Array(ml)) == bits(Array(PerRow.mlAlpha(y, mu))))
    // an underdispersed sample (the rounded means)
    val flat = mu.map(m => math.round(m).toDouble)
    assert(Glm.mlAlpha(flat, mu).equals(PerRow.mlAlpha(flat, mu)))
  }

  test("fit: β and α equal the fit that uses the per-row search, bit for bit") {
    val f = Glm.fit(x, y, negBin = true, penalty = pen)
    val ref = DenseGlm.fit(x, y, negBin = true, pen, mlAlpha = PerRow.mlAlpha)
    assert(f.alpha > 0)
    assert(bits(f.beta) == bits(ref.beta))
    assert(f.alpha.equals(ref.alpha) && f.converged == ref.converged)
  }

  test("fitGcv: the selected Scored equals the per-row search's, bit for bit") {
    val grid = Seq(0.1, 1.0, 10.0)
    val s = Glm.fitGcv(x, y, negBin = true, blocks, grid)
    val d = DenseGlm.fitGcv(x, y, negBin = true, blocks, grid, mlAlpha = PerRow.mlAlpha)
    assert(s.lambda == d.lambda)
    assert(bits(s.fit.beta) == bits(d.fit.beta))
    assert(bits(Array(s.deviance, s.edf, s.gcv, s.fit.alpha)) ==
      bits(Array(d.deviance, d.edf, d.gcv, d.fit.alpha)))
  }
}
