package graft.model

import org.scalatest.funsuite.AnyFunSuite

/** The IRLS kernels run over each design row's nonzeros. Skipped terms
  * are exact zeros, so β, α and every prediction must equal the dense
  * loops bit for bit; the dense reference is kept in [[DenseGlm]].
  */
class GlmSparseSpec extends AnyFunSuite {
  import DenseGlm.{bits, design}

  test("design rows are sparse: the kernels skip most columns") {
    val (x, _, _) = design(hourly = true, n = 500, seed = 1)
    val nnz = x.map(_.count(_ != 0.0)).max
    assert(x(0).length > 60 && nnz <= 16, s"p=${x(0).length} nnz=$nnz")
  }

  test("fit: β, α and predictions equal the dense IRLS bit for bit") {
    for ((hourly, negBin, seed) <- Seq((true, true, 11L), (true, false, 12L),
                                        (false, true, 13L))) {
      val (x, y, blocks) = design(hourly, if (hourly) 2000 else 700, seed)
      val pen = Glm.diffPenalty(x(0).length, blocks, 1.0)
      val sparse = Glm.fit(x, y, negBin, penalty = pen)
      val dense = DenseGlm.fit(x, y, negBin, pen)
      assert(bits(sparse.beta) == bits(dense.beta), (hourly, negBin))
      assert(sparse.alpha.equals(dense.alpha) && sparse.converged == dense.converged)
      val ps = x.map(Glm.predict(_, sparse.beta))
      assert(bits(ps) == bits(x.map(Glm.predict(_, dense.beta))))
    }
  }

  test("fitGcv: the selected fit and its statistics equal the dense path bit for bit") {
    val (x, y, blocks) = design(hourly = true, n = 1500, seed = 21)
    val grid = Seq(0.1, 1.0, 10.0, 100.0)
    val s = Glm.fitGcv(x, y, negBin = true, blocks, grid)
    val d = DenseGlm.fitGcv(x, y, negBin = true, blocks, grid)
    assert(s.lambda == d.lambda)
    assert(bits(s.fit.beta) == bits(d.fit.beta))
    assert(bits(Array(s.deviance, s.edf, s.gcv, s.fit.alpha)) ==
      bits(Array(d.deviance, d.edf, d.gcv, d.fit.alpha)))
  }
}
