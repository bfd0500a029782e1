package graft.clv

/** Derivative-free Nelder–Mead simplex minimizer (public algorithm,
  * Nelder & Mead 1965), mirroring scipy.optimize.minimize(method=
  * "Nelder-Mead") closely enough that fits land in the same optimum the
  * reference's `lifetimes` library reaches (it calls scipy with this
  * method; reference: dags/clv_models.py:62–66). The 0.1 penalizer
  * convexifies the likelihood, so exact optimizer parity is not needed —
  * predictions are asserted at tolerance, not parameters (SURVEY §7.3).
  *
  * Standard coefficients (reflect 1, expand 2, contract 0.5, shrink 0.5);
  * initial simplex uses scipy's 5% relative perturbation per coordinate.
  *
  * A fit that reaches `maxIter` before both spreads fall under tolerance
  * throws instead of returning the best vertex — `lifetimes` raises
  * ConvergenceError in the same case.
  */
object NelderMead {

  /** @param model names the fit in the non-convergence error. */
  def minimize(
      model: String,
      f: Array[Double] => Double,
      x0: Array[Double],
      maxIter: Int = 2000,
      xatol: Double = 1e-7,
      fatol: Double = 1e-7): Array[Double] = {
    val n = x0.length
    val alpha = 1.0; val gamma = 2.0; val rho = 0.5; val sigma = 0.5

    // scipy-style initial simplex: x0 plus one 5%-perturbed vertex per dim.
    val simplex = Array.tabulate(n + 1) { i =>
      val v = x0.clone()
      if (i > 0) {
        val j = i - 1
        v(j) = if (v(j) != 0.0) v(j) * 1.05 else 0.00025
      }
      v
    }
    val fv = simplex.map(f)
    // spreads of the simplex around vertex 0 (the best, once sorted)
    def xSpread: Double = (1 to n).map { i =>
      (0 until n).map(j => math.abs(simplex(i)(j) - simplex(0)(j))).max
    }.foldLeft(0.0)(math.max)
    def fSpread: Double = math.abs(fv(n) - fv(0))
    // sort vertices by objective, then test convergence on both spreads
    def sortedConverged(): Boolean = {
      val order = fv.indices.sortBy(fv)
      val sx = order.map(simplex).toArray
      val sf = order.map(fv).toArray
      Array.copy(sx, 0, simplex, 0, n + 1)
      Array.copy(sf, 0, fv, 0, n + 1)
      xSpread <= xatol && fSpread <= fatol
    }

    var iter = 0
    while (!sortedConverged()) {
      if (iter == maxIter) throw new IllegalStateException(
        s"$model fit did not converge in $maxIter Nelder-Mead iterations: " +
          s"x spread $xSpread (xatol $xatol), f spread $fSpread (fatol $fatol)")
      val centroid = Array.tabulate(n)(j => (0 until n).map(simplex(_)(j)).sum / n)
      def combine(c: Double, v: Array[Double]): Array[Double] =
        Array.tabulate(n)(j => centroid(j) + c * (centroid(j) - v(j)))

      val worst = simplex(n)
      val xr = combine(alpha, worst)
      val fr = f(xr)
      if (fr < fv(0)) {
        val xe = combine(gamma, worst)
        val fe = f(xe)
        if (fe < fr) { simplex(n) = xe; fv(n) = fe }
        else { simplex(n) = xr; fv(n) = fr }
      } else if (fr < fv(n - 1)) {
        simplex(n) = xr; fv(n) = fr
      } else {
        // contraction (outside if reflection helped, inside otherwise)
        val (xc, fc) =
          if (fr < fv(n)) { val x = combine(rho, worst); (x, f(x)) }
          else { val x = combine(-rho, worst); (x, f(x)) }
        if (fc < math.min(fr, fv(n))) { simplex(n) = xc; fv(n) = fc }
        else {
          // shrink toward best vertex
          var i = 1
          while (i <= n) {
            val v = Array.tabulate(n)(j => simplex(0)(j) + sigma * (simplex(i)(j) - simplex(0)(j)))
            simplex(i) = v; fv(i) = f(v)
            i += 1
          }
        }
      }
      iter += 1
    }
    simplex(0)
  }
}
