package graft.clv

/** Gauss hypergeometric function ₂F₁(a, b; c; z) via the defining power
  * series (SURVEY Appendix A; public math — Abramowitz & Stegun 15.1.1).
  *
  * Needed by the BG/NBD conditional-expected-purchases formula (reference:
  * dags/clv_models.py:70,76 delegating to lifetimes' scipy hyp2f1), where
  * z = t / (α + T + t) ∈ (0, 1), so the series always converges; the
  * Pochhammer recurrence term_{n+1} = term_n · (a+n)(b+n)z / ((c+n)(n+1))
  * is numerically stable for the parameter ranges a penalized fit produces.
  *
  * The `hyp2f1` SQL function calls [[hyp2f1]] as a static method inside
  * whole-stage codegen, so the CLV scoring projection stays one generated
  * stage with no UDF boxing or serialization.
  */
object Hyp2f1 {

  /** Series evaluation; converges for |z| < 1 (our use: z ∈ [0, 1)). */
  def hyp2f1(a: Double, b: Double, c: Double, z: Double): Double = {
    if (z == 0.0) return 1.0
    var term = 1.0
    var sum = 1.0
    var n = 0
    val eps = 1e-13
    val maxIter = 20000
    while (math.abs(term) > eps * math.abs(sum) && n < maxIter) {
      term *= (a + n) * (b + n) * z / ((c + n) * (n + 1.0))
      sum += term
      n += 1
    }
    sum
  }
}
