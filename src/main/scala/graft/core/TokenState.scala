package graft.core

/** Mergeable partial state of a run of samples for the algebraic feature
  * family (SURVEY.md §7.3), fields in the order of the Spark state struct
  * (`functions.TokenPartialsExpr.schema` is derived from this class):
  *
  *   n, s1..s4 (raw moment sums), mn/mx,
  *   sumAbsD / sumDSq  (first-difference sums, run-internal),
  *   sumESq            (second-difference squares, run-internal),
  *   f1/f2/l1/l2       (first/last two samples — boundary bridging),
  *   zc / fSgn / lSgn  (zero-crossing count + edge signs).
  *
  * Two merges:
  *  - `+` is orderless: sums add, extrema take min/max, the left run's
  *    edges are kept (the right run's when the left is `empty`);
  *  - `++` concatenates in order: `+` plus the boundary terms between the
  *    left run's last two samples and the right run's first two
  *    (`bridge`), with the right run's tail edge. Both runs must hold at
  *    least 2 samples.
  *
  * `engine.TokenRollup.finalizeFeatures` turns a state into features.
  * `TokenSums` is the state without its edges.
  */
final case class TokenState(n: Long, s1: Double, s2: Double, s3: Double,
                            s4: Double, mn: Double, mx: Double,
                            sumAbsD: Double, sumDSq: Double, sumESq: Double,
                            f1: Double, f2: Double, l1: Double, l2: Double,
                            zc: Long, fSgn: Int, lSgn: Int) {

  def +(b: TokenState): TokenState = {
    val e = if (n == 0) b else this
    (sums + b.sums).withEdges(e.f1, e.f2, e.l1, e.l2, e.fSgn, e.lSgn)
  }

  def ++(b: TokenState): TokenState =
    TokenState.bridge(this + b, l1, l2, lSgn, b.f1, b.f2, b.fSgn)
      .copy(l1 = b.l1, l2 = b.l2, lSgn = b.lSgn)

  /** The orderless part: every field but the edges. */
  def sums: TokenSums =
    TokenSums(n, s1, s2, s3, s4, mn, mx, sumAbsD, sumDSq, sumESq, zc)
}

object TokenState {
  val empty: TokenState = TokenState(0L, 0.0, 0.0, 0.0, 0.0,
    Double.PositiveInfinity, Double.NegativeInfinity, 0.0, 0.0, 0.0,
    0.0, 0.0, 0.0, 0.0, 0L, 0, 0)

  /** `s` plus the boundary terms between a run ending (.., l2, l1) and the
    * run after it starting (f1, f2, ..): the first difference d = f1 - l1
    * adds |d| and d^2, the two second differences across the boundary add
    * their squares, and the zero-crossing rule (univariate.py:1084-1094)
    * applies to (lSgn, fSgn). */
  def bridge(s: TokenState, l1: Double, l2: Double, lSgn: Int,
             f1: Double, f2: Double, fSgn: Int): TokenState = {
    val d = f1 - l1
    s.copy(sumAbsD = s.sumAbsD + math.abs(d), sumDSq = s.sumDSq + d * d,
      sumESq = s.sumESq +
        (math.pow(d - (l1 - l2), 2) + math.pow((f2 - f1) - d, 2)),
      zc = s.zc + (if (fSgn == 0 && lSgn != 0) 1 else 0) +
        (if (fSgn * lSgn < 0) 1 else 0))
  }
}

/** A `TokenState` without its edges (f1, f2, l1, l2, fSgn, lSgn): the
  * sums, extrema and zero-crossing count, which `+` merges in any order;
  * `TokenState.+` is this `+` with the left run's edges. The stateful
  * streaming tier keeps one per window and takes the edges from its
  * sorted rows. */
final case class TokenSums(n: Long, s1: Double, s2: Double, s3: Double,
                           s4: Double, mn: Double, mx: Double, sumAbsD: Double,
                           sumDSq: Double, sumESq: Double, zc: Long) {

  def +(b: TokenSums): TokenSums =
    TokenSums(n + b.n, s1 + b.s1, s2 + b.s2, s3 + b.s3, s4 + b.s4,
      math.min(mn, b.mn), math.max(mx, b.mx), sumAbsD + b.sumAbsD,
      sumDSq + b.sumDSq, sumESq + b.sumESq, zc + b.zc)

  /** The state with these sums and the given edges. */
  def withEdges(f1: Double, f2: Double, l1: Double, l2: Double, fSgn: Int,
                lSgn: Int): TokenState =
    TokenState(n, s1, s2, s3, s4, mn, mx, sumAbsD, sumDSq, sumESq,
      f1, f2, l1, l2, zc, fSgn, lSgn)

  /** The sums and extrema alone: the order-dependent fields zeroed. */
  def orderless: TokenState =
    TokenState.empty.copy(n = n, s1 = s1, s2 = s2, s3 = s3, s4 = s4,
      mn = mn, mx = mx)
}

object TokenSums {
  val empty: TokenSums = TokenState.empty.sums
}
