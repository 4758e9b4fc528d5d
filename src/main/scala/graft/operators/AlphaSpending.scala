package graft.operators

/** Lan-DeMets alpha-spending boundaries (Lan & DeMets '83,
  * "Discrete sequential boundaries for clinical trials") — the
  * generalization the OBF/Pocock pair ([[Events.groupSequentialObf]])
  * points at: instead of a fixed boundary SHAPE, the designer fixes a
  * cumulative type-I-error spending function α*(t) over information
  * time t ∈ (0, 1], and the per-look critical values u_k are whatever
  * makes the cumulative crossing probability equal α*(t_k) exactly.
  * The K-look boundary then stays valid for ANY schedule of looks —
  * the property that made spending functions the production standard
  * over the original fixed-K designs.
  *
  * Numerics (driver-side, metadata-sized): the crossing probabilities
  * need the joint law of the partial-sum process S_k ~ N(0, t_k) with
  * independent increments; the standard Armitage-McPherson-Rowe
  * recursion carries the sub-density f_k of paths that survived looks
  * 1..k on a grid over the continuation region [-a_k, a_k]:
  *
  *   - look 1 is a closed form: a_1 = √t_1 · Φ⁻¹(1 − α*(t_1)/2);
  *   - at look k, the incremental crossing probability for a candidate
  *     bound a is ∫ f_{k-1}(x) · [1 − (Φ((a−x)/σ) − Φ((−a−x)/σ))] dx
  *     with σ = √Δt — the s-integral is exchanged into the normal CDF,
  *     so quadrature error comes only from the SMOOTH f_{k-1} on a
  *     grid whose endpoints sit exactly on ±a_{k-1} (the trick that
  *     makes 301 grid points reproduce the published tables to 4
  *     decimals, where naive two-dimensional trapezoid needs ~10⁴);
  *   - a_k solves incremental-spend = α*(t_k) − α*(t_{k-1}) by
  *     fixed-iteration-count bisection, then f_k is the convolution
  *     of f_{k-1} with the N(0, Δt) kernel re-gridded onto [-a_k, a_k].
  *
  * Every loop has a fixed order and iteration count, so the emitted
  * doubles are deterministic — FROZEN LITERALS the declared query and
  * its SQL oracle both embed (the PQ-codebook discipline): the engine
  * compares |z| against `element_at(lit(bounds), k)` and the oracle
  * against the same Double.toString round-tripped constants.
  *
  * Spending functions (two-sided symmetric, per-side level α/2 — the
  * convention of the published Lan-DeMets tables and of ldbounds/
  * gsDesign):
  *   - "obf":    α*(t) = 2·(2 − 2Φ(z_{α/4}/√t)) — near-unspendable
  *     early, ≈ O'Brien-Fleming shape (K=5, α=.05: 4.8769, 3.3570,
  *     2.6803, 2.2898, 2.0310);
  *   - "pocock": α*(t) = α·ln(1 + (e−1)·t) — near-linear spend,
  *     ≈ Pocock's flat boundary (K=5, α=.05: 2.4380, 2.4268, 2.4102,
  *     2.3966, 2.3860);
  *   - "hsd": the Hwang-Shih-DeCani γ family at γ=−4,
  *     α*(t) = α·(1−e^{−γt})/(1−e^{−γ}) — exponential back-loaded
  *     spend between the two shapes.
  *
  * Scale shape (100 TB): boundary computation touches no data at all —
  * O(K · gridN²) driver-side doubles; the monitor itself keeps the
  * groupSequentialObf shape (one map-side-combinable (look, arm)
  * aggregate, a K-row grid fold).
  */
object AlphaSpending {
  // The solvers are pure functions of their (few, enumerable) argument
  // tuples, but NOT cheap: futilityBoundaries runs a 60-step outer
  // bisection over a K-look Armitage recursion (~10^7 Phi calls, ~5 s
  // driver-side — measured as the whole cost of the declared futility
  // query at sf0.1). Every monitor construction re-solved it (Bench
  // re-builds the plan per iteration). Memoize per argument tuple —
  // driver-side, a handful of entries; computeIfAbsent gives per-key
  // locking (one slow futility solve must not serialize unrelated
  // lookups from Verify/Bench plan-builder threads), and the cached
  // value is deep-copied on the way out so a caller mutating a
  // returned Array cannot corrupt the cache.
  private val memo =
    new java.util.concurrent.ConcurrentHashMap[(String, Seq[Any]), Any]
  private def defensiveCopy(v: Any): Any = v match {
    case a: Array[Double] => a.clone()
    case (u: Array[Double], l: Array[Double], d: Double) => (u.clone(), l.clone(), d)
    case other => other
  }
  private def memoized[T](key: (String, Seq[Any]))(body: => T): T =
    defensiveCopy(memo.computeIfAbsent(key, _ => body)).asInstanceOf[T]

  private val stdNormal =
    new org.apache.commons.math3.distribution.NormalDistribution(0.0, 1.0)
  private def Phi(x: Double): Double = stdNormal.cumulativeProbability(x)
  private def PhiInv(p: Double): Double = stdNormal.inverseCumulativeProbability(p)
  private def phi(x: Double): Double =
    math.exp(-x * x / 2.0) / math.sqrt(2.0 * math.Pi)

  /** Cumulative ONE-SIDED spend at information fraction t, level a —
    * the three published shapes in their one-sided convention
    * (Lan-DeMets OBF-like f(t) = 2 − 2Φ(Φ⁻¹(1−a/2)/√t); Pocock-like
    * a·ln(1+(e−1)t); Hwang-Shih-DeCani a·(1−e^{−γt})/(1−e^{−γ}) at
    * γ = −4). The two-sided spend at level α is exactly
    * 2·spendOneSided(t, α/2): scaling by a power of two commutes with
    * IEEE rounding. Used for the efficacy (alpha) and futility (beta)
    * sides alike.
    */
  private def spendOneSided(t: Double, a: Double, spending: String): Double =
    spending match {
      case "obf" =>
        2.0 - 2.0 * Phi(PhiInv(1.0 - a / 2.0) / math.sqrt(t))
      case "pocock" =>
        a * math.log(1.0 + (math.E - 1.0) * t)
      case "hsd" =>
        a * (1.0 - math.exp(-HsdGamma * t)) / (1.0 - math.exp(-HsdGamma))
      case other =>
        throw new IllegalArgumentException(
          s"AlphaSpending: spending must be 'obf', 'pocock' or 'hsd', got '$other'")
    }
  // the textbook "conservative, OBF-like" member: gamma -> 0 is linear
  // (Pocock-like), negative gamma back-loads the spend (t=0.2 spends
  // 2.3% of a vs pocock's 44%)
  private val HsdGamma = -4.0

  /** Trapezoid rule over the sub-density `f` on the uniform grid `xs`:
    * h · Σ term(w_i·f_i, i), end weights ½, summed in grid order.
    */
  private def trapezoid(xs: Array[Double], f: Array[Double])(
      term: (Double, Int) => Double): Double = {
    var tot = 0.0; var i = 0
    while (i < f.length) {
      val w = if (i == 0 || i == f.length - 1) 0.5 else 1.0
      tot += term(w * f(i), i)
      i += 1
    }
    tot * (xs(1) - xs(0))
  }

  /** `steps` halvings of [lo, hi]; `below(mid)` says the root lies
    * above mid. Returns the final midpoint.
    */
  private def bisect(lo0: Double, hi0: Double, steps: Int)(
      below: Double => Boolean): Double = {
    var lo = lo0; var hi = hi0; var it = 0
    while (it < steps) {
      val mid = (lo + hi) / 2.0
      if (below(mid)) lo = mid else hi = mid
      it += 1
    }
    (lo + hi) / 2.0
  }

  /** The Armitage recursion on the S scale, increments N(mu, sig²) per
    * look. Bound 1 is `first`; bound k ≥ 2 is `solve(k, mass)`, where
    * mass(g) = ∫ f_{k−1}(x)·g(x) dx over the paths that continued past
    * looks 1..k−1. The paths that continue past look k live on
    * `region(k, bound k)`, gridded by gridN points from end to end,
    * where f_k is f_{k−1} convolved with the increment kernel (f_1 is
    * the kernel itself).
    */
  private def armitage(looks: Int, gridN: Int, mu: Double, sig: Double,
      first: Double, region: (Int, Double) => (Double, Double))(
      solve: (Int, (Double => Double) => Double) => Double): Array[Double] = {
    def on(k: Int, b: Double) = {
      val (lo, hi) = region(k, b)
      Array.tabulate(gridN)(i => lo + (hi - lo) * i / (gridN - 1))
    }
    val bs = new Array[Double](looks)
    bs(0) = first
    var xs = on(1, first)
    var f = xs.map(x => phi((x - mu) / sig) / sig)
    var k = 2
    while (k <= looks) {
      val (x0, f0) = (xs, f)
      bs(k - 1) = solve(k, g => trapezoid(x0, f0)((wf, i) => wf * g(x0(i))))
      if (k < looks) {
        xs = on(k, bs(k - 1))
        f = xs.map(s => trapezoid(x0, f0)((wf, i) =>
          wf * phi((s - x0(i) - mu) / sig) / sig))
      }
      k += 1
    }
    bs
  }

  /** Efficacy bounds u_1..u_K (z-scale) for K equally spaced looks,
    * spending `alpha` on one side or `alpha`/2 on each of two, with
    * continuation region [−a_k, a_k] or [−8√t_k, a_k] (the mass below
    * is < 1e-15 — a fixed truncation, not a tolerance).
    */
  private def efficacy(looks: Int, alpha: Double, spending: String,
      gridN: Int, twoSided: Boolean): Array[Double] = {
    val dt = 1.0 / looks
    val sig = math.sqrt(dt)
    val sides = if (twoSided) 2.0 else 1.0
    def spend(t: Double) = spendOneSided(t, alpha / sides, spending)
    // P(a path from x crosses bound b at this look)
    def cross(b: Double)(x: Double): Double =
      if (twoSided) 1.0 - (Phi((b - x) / sig) - Phi((-b - x) / sig))
      else 1.0 - Phi((b - x) / sig)
    val as = armitage(looks, gridN, 0.0, sig, sig * PhiInv(1.0 - spend(dt)),
        (k, a) => (if (twoSided) -a else -8.0 * math.sqrt(k * dt), a)) {
      (k, mass) =>
        val target = sides * (spend(k * dt) - spend((k - 1) * dt))
        bisect(0.0, 10.0, 100)(b => mass(cross(b)) > target)
    }
    Array.tabulate(looks)(k => as(k) / math.sqrt((k + 1) * dt))
  }

  /** Two-sided symmetric Lan-DeMets boundaries u_1..u_K (z-scale) for
    * K equally-spaced looks at overall level `alpha`. Deterministic:
    * fixed grid size, fixed 100-step bisections.
    */
  def ldBoundaries(looks: Int, alpha: Double, spending: String,
      gridN: Int = 601): Array[Double] =
      memoized(("ld", Seq(looks, alpha, spending, gridN))) {
    require(looks >= 2, s"ldBoundaries: need looks>=2, got $looks")
    require(alpha > 0 && alpha < 1, s"ldBoundaries: need alpha in (0,1), got $alpha")
    require(gridN >= 51 && gridN % 2 == 1,
      s"ldBoundaries: need odd gridN>=51, got $gridN")
    efficacy(looks, alpha, spending, gridN, twoSided = true)
  }

  /** ONE-SIDED Lan-DeMets efficacy boundaries u_1..u_K (z-scale) at
    * overall one-sided level `alpha` — the NON-BINDING convention:
    * computed ignoring any futility boundary, so type I error holds
    * even when a futility stop is overridden. Same Armitage recursion
    * as [[ldBoundaries]], continuation region truncated below at
    * −8√t_k (the sub-density mass beyond is < 1e-15 — a fixed,
    * deterministic truncation, not a tolerance).
    */
  def oneSidedBoundaries(looks: Int, alpha: Double, spending: String,
      gridN: Int = 601): Array[Double] =
      memoized(("os", Seq(looks, alpha, spending, gridN))) {
    require(looks >= 2, s"oneSidedBoundaries: need looks>=2, got $looks")
    require(alpha > 0 && alpha < 0.5,
      s"oneSidedBoundaries: need alpha in (0,0.5), got $alpha")
    require(gridN >= 51 && gridN % 2 == 1,
      s"oneSidedBoundaries: need odd gridN>=51, got $gridN")
    efficacy(looks, alpha, spending, gridN, twoSided = false)
  }

  /** One-sided group-sequential design with NON-BINDING beta-spending
    * FUTILITY bounds (Pampallona & Tsiatis '94 shape in the spending-
    * function formulation that gsDesign's test.type=4 made the
    * production standard): efficacy bounds u_k spend α*(t) under H0
    * ignoring futility ([[oneSidedBoundaries]]); futility bounds l_k
    * spend β*(t) under the H1 drift — P_{H1}(S_k < b_k, l_j ≤ S_j <
    * a_j ∀ j<k) = Δβ_k, via the same Armitage recursion carried on the
    * two-sided continuation region [b_{k-1}, a_{k-1}] with N(δΔt, Δt)
    * increments. The drift δ (the S-scale mean at t=1, = z_stat the
    * design is powered for) is solved by fixed-count bisection so the
    * two boundaries MEET at the final look (l_K = u_K — the defining
    * closure of the design: at full information every outcome is a
    * decision), which makes the achieved power exactly 1−β at δ.
    *
    * Deterministic: fixed grids, fixed 100-step inner and 60-step
    * outer bisections — the emitted doubles are frozen literals for
    * the declared query and its oracle (the ldBoundaries discipline).
    *
    * Returns (upper z-bounds, lower z-bounds, delta); lower(K-1) is
    * set to upper(K-1) exactly.
    *
    * Scale shape (100 TB): touches no data — O(60·K·gridN²) driver
    * doubles; the monitor rides the groupSequentialObf aggregate.
    */
  def futilityBoundaries(looks: Int, alpha: Double, beta: Double,
      spendingU: String, spendingL: String,
      gridN: Int = 601): (Array[Double], Array[Double], Double) =
      memoized(("fut", Seq(looks, alpha, beta, spendingU, spendingL, gridN))) {
    require(looks >= 2, s"futilityBoundaries: need looks>=2, got $looks")
    require(alpha > 0 && alpha < 0.5 && beta > 0 && beta < 0.5,
      s"futilityBoundaries: need alpha,beta in (0,0.5), got $alpha/$beta")
    require(gridN >= 51 && gridN % 2 == 1,
      s"futilityBoundaries: need odd gridN>=51, got $gridN")
    val us = oneSidedBoundaries(looks, alpha, spendingU, gridN)
    val dt = 1.0 / looks
    val sig = math.sqrt(dt)
    val aS = Array.tabulate(looks)(k => us(k) * math.sqrt((k + 1) * dt))
    def spend(t: Double) = spendOneSided(t, beta, spendingL)

    // futility S-scale bounds b_1..b_K under drift `delta` (b_K left
    // UNCLAMPED — the outer solve matches it to a_K). From look 2 on,
    // extreme outer-bisection drifts can push b above a_k; a collapsed
    // [a_k, a_k] region keeps the recursion finite and the outer
    // solve's monotone signal intact (b_K lands high ⇒ "drift too
    // large" ⇒ bisect down)
    def futilityPass(delta: Double): Array[Double] = {
      val mu = delta * dt
      armitage(looks, gridN, mu, sig, mu + sig * PhiInv(spend(dt)),
          (k, b) => (if (k == 1) b else math.min(b, aS(k - 1)), aS(k - 1))) {
        (k, mass) =>
          val target = spend(k * dt) - spend((k - 1) * dt)
          bisect(-10.0, aS(k - 1) + 2.0, 100)(b =>
            mass(x => Phi((b - x - mu) / sig)) < target)
      }
    }

    // outer solve: delta such that the final futility bound meets the
    // final efficacy bound (b_K(delta) is increasing in delta)
    val delta = bisect(0.0, 8.0, 60)(d =>
      futilityPass(d)(looks - 1) < aS(looks - 1))
    val bs = futilityPass(delta)
    val ls = Array.tabulate(looks)(k =>
      if (k == looks - 1) us(k) else bs(k) / math.sqrt((k + 1) * dt))
    (us, ls, delta)
  }
}
