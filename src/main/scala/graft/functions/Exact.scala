package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.WindowSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Order-free aggregation over decimal-quantized doubles.
  *
  * A double sum is aggregation-order-dependent at ±1 ulp per combine, and
  * Spark's partial-aggregation merge order is nondeterministic (task
  * completion order) and differs from DuckDB's — so `round(sum(x), s)`
  * over non-dyadic summands (money values like 6.55, `1/n` credits,
  * quotients) can flip at a decimal rounding boundary between engines or
  * even between runs. The `events_attribution` r8 hash-fail was exactly
  * this class.
  *
  * The fix: snap each summand to its decimal grid (it is already within
  * 1 ulp of it, so the snap is unambiguous under either engine's tie
  * rule), sum in EXACT decimal arithmetic (`DecimalType(38, s)` — Spark
  * and DuckDB both use 128-bit integer decimals, associative and
  * overflow-safe to 10^(38−s), which at s=6 is 10³² — comfortably above
  * any 100 TB aggregate), and convert to double once at the end. The
  * whole pipeline stays in whole-stage codegen; decimal sum is a hash
  * aggregate exactly like the double sum it replaces, map-side partials
  * included.
  *
  * Scale `s` must be ≥ the true decimal granularity of the summand
  * (events.value and TPC-H money columns are 2 dp; `price·(1−disc)` is
  * exact at 4 dp; `price·(1−disc)·(1+tax)` at 6 dp) so the snap loses
  * nothing. For summands that are NOT decimal-quantized (raw float
  * embeddings, log terms), the snap at `s` ≥ target-round + 3 perturbs
  * each summand by ≤ 5·10^(−s−1) — far inside the final rounding grid —
  * and both engines apply the identical quantization, so parity holds by
  * construction rather than by luck.
  */
object Exact {

  /** `Σ x` with `x` snapped to the 10^−s grid, summed exactly.
    * The double→decimal cast itself rounds HALF_UP at the target scale
    * (`Decimal.changePrecision`), identical to `round(c, s)` followed by
    * an exact cast — one BigDecimal conversion per row instead of two
    * (the r9 q1 A/B: two-op form 1.74 s vs r8's plain-double 0.31 s; the
    * fused cast claws back roughly half the exactness tax).
    *
    * This is the GENERAL form (correct for any double summand, including
    * off-grid values, at one per-row BigDecimal). For GRID-RESIDENT
    * summands — money columns, pre-rounded scores — prefer [[sumQC]] /
    * [[sumQRC]], which quantize in pure double arithmetic and accumulate
    * compact-long decimals: same exact values, no per-row BigDecimal
    * (the r10 q1 A/B: sumQ 0.79 s → sumQC ~0.4 s vs plain-double 0.31 s).
    */
  def sumQ(c: Column, s: Int): Column =
    sum(c.cast(DecimalType(38, s))).cast("double")

  /** Per-row grid snap in PURE DOUBLE arithmetic: `⌊x·10^s + 0.5⌋` as a
    * long — no BigDecimal anywhere (Spark's `round(double, s)` and the
    * double→decimal cast both construct a BigDecimal per row; this is a
    * multiply, an add, and a floor, all inside whole-stage codegen).
    *
    * Contract: `x` must be GRID-RESIDENT at scale s — within ≪ 0.5·10^−s
    * of a grid point (true by construction for money columns, quantized
    * residuals, and anything already `round(_, s)`-ed). There the snap
    * equals HALF_UP/round/`⌊·+0.5⌋` alike for EITHER sign (the scaled
    * value sits within ~ulps of an integer, never near a .5 boundary).
    * For off-grid summands the three tie rules differ — use the
    * BigDecimal-backed [[sumQ]] family instead.
    *
    * DELIBERATE contract exception — "the snap IS the quantization":
    * a call site may feed CONTINUOUS values when the snap itself is the
    * operator's defined quantization step and the ORACLE quantizes the
    * same way (the BM25 term weights, `TextAnalysis.bm25TopK` — an
    * explicit `round(_, s)` first would be a second, BigDecimal-backed
    * quantization of the same grid point). The residual risk is the
    * FP-carry edge: a continuous value whose scaled fraction is the
    * nearest double BELOW 0.5, where Spark's `⌊y+0.5⌋` and DuckDB's
    * `rint` can disagree — measure-zero for continuous inputs (~1e-16
    * per row) and accepted at such sites; values near an EXACT .5 by
    * construction remain excluded.
    */
  private[graft] def qLong(c: Column, s: Int): Column =
    floor(c * math.pow(10, s) + lit(0.5)).cast("long")

  /** 10^−s as an exact decimal literal (scale-shift multiplier). */
  private def unscale(s: Int): Column =
    lit(java.math.BigDecimal.valueOf(1L, s))

  /** Compact-path [[sumQ]] for GRID-RESIDENT summands: [[qLong]] snap,
    * scaled integers accumulated as `DECIMAL(18,0)` (compact-long
    * representation — every partial add is a native long add, with
    * automatic widening to the 10^28 envelope at the merge tier, ~10^22
    * above any 100 TB money aggregate), one exact decimal rescale at the
    * END. Value-identical to [[sumQ]] on its contract domain — the final
    * `cast("double")` converts the same exact rational either way — at
    * roughly the cost of a plain double sum (r10 A/B in NUMERICS.md).
    *
    * PER-ROW envelope: |x|·10^s < 10^18 — at s=6 that is a single row
    * worth 10^12, five orders above any money column; a summand class
    * that can exceed it belongs on [[sumQ]]'s (38,s) per-row width. The
    * envelope is ENFORCED fail-loud (r10 advisor catch: the naked
    * long→DECIMAL(18,0) cast nulls oversized values under non-ANSI mode
    * and `sum` then SKIPS them — a contract violation would silently
    * drop mass from the total): one long compare per row routes any
    * out-of-envelope summand to `raise_error`, while legitimate NULL
    * inputs still pass through as NULLs for `sum` to skip.
    */
  private def qc18(c: Column, s: Int): Column = {
    val q = qLong(c, s)
    when(c.isNull, lit(null).cast("long"))
      .when(abs(q) < lit(1000000000000000000L), q)
      .otherwise(raise_error(concat(
        lit(s"sumQC per-row envelope |x|*10^$s < 10^18 exceeded: x="),
        c.cast("string"))))
      .cast(DecimalType(18, 0))
  }

  def sumQC(c: Column, s: Int): Column =
    (sum(qc18(c, s)) * unscale(s)).cast("double")

  /** Compact-path [[sumQR]]: exact decimal HALF_UP round at `r` before
    * the one double conversion (same boundary-safety argument as sumQR).
    */
  def sumQRC(c: Column, s: Int, r: Int): Column =
    round(sum(qc18(c, s)) * unscale(s), r).cast("double")

  /** Windowed form of [[sumQ]] (e.g. rolling range-frame sums, where
    * DuckDB's segment-tree evaluation associates differently than
    * Spark's running frame).
    */
  def sumQOver(c: Column, s: Int, w: WindowSpec): Column =
    sum(c.cast(DecimalType(38, s))).over(w).cast("double")

  /** `round(Σ x, r)` with BOTH the sum and the final rounding in the
    * decimal domain. `round(sumQ(c, s).cast(double), r)` with `r < s` is
    * still boundary-unsafe: a 4-dp exact sum ending in `...50` (expected
    * once per ~100 cells for money data!) casts to a double 1 ulp off
    * the tie, and Spark's BigDecimal HALF_UP and DuckDB's double-scaled
    * rounding then disagree — the q9 sf0.1 cell 20896039.9550 split
    * exactly this way. Rounding the DECIMAL first is exact half-up in
    * both engines; only the final ≤r-dp value crosses to double.
    */
  def sumQR(c: Column, s: Int, r: Int): Column =
    round(sum(c.cast(DecimalType(38, s))), r).cast("double")

  /** Scaled-LONG exact sum for summands ALREADY on the 10^−s grid
    * (quantized residuals, pre-rounded scores): `Σ x` via
    * `sum(round(x·10^s) as long) / 10^s` — order-free integer addition at
    * native long speed, ~4× cheaper than the [[sumQ]] decimal path
    * (measured on the r9 PCA/LR regressions). ONLY for grid-resident
    * summands: the long scaling of an off-grid value would truncate real
    * mass. Overflow envelope: |Σ x·10^s| must stay under 2^63 ≈ 9.2e18 —
    * at s=7 and |x| ≤ 1 that is ~9e11 rows per aggregation group; use
    * [[sumQ]] where groups can exceed it.
    */
  def sumQL(c: Column, s: Int): Column = {
    // r10: quantize via [[qLong]] (pure double floor) instead of
    // `round(c·10^s, 0)` — Spark's round-on-double builds a BigDecimal
    // per row; identical integers on the grid-resident contract domain
    sum(qLong(c, s)).cast("double") / math.pow(10, s)
  }

  /** [[sumQL]] with the final `round(Σ, r)` done in EXACT integer
    * arithmetic (`r < s`): `⌊(S + 10^(s−r)/2) / 10^(s−r)⌋ / 10^r` over
    * the scaled-long sum S — HALF_UP with no double anywhere before the
    * final ≤r-dp value. Closes the class the r9 BM25 advisory caught:
    * an exact 6-dp sum of grid terms lands on the 4-dp `.xxxx50` tie
    * about 1% of the time (grid data!), and `round(double, 4)` then
    * splits Spark's BigDecimal HALF_UP against DuckDB's double-scaled
    * rounding even on IDENTICAL input doubles. NON-NEGATIVE sums only
    * (the floor-division form; grid-resident per the [[qLong]]
    * contract); envelope: |S| < 2^63.
    */
  def sumQLR(c: Column, s: Int, r: Int): Column = {
    require(s > r, s"sumQLR needs s > r (got s=$s, r=$r)")
    val down = math.pow(10, s - r).toLong
    VectorFunctions.longDiv(sum(qLong(c, s)) + lit(down / 2), lit(down))
      .cast("double") / math.pow(10, r)
  }

  /** `round(mean(x), r)` for GRID-RESIDENT `x` at scale `s`: scaled-long
    * sum + exact integer ratio ([[ratioR]]) — the compact twin of
    * [[avgQR]] (same values on the contract domain, no per-row
    * BigDecimal). NON-NEGATIVE summands (ratioR contract); envelope:
    * `Σx·10^s · 2·10^r < 2^63`.
    */
  def avgQL(c: Column, s: Int, r: Int): Column = {
    val ss = math.pow(10, s).toLong
    ratioR(sum(qLong(c, s)), count(lit(1)) * ss, r)
  }

  /** `round(n/d, r)` — CONTRACT: `n` and `d` are exact integer columns,
    * `n ≥ 0`, `d > 0` — computed entirely in integer arithmetic:
    * `⌊(n·2·10^r + d) / (2d)⌋ / 10^r` — exact HALF_UP with no double
    * division before the final exact scale. Closes the quotient-tie
    * class the r9 sf0.1 sweep caught live (`events_heatmap` share
    * 565/100000 = .00565 EXACTLY — a count over a power-of-10 total
    * lands on the rounding tie once per ~10 cells, and Spark's
    * BigDecimal HALF_UP vs DuckDB's double-scaled rounding split).
    * Plain `round(n/d, r)` stays fine when the quotient can't terminate
    * near the r+1 grid; counts over round totals can.
    *
    * The non-negativity requirement is LOAD-BEARING, not hygiene: for
    * n < 0 the `⌊(2n·10^r + d)/(2d)⌋` form is half-DOWN, Java's
    * truncating `/` (the [[VectorFunctions.longDiv]] semantics) differs
    * from DuckDB's flooring `//` on negative quotients, and the two
    * engines would silently split. Every current call site feeds counts
    * or non-negative grid sums; a future signed numerator must use the
    * decimal [[sumQR]]/[[avgQR]] path instead.
    * Envelope: `n·2·10^r < 2^63` (native 64-bit [[VectorFunctions.longDiv]],
    * exact at any long magnitude — NOT the 2^53 double envelope) —
    * n ≤ 4.6e14 at r=4.
    */
  def ratioR(n: Column, d: Column, r: Int): Column = {
    val s = math.pow(10, r).toLong
    val num = n.cast("long") * (2 * s) + d.cast("long")
    val den = d.cast("long") * 2
    // native 64-bit integer division (LongDiv expression): exact at any
    // long magnitude — the Column `/` on longs would round through a
    // 53-bit double mantissa
    VectorFunctions.longDiv(num, den).cast("double") / s
  }

  /** `round(mean(x), r)` with the mean's quotient computed as an EXACT
    * integer ratio: the 10^s-scaled decimal sum is integral, so
    * `round(Σx / n, r)` = [[ratioR]](Σx·10^s, n·10^s, r) — closing the
    * Class F tie for means over ROUND group sizes (a per-type mean over
    * exactly 20,000 events sits on the .xxxx5 tie once per ~10 cells;
    * plain `round(sumQ/count, r)` splits HALF_UP vs double-scaled there).
    */
  def avgQR(c: Column, s: Int, r: Int): Column = {
    val ss = math.pow(10, s).toLong
    val n = (sum(c.cast(DecimalType(38, s))) * ss).cast("long")
    ratioR(n, count(lit(1)) * ss, r)
  }

  /** The DuckDB replay of [[ratioR]] (`//` is BIGINT floor division). */
  def sqlRatioR(n: String, d: String, r: Int): String = {
    val s = "1" + ("0" * r)
    s"(CAST((($n * 2 * $s + $d) // (2 * ($d))) AS DOUBLE) / $s)"
  }
}
