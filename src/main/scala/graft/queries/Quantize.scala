package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Shared float→fixed-point quantizers for oracle parity. Every derived
  * float a query emits is quantized so the last-ulp differences between
  * Spark's and DuckDB's expression evaluation cannot flip a comparison,
  * rank, or dumped value. ONE definition site (queries import it) so the
  * domain rules below are enforced in one place and property-locked by
  * QuantizerSpec.
  *
  * DOMAIN RULES (the r12 sf1 sweep's floor-saturation class):
  *
  *  - [[q6]] / [[q6Sql]] round-half-up to 1e-6 through Spark's
  *    `floor(double)`, which returns BIGINT and SILENTLY CLAMPS to
  *    2⁶³−1 once x·1e6 + 0.5 ≥ 9.223e18 — i.e. for x ≳ 9.22e12 —
  *    while DuckDB's floor stays in the double domain and keeps going:
  *    a silent cross-engine divergence, not an error, even under ANSI.
  *    Use ONLY where |x| is argued bounded ≪ 9.2e12 (probabilities,
  *    rates, correlations, z-scores, bounded means — anything whose
  *    magnitude does not grow with corpus size).
  *
  *  - [[q6u]] / [[q6uSql]] compute the same floor entirely in doubles
  *    (y − y mod 1): no BIGINT, no saturation at ANY magnitude — for
  *    y ≥ 2⁵³ the mod is 0 and the value passes through, which at that
  *    magnitude is past double's integer resolution anyway. Valid for
  *    x ≥ 0 only (both engines' `%` follows the dividend's sign, so a
  *    negative y would ceil instead of floor). Use for sums of squares
  *    and anything else that scales with data volume.
  *
  * QuantizerSpec drives both through Spark at magnitudes 1e0…1e19 and
  * locks: q6 exact against a Scala reference below the bound and
  * observably saturated above it (if a Spark upgrade ever changes the
  * clamp to a loud error, the lock fails and the rule gets re-audited);
  * q6u exact at every magnitude; Column and SQL forms identical.
  */
object Quantize {
  /** Round-half-up to 1e-6. DOMAIN: |x| ≪ 9.2e12 — see object doc. */
  def q6(c: Column): Column = floor(c * lit(1e6) + lit(0.5)) / lit(1e6)
  def q6Sql(e: String): String = s"floor(($e) * 1e6 + 0.5) / 1e6"

  /** Round-half-up to 1e-6 for LARGE non-negative magnitudes — double
    * domain end-to-end, never saturates. DOMAIN: x ≥ 0.
    */
  def q6u(c: Column): Column = {
    val y = c * lit(1e6) + lit(0.5)
    (y - y % lit(1.0)) / lit(1e6)
  }
  def q6uSql(e: String): String =
    s"((($e) * 1e6 + 0.5) - (($e) * 1e6 + 0.5) % 1.0) / 1e6"

  /** Round-half-up to 1e-9 for LARGE non-negative magnitudes (the q6u
    * pattern one scale up — used where a ranking statistic like G² can
    * grow with corpus volume). DOMAIN: x ≥ −0.5e-9 (the +0.5 absorbs
    * numeric noise just below zero).
    */
  def q9u(c: Column): Column = {
    val y = c * lit(1e9) + lit(0.5)
    (y - y % lit(1.0)) / lit(1e9)
  }

  /** Double-domain floor (no half-up rounding) for NON-NEGATIVE
    * operands — the building block for exact quantized-integer sums
    * whose per-term magnitude scales with data volume (expected counts
    * ×1e12 etc.): `floor(double)`'s BIGINT would clamp at 2⁶³, this
    * stays a double and never saturates. Pair it with a
    * decimal(38,0) / DECIMAL(38,0) cast before summing in BOTH engines
    * so the sum is exact too. DOMAIN: x ≥ 0.
    */
  def dfloor(c: Column): Column = c - c % lit(1.0)
}
