package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Cross-engine-stable numeric helpers (SURVEY.md §5).
  *
  * `round(x, k)` differs between engines in ALGORITHM (Spark rounds the
  * exact binary expansion via BigDecimal; DuckDB scales and rounds in
  * double space), so two engines can disagree on boundary-adjacent
  * doubles even when the input double is bit-identical.
  * `stableRound` = floor(x*10^k + 0.5)/10^k is the same double-op
  * sequence in any engine, so identical inputs give identical outputs.
  * Use it for narrow (non-aggregated) computations where both engines
  * compute the same input double; for aggregation results prefer
  * rounding at the scale where the true decimal value terminates.
  */
object Num {
  def stableRound(c: Column, scale: Int): Column = {
    val p = math.pow(10, scale)
    floor(c * lit(p) + lit(0.5)) / lit(p)
  }

  /** Knuth's multiplicative hash of a record id, (id · 2654435761)
    * mod 2^32 for every long id: the deterministic stand-in for rand()
    * behind every reproducible sample, shard and order key (t15, t16,
    * t23, t27, s13, q14, a27's calibration sample). The product itself
    * overflows a long past id ~ 3.47e9 (an ARITHMETIC_OVERFLOW error
    * under ANSI mode, a negative remainder without it), so it is taken
    * from the id's low 32 bits with the multiplier split at 2^16: each
    * partial product stays under 2^48. */
  def scramble(id: Column): Column = {
    val lo = id.bitwiseAND(0xFFFFFFFFL)
    (lo * lit(knuthLow) + (lo * lit(knuthHigh)).bitwiseAND(0xFFFFL) * lit(65536L))
      .bitwiseAND(0xFFFFFFFFL)
  }

  private val knuth = 2654435761L
  private val (knuthHigh, knuthLow) = (knuth >> 16, knuth & 0xFFFFL)

  /** The Bernoulli coin over [[scramble]]: true for a share `p` of ids
    * (p ≥ 1 keeps every id, p ≤ 0 none). */
  def keeps(id: Column, p: Column): Column =
    scramble(id).cast("double") < p * 4294967296.0

  /** The same expression as DuckDB SQL text, for oracle strings. */
  def stableRoundSql(inner: String, scale: Int): String = {
    val p = "1" + "0" * scale
    s"floor(($inner)*$p + 0.5)/$p"
  }
}
