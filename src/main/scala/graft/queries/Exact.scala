package graft.queries

import graft.functions.ExactSum
import org.apache.spark.sql.Column
import org.apache.spark.sql.types.DecimalType

/** THE oracle-determinism spelling for floating-point aggregation,
  * shared by every query file: SUM over doubles goes through
  * DECIMAL(18,6) (exact, order-independent addition) and back to
  * DOUBLE; averages divide the decimal sum by the count. One definition
  * so a precision change can never leave the files inconsistent with
  * each other — cross-file oracle parity depends on all queries using
  * the identical cast.
  *
  * `dsum(x)` is `CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE)` bit for
  * bit (the spelling every oracle SQL string keeps), computed by the
  * [[graft.functions.ExactSum]] aggregate:
  *   - Per row, x becomes the unscaled micros of its DECIMAL(18,6) cast.
  *     For a double with |x| < 1e9 that is one multiply and a round,
  *     exact away from the 4-ulp band around each .5 tie (the proof is
  *     on `ExactSumKernel.fastMicros`). Ties, larger values, NaN, ±Inf
  *     and non-double inputs take Spark's own cast, so cast overflow
  *     raises under ANSI (and is null under legacy mode) as before.
  *   - The buffer is the exact 128-bit sum in two longs plus a
  *     non-empty flag: no `BigDecimal` per row, partial aggregation
  *     and whole-stage codegen kept, no wrap at 100 TB.
  *   - A group with no non-null input is null. A total with
  *     |unscaled| ≥ 10^28 (outside Spark's DECIMAL(28,6) sum buffer)
  *     raises Spark's sum-overflow error under ANSI, null under legacy.
  *
  * WHAT MAY BE CAST: raw columns, and derived values whose TRUE decimal
  * expansion fits within 6 decimals (e.g. q1's price×(1−discount):
  * 2 dp × 2 dp = exactly 4 dp, so both engines round the double to the
  * same decimal regardless of how they read it). What may NOT: derived
  * doubles whose true expansion exceeds 6 decimals — Spark rounds the
  * double's SHORTEST decimal representation (`Double.toString`) while
  * DuckDB rounds its exact binary expansion, and with >6 true decimals
  * the two disagree at real rates (observed ~1e-11-relative drift in an
  * early spelling of events_time_weighted_avg, whose cents×μs/1e6
  * weights carry 8 true decimals). Such quantities are restated in
  * exact integer arithmetic instead (cents, μs, hex digits) with one
  * final IEEE division — see timeWeightedAvg, anomalyZscore,
  * aggRegrSlope.
  */
private[queries] object Exact {
  def dec(c: Column): Column = c.cast(DecimalType(18, 6))
  def dsum(c: Column): Column = ExactSum(c)
}
