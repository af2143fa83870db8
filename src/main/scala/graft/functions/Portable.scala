package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Oracle-portable arithmetic helpers.
  *
  * The driver's correctness gate hash-compares our parquet output against a
  * DuckDB run of `SparkEntry.oracleSql`. Floating-point SUM/AVG are
  * order-dependent, and Spark and DuckDB do not aggregate in the same order,
  * so every aggregate we expose routes double columns through exact decimal
  * arithmetic and casts the *final* value back to double. Both engines then
  * produce bit-identical doubles.
  *
  * Timestamps are emitted as formatted strings (or DATEs) because the test
  * parquet stores nanosecond timestamps: DuckDB keeps ns precision while
  * Spark truncates to microseconds, so raw timestamp output would never
  * hash-match.
  */
object Portable {
  /** Exact 2-dp decimal view of a double column (money-like values). */
  def dec2(c: Column): Column = c.cast(DecimalType(18, 2))

  /** Exact 6-dp decimal view of a double column (derived products). */
  def dec6(c: Column): Column = c.cast(DecimalType(28, 6))

  /** Order-insensitive exact sum of a money-like double column, as double.
    * Oracle SQL equivalent: CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE). */
  def sum2(c: Column): Column = sum(dec2(c)).cast("double")

  /** Exact sum of a 6-dp product term, as double.
    * Oracle: CAST(SUM(CAST(expr AS DECIMAL(28,6))) AS DOUBLE). */
  def sum6(c: Column): Column = sum(dec6(c)).cast("double")

  /** Deterministic average: exact decimal sum divided by count, as double.
    * Oracle: CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE) / COUNT(x). */
  def avg2(c: Column): Column =
    sum(dec2(c)).cast("double") / count(c)

  /** Unscaled integer view of a decimal column (the "cents" long). */
  private def unscaled(c: Column): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      org.apache.spark.sql.catalyst.expressions.UnscaledValue(
        org.apache.spark.sql.GraftSqlBridge.expression(c)))

  private val GuardMsg =
    "sumFast: overflow cannot be ruled out for this group (rows x magnitude too large, " +
      "or a value overflowed the decimal cast) - use the exact decimal forms " +
      "(Portable.sum2 / sum6) at this scale"

  /** Exact unscaled long + limb split shared by the fast-sum forms.
    * Precision 18 keeps the decimal in Spark's compact (long-backed)
    * representation AND proves the unscaled value fits a long (10^18 <
    * 2^63) — values too big for 18 digits null out (or raise under ANSI)
    * and the guards catch them; they never truncate silently. */
  private def limbs(c: Column, scale: Int): (Column, Column, Column) = {
    require(scale >= 0 && scale <= 6, s"sumFast supports scale 0..6, got $scale")
    val u = unscaled(c.cast(DecimalType(18, scale)))
    val q = shiftright(u, 26)
    val r = u - (q * lit(1L << 26))
    (u, q, r)
  }

  /** Exact double view of the merged limb sums: (Σq)·2²⁶ + Σr in
    * Decimal(38,0), scaled back down. The division result carries ≥ 6
    * fractional digits and the true quotient has ≤ `scale` ≤ 6, so the
    * value is exact; decimal→double is then correctly rounded — together
    * bit-identical to `CAST(SUM(CAST(x AS DECIMAL(p,scale))) AS DOUBLE)`. */
  private def reassemble(sumQ: Column, sumR: Column, scale: Int): Column =
    ((sumQ.cast(DecimalType(38, 0)) * lit(1L << 26) + sumR.cast(DecimalType(38, 0))) /
      lit(math.pow(10, scale).toLong)).cast("double")

  /** Exact decimal sum at long-add speed: two-limb integer accumulation of
    * the decimal's unscaled value with a provable-overflow guard.
    *
    * The decimal forms ([[sum2]]/[[sum6]]) are exact but pay per-row
    * Decimal object arithmetic in the aggregation buffer. Here each value
    * becomes its exact unscaled long (same cast, same rounding —
    * bit-identical semantics), split into two limbs (high = v >> 26,
    * low = v - (high << 26) ∈ [0, 2^26)) that accumulate as plain codegen
    * long sums; the group's final value is reassembled in decimal once per
    * group, so the result is bit-identical to
    * `CAST(SUM(CAST(x AS DECIMAL(p,scale))) AS DOUBLE)` whenever it
    * returns at all.
    *
    * Safety at 100 TB: the guard proves no limb overflow from the group's
    * own (count, max |high limb|) — if it cannot (too many rows × too big
    * magnitudes, or a value that overflowed the decimal cast), the
    * aggregate raises with direction to the decimal forms. It never
    * returns a wrong sum. For cents-scale columns the guard binds around
    * 2^36 rows per group; beyond that use [[sum2]]/[[sum6]]. */
  def sumFast(c: Column, scale: Int): Column = sumFastGuarded(c, scale, (1L << 62) - 1)

  /** [[sumFast]] with an injectable limb-sum capacity so specs can trip the
    * magnitude branch of the guard without 10⁸ rows; production capacity is
    * 2⁶²−1. */
  private[graft] def sumFastGuarded(c: Column, scale: Int, limbCap: Long): Column = {
    val (u, q, r) = limbs(c, scale)
    val n         = count(u)
    val safe =
      n === 0 ||
        ((max(abs(q)) + 1) <= lit(limbCap) / n &&
          n < lit(1L << 36) &&
          count(c) === n) // a decimal-cast overflow nulls u (non-ANSI)
    when(safe, reassemble(sum(q), sum(r), scale)).otherwise(raise_error(lit(GuardMsg)))
  }

  /** Mergeable [[sumFast]] state: limb sums plus the guard witnesses, all
    * plain longs. Limb addition is associative, so exact sums can
    * pre-aggregate below a join (one row per fine key) and re-aggregate
    * above it with [[sumFastMerge]] — the two-level aggregate shape that
    * shrinks a 100 TB fact-table shuffle to its key cardinality. */
  def sumFastPartial(c: Column, scale: Int): Column = {
    val (u, q, r) = limbs(c, scale)
    struct(
      sum(q).as("sq"),
      sum(r).as("sr"),
      count(u).as("n"),
      max(abs(q)).as("mq"),
      count(c).as("nc"))
  }

  /** Merge + finish [[sumFastPartial]] states (aggregate context): the
    * guard re-proves no limb overflow at ANY level from the merged
    * witnesses (Σn, max mq bound every sub-group's sums too), then
    * reassembles — bit-identical to [[sumFast]] over the underlying rows
    * in one level. */
  def sumFastMerge(p: Column, scale: Int): Column = {
    require(scale >= 0 && scale <= 6, s"sumFast supports scale 0..6, got $scale")
    val n = sum(p("n"))
    val safe =
      n === 0 ||
        ((max(p("mq")) + 1) <= lit((1L << 62) - 1) / n &&
          n < lit(1L << 36) &&
          sum(p("nc")) === n)
    when(safe, reassemble(sum(p("sq")), sum(p("sr")), scale)).otherwise(raise_error(lit(GuardMsg)))
  }

  /** [[sumFast]] at money scale. Oracle-equal to [[sum2]]. */
  def sum2fast(c: Column): Column = sumFast(c, 2)

  /** [[sumFast]] at 6-dp product scale. Oracle-equal to [[sum6]]. */
  def sum6fast(c: Column): Column = sumFast(c, 6)

  /** Fast deterministic average. Oracle-equal to [[avg2]]. */
  def avg2fast(c: Column): Column = sumFast(c, 2) / count(c)

  /** Order-deterministic sum of arbitrary doubles (aggregate context).
    *
    * Decimal casts are only portable for conceptually low-scale values
    * (money-like data); an arbitrary double cast to decimal rounds via
    * shortest-representation in Spark but exact-binary in DuckDB, which
    * diverges near scale boundaries. For arbitrary doubles the portable form
    * is a sequential left fold in a deterministic order — identical operand
    * order + identical IEEE adds = identical bits in both engines.
    *
    * Oracle SQL equivalent:
    *   list_reduce(list(v ORDER BY k1, k2, ...), (a,b) -> a + b)
    *
    * `orderKeys` must totally order the group's rows.
    */
  def orderedSumDouble(value: Column, orderKeys: Seq[Column]): Column = {
    val fields = orderKeys.zipWithIndex.map { case (c, i) => c.as(s"_k$i") } :+ value.as("_v")
    aggregate(
      transform(array_sort(collect_list(struct(fields: _*))), x => x("_v")),
      lit(0.0),
      (acc, v) => acc + v)
  }

  /** Timestamp → 'yyyy-MM-dd HH:mm:ss' string (second precision).
    * Oracle: strftime(ts, '%Y-%m-%d %H:%M:%S'). */
  def tsStr(c: Column): Column = date_format(c, "yyyy-MM-dd HH:mm:ss")

}
