package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic HyperLogLog distinct-count sketch over integer keys
  * (reference: the TinkerPop `EstimateCountStep` custom step,
  * `interactive_engine/.../steps/EstimateCountStep.java`, which estimates
  * the distinct traverser count; Flajolet et al., "HyperLogLog: the
  * analysis of a near-optimal cardinality estimation algorithm", 2007).
  *
  * Spark ships `approx_count_distinct` (HLL++), but its register hash is
  * JVM-internal — no other engine can reproduce the estimate, so the
  * driver's DuckDB oracle could never value-check it. This sketch instead
  * hashes the key with a *portable 30-bit avalanche* (multiply-mask /
  * xor-shift rounds, [[withMix]]) whose every step is exact int64 arithmetic
  * expressible in DuckDB (`&`, `>>`, `xor`): bucket = low 10 bits, rho
  * from the bit length of the high 20 via an integer CASE chain, and the
  * harmonic sum uses only exact powers of two (`1.0 / (1 << reg)`), so
  * every floating add is exact and the final estimate is bit-identical
  * across Spark and DuckDB (`SynthSql5.hllEstimateCountSql` is the
  * lockstep twin — any change here must be mirrored there).
  *
  * Why not [[graft.text.TextOps.portableHash]]: its quadratic position
  * weights satisfy w₁−3w₂+3w₃−w₄ = 0 (the third finite difference of a
  * quadratic vanishes), so key sets hitting that binomial stencil —
  * e.g. decimal id strings — collide at high rates. Equality-style uses
  * (banding, splits) tolerate that; leading-zero statistics do not.
  * The multiply/xor-shift finalizer is a bijection on 30-bit space, so
  * distinct sub-2³⁰ keys can never collide, and its avalanche gives the
  * geometric rho distribution HLL's estimator assumes (validated to
  * within ±3% of true cardinality from 2K to 1M keys at build time).
  *
  * Scale shape: per-row register math is codegen'd column arithmetic on
  * the scan; `groupBy(bucket).max(rho)` partial-aggregates map-side into
  * at most [[M]] groups, so the only exchange carries ≤ M rows no matter
  * the input size — the same mergeability argument as HLL++.
  */
object Hll {

  /** Register-index bits: m = 2^10 = 1024 registers (~3.2% std error). */
  val P = 10
  val M: Int = 1 << P

  /** Bits of the mixed hash above the bucket index: 30 − P. */
  val WBits = 20

  /** 30-bit mask. */
  val Mask: Long = (1L << 30) - 1

  private val Alpha: Double = 0.7213 / (1.0 + 1.079 / M)

  /** Multiplier and xor-shift of each avalanche round. */
  private val Rounds = Seq((2654435761L, 15), (2246822519L, 13), (3266489917L, 16))

  /** One avalanche pass over long column `c` of `df`, in place: three
    * multiply-mask / xor-shift rounds. A bijection on [0, 2^30) — odd
    * multipliers are invertible mod 2^30 and xor-shift is its own class
    * of bijection — so distinct small keys stay distinct. All
    * intermediates < 2^62: ANSI-safe.
    *
    * Each step is its own projection. The xor-shift reads its input
    * twice, and a `Column` is a tree, not a DAG: written as one
    * expression, a pass would copy its input 8 times (and [[withMix]]'s
    * two nested passes 72 times), which Catalyst then re-walks on every
    * analyzer and optimizer pass. `CollapseProject` keeps a non-cheap
    * producer that is referenced twice in its own projection, and
    * whole-stage codegen still fuses the chain.
    */
  private def fin(df: DataFrame, c: String): DataFrame =
    Rounds.foldLeft(df) { case (d, (k, s)) =>
      d.withColumn(c, (col(c) * k).bitwiseAND(lit(Mask)))
        .withColumn(c, col(c).bitwiseXOR(shiftright(col(c), s)))
    }

  /** `df` plus long column `out`: the portable 30-bit hash of the
    * non-negative long `id` (evaluated once). The high 30 bits are folded
    * in through one finalizer pass so ids beyond 2^30 (a 100 TB vertex
    * space) still spread; below 2^30 the fold is 0 and the hash is one
    * [[fin]] pass.
    *
    * `out` leaves through an identity `explode(array(_))`, which fences
    * the staged chain: the optimizer pushes a predicate on a projected
    * column (a filter, or the `isnotnull` it infers from a join key)
    * down through every projection, substituting each definition and so
    * rebuilding the copied tree; a predicate on a generated column stays
    * above the Generate.
    */
  def withMix(df: DataFrame, id: Column, out: String): DataFrame = {
    val (h, hi) = (s"${out}__h", s"${out}__hi")
    val staged = df.withColumn(h, id)
      .withColumn(hi, shiftright(col(h), 30).bitwiseAND(lit(Mask)))
    val folded = fin(staged, hi)
      .withColumn(h, col(h).bitwiseAND(lit(Mask)).bitwiseXOR(col(hi)))
      .drop(hi)
    fin(folded, h).withColumn(out, explode(array(col(h)))).drop(h)
  }

  /** Per-bucket max-rho registers for a long key column named `k`. Only
    * buckets that were hit appear (absent bucket = register 0).
    */
  def registers(keys: DataFrame): DataFrame = {
    val w = col("w")
    // bit length of w via an exact integer CASE chain (largest first);
    // w == 0 falls through to 0, giving rho = WBits + 1
    val bitlen = (1 to WBits).foldLeft(lit(0)) { (acc, k) =>
      when(w >= (1L << (k - 1)), lit(k)).otherwise(acc)
    }
    withMix(keys.select(col("k")), col("k"), "h")
      .select(col("h").bitwiseAND(lit((M - 1).toLong)).as("b"), shiftright(col("h"), P).as("w"))
      .select(col("b"), (lit(WBits + 1) - bitlen).as("r"))
      .groupBy(col("b")).agg(max(col("r")).as("reg"))
  }

  /** One-row frame `(n_estimate: double)` — the HLL cardinality estimate
    * of the distinct values in `keys.k`, rounded to 4 dp. Small-range
    * linear counting (m·ln(m/V)) applies below 2.5·m with empty
    * registers, exactly as in the HLL paper; above that the raw harmonic
    * estimate is exact-arithmetic all the way to the final division.
    *
    * Cross-engine caveat: the bit-identical guarantee holds only in the
    * RAW harmonic branch (exact power-of-two adds + one division). The
    * linear-counting branch calls `log()` (JVM libm) vs the twin's
    * DuckDB `ln()` — last-ulp differences between libm implementations
    * are possible, so a 4-dp round could flake near a rounding boundary.
    * Driver-checked estimateCount queries must stay pinned to the raw
    * regime (cardinality ≥ 2.5·m ≈ 2560), as `tg_gremlin_hll` is.
    */
  def estimate(keys: DataFrame): DataFrame = {
    registers(keys)
      .agg(
        coalesce(sum(lit(1.0) / expr("shiftleft(CAST(1 AS BIGINT), CAST(reg AS INT))")), lit(0.0)).as("zp"),
        count(lit(1)).as("nb"))
      .select({
        val zeros = lit(M.toLong) - col("nb")
        val z = col("zp") + zeros.cast("double")
        val raw = lit(Alpha * M * M) / z
        val est = when(zeros > 0L && raw <= lit(2.5 * M),
          lit(M.toDouble) * log(lit(M.toDouble) / zeros.cast("double")))
          .otherwise(raw)
        round(est, 4).as("n_estimate")
      })
  }

  /** Estimate over an arbitrary non-negative long column. */
  def estimateOf(df: DataFrame, c: Column): DataFrame =
    estimate(df.select(c.cast("long").as("k")))
}
