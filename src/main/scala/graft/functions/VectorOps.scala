package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level vector kernels over `ARRAY<FLOAT>` / `ARRAY<DOUBLE>` columns.
  *
  * Re-expresses the reference's per-vector math (vers/src/indexes/base.rs:62-293)
  * as Catalyst higher-order functions (`zip_with` / `aggregate` / `transform`),
  * which stay inside whole-stage codegen — the Spark analogue of the
  * reference's SIMD kernels (base.rs:158-293): vectorization is a physical
  * detail the JIT supplies, semantics live here.
  *
  * Precision contract: all reductions (`dot`, `sqDist`, …) cast elements to
  * DOUBLE **before** arithmetic and fold left-to-right from a 0.0 initial
  * value. The DuckDB oracle SQL does the identical cast + fold order, so
  * per-row results are bit-identical across engines (IEEE 754 double ops are
  * deterministic given identical operand order).
  */
object VectorOps {

  /** Elementwise a + b (base.rs:62-72). */
  def vecAdd(a: Column, b: Column): Column = zip_with(a, b, (x, y) => x + y)

  /** Elementwise b - a with the reference's operand flip preserved at call
    * sites; this helper is plain a - b (base.rs:85-89 is `other - self`). */
  def vecSub(a: Column, b: Column): Column = zip_with(a, b, (x, y) => x - y)

  /** Elementwise v / s (base.rs:74-83). */
  def vecDivScalar(v: Column, s: Column): Column = transform(v, x => x / s)

  /** Elementwise midpoint (a+b)/2 — used only for LSH hyperplane
    * construction (base.rs:107-111, lsh.rs:58-94). */
  def vecMidpoint(a: Column, b: Column): Column =
    zip_with(a, b, (x, y) => (x + y) / lit(2.0d))

  /** Σ aᵢ·bᵢ in double precision (base.rs:91-93). Physical form: the
    * fused-loop codegen expression (ArrayMath) — bit-identical to the
    * declarative `aggregate(zip_with(a, b, _*_), 0.0, _+_)` it replaced
    * (same widening, same fold order), minus the per-row allocations. */
  def dot(a: Column, b: Column): Column = ArrayMath.dotFused(a, b)

  /** Σ (aᵢ−bᵢ)² in double precision (base.rs:119-126) — the workhorse
    * metric for IVFFlat + LSH. Returns squared L2 (not rooted), matching
    * the reference which stores squared distances and surfaces sqrt only
    * at display time (utils.rs:106,156). Fused-loop codegen twin of
    * `aggregate(zip_with(...))` — see [[ArrayMath]]. */
  def sqDist(a: Column, b: Column): Column = ArrayMath.sqDistFused(a, b)

  /** √(v·v) (base.rs:95-97). */
  def magnitude(v: Column): Column = sqrt(dot(v, v))

  /** v/‖v‖, returning v unchanged when ‖v‖ < 1e-6 — the reference's
    * epsilon guard is part of the semantics (base.rs:99-105). Output stays
    * ARRAY<FLOAT> when input is float (cast back), so normalized vectors
    * round-trip through parquet at the same width as the reference's f32. */
  def normalizeF(v: Column): Column = {
    val mag = magnitude(v)
    // mag rides in as a zip_with ARGUMENT (array_repeat evaluates it
    // once); referencing it inside the lambda body would re-run the
    // O(d) dot fold per element — O(d²) per row (the winnow lesson,
    // TextOps.winnowOfGrams scaladoc)
    when(mag < lit(1e-6d), v)
      .otherwise(zip_with(v, array_repeat(mag, size(v)),
        (x, m) => (x.cast("double") / m).cast("float")))
  }

  /** Driver-side twin of [[normalizeF]] for one query vector,
    * bit-identical to it: Σ x² folded in double from 0.0, `sqrt`, the
    * same 1e-6 guard, then each element divided in double and narrowed
    * back to float. */
  def normalizeLocal(v: Array[Float]): Array[Float] = {
    var s = 0.0; var i = 0
    while (i < v.length) { s += v(i).toDouble * v(i).toDouble; i += 1 }
    val mag = math.sqrt(s)
    if (mag < 1e-6) v else v.map(x => (x.toDouble / mag).toFloat)
  }

  /** Cosine *distance* 1 − a·b for pre-normalized inputs — the reference's
    * `cosine_similarity(…, normalized=true)` despite its name
    * (base.rs:128-156; the misnomer is documented at base.rs:153-155).
    * HNSW uses exactly this everywhere (hnsw.rs:258,273). */
  def cosineDistance(a: Column, b: Column): Column = lit(1.0d) - dot(a, b)

  /** True cosine similarity a·b/(‖a‖·‖b‖) for arbitrary inputs — the
    * reference's `normalized=false` branch, with its epsilon floor on the
    * denominator (base.rs:142-151). */
  def cosineSimilarity(a: Column, b: Column): Column = {
    val denom = magnitude(a) * magnitude(b)
    dot(a, b) / when(denom < lit(1e-12d), lit(1e-12d)).otherwise(denom)
  }

  /** Exact-equality key over the float array — the reference's `HashKey`
    * reinterprets f32 bits as u32 for bitwise dedup (base.rs:113-117).
    * `xxhash64` over the RAW bit-pattern ints ([[FloatBitsExpr]]), so
    * the key honours the reference's bitwise contract exactly: distinct
    * NaN payloads and ±0.0 key differently, and no float-formatting
    * rendering sits between the value and the hash. */
  def vecKey(v: Column): Column = {
    import org.apache.spark.sql.GraftShims
    xxhash64(GraftShims.column(
      FloatBitsExpr(GraftShims.expression(v.cast("array<float>")))))
  }

  /** Elementwise mean of a *group* of vectors: Σvᵢ / n, via double-summing
    * aggregate over posexploded elements is expensive; this is the cheap
    * two-column reduction used by `Aggregator`-free call sites:
    * accumulate with [[vecAdd]] then divide. See operators.VectorMean for
    * the grouped aggregator (ivfflat.rs:47-71 semantics, empty→zero). */
  def vecScaleInv(sum: Column, n: Column): Column =
    transform(sum, x => x / n.cast("double"))
}
