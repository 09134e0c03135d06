package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector-similarity primitives over `array<float>` embedding columns.
  *
  * Cost model (measured, not assumed): Catalyst higher-order functions
  * (`zip_with`/`aggregate`) evaluate INTERPRETED — fine for a one-shot
  * dot product, wrong for anything per-plane. The LSH signatures
  * ([[bandedLshKeysQ]], [[lshBucketQ]]) are therefore native
  * single-node expressions (`BandedSig.scala`): one tight loop over the
  * quantized vector with the ±1 hyperplane matrix precomputed, a
  * 1-node Catalyst tree. The unrolled column form ([[signBitsQ]] — one
  * `element_at` per dimension, the signs folded in as add/subtract) is
  * kept as their equivalence reference and as the shape the DuckDB SQL
  * mirrors spell out; it compiles thousands of nodes per query, so no
  * query plans through it. Per-pair scoring keeps the interpreted HOF
  * `intDot` (or the native `dot_i64`): for a single dot product the
  * tight loop beats an `element_at` expansion ~3×.
  *
  * Scale path: brute-force cosine is O(Q×N×d) and only acceptable for a
  * small query set. Blocking/search use BANDED random-hyperplane
  * signatures — `bands` bands of `rowsPerBand` planes each, the same
  * b×r shape as MinHash-LSH banding:
  *   - two vectors at angle θ collide in one band with
  *     p = (1 − θ/π)^rowsPerBand, and in ≥1 of b bands with
  *     1 − (1 − p)^bands — `bands` buys recall, `rowsPerBand` buys
  *     precision;
  *   - expected in-bucket pair count is ~n²/2^rowsPerBand per band, so
  *     at scale pick rowsPerBand ≈ log2(n / targetBucketSize) — the
  *     knob that keeps the candidate self-join linear as n grows. These
  *     are API parameters, not constants, for exactly that reason.
  */
object SimilarityFunctions {

  /** Σ a_i * b_i with elements widened to double. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** L2 norm. */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity (caller may pre-join precomputed norms). */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Deterministic ±1 hyperplane component for (plane j, dim i):
    * derived from the portable md5-based hash so plan-time constants
    * equal what any other engine would derive. */
  def planeComponent(plane: Int, dim: Int): Int =
    if ((TextFunctions.hash60(s"plane$plane:$dim") & 1L) == 1L) 1 else -1

  /** The ±1 hyperplane for plane j in `dims` dimensions. */
  def plane(j: Int, dims: Int): Seq[Int] = (1 to dims).map(planeComponent(j, _))

  /** All `numPlanes` hyperplane sign bits of a quantized vector,
    * computed in ONE pass: each dimension is read once via codegen'd
    * `element_at` and the ±1 plane components become plan-time
    * add/subtract — no higher-order functions, no per-plane re-zip of
    * the array. Returns 0/1 long columns, bit j = [dot(v, plane_j) > 0].
    *
    * Requires `qvec` to have exactly `dims` elements (ANSI `element_at`
    * is strict on bounds — deliberately, a short vector is corrupt
    * input, not something to silently zero-pad). */
  def signBitsQ(qvec: Column, numPlanes: Int, dims: Int): Seq[Column] = {
    val elems = (1 to dims).map(i => element_at(qvec, lit(i)))
    (0 until numPlanes).map { j =>
      val proj = elems.zip(plane(j, dims))
        .map { case (e, s) => if (s > 0) e else -e }
        .reduce(_ + _)
      when(proj > 0, lit(1L)).otherwise(lit(0L))
    }
  }

  /** The sizing rule from the header as code: the smallest
    * `rowsPerBand` keeping the expected per-band bucket population
    * near `targetBucketSize`, i.e. ceil(log2(n / target)). Doubling n
    * adds one row per band — candidate growth stays ~linear. */
  def recommendedRowsPerBand(n: Long, targetBucketSize: Long): Int = {
    require(n > 0 && targetBucketSize > 0)
    // integer bit arithmetic, not floating log: log(2^k)/log(2) drifts
    // above k at several exact powers of two (e.g. 2^29), which would
    // silently halve the bucket size the rule promises
    val q = (n + targetBucketSize - 1) / targetBucketSize // ceil(n/target)
    if (q <= 2L) 1
    else 64 - java.lang.Long.numberOfLeadingZeros(q - 1)
  }

  /** Banded LSH keys for a quantized vector: `bands` string keys, each
    * `"<band>:<packed rowsPerBand-bit signature>"`. Vectors sharing ANY
    * band key are candidate neighbors — explode + equi-join on the key,
    * exactly the MinHash-LSH banding shape. See the header for how to
    * size `bands` (recall) and `rowsPerBand` (candidate-set growth).
    *
    * `planeStride` decouples plane indexing from `rowsPerBand`: band b
    * uses planes `b*stride .. b*stride+rowsPerBand-1` (stride defaults
    * to rowsPerBand). Callers deriving rowsPerBand from a corpus count
    * pass a fixed stride (the cap) so a signature computed at the full
    * stride width, masked to `2^rowsPerBand`, equals this key — which is
    * how a static SQL mirror can agree with a data-dependent width. */
  def bandedLshKeysQ(qvec: Column, bands: Int, rowsPerBand: Int,
                     dims: Int, planeStride: Int = 0): Column = {
    val stride = if (planeStride > 0) planeStride else rowsPerBand
    require(rowsPerBand <= stride, s"rowsPerBand $rowsPerBand > stride $stride")
    // native single-node expression (r18): the column form below built
    // a (bands·rows × dims) unrolled add/subtract tree — thousands of
    // Catalyst nodes whose analysis + whole-stage codegen compile cost
    // was paid per query per run. Same values, property-tested
    // (BandedSigSpec). Callers register via NativeExpressions.register.
    call_function("banded_lsh_keys_q", qvec,
      lit(bands), lit(rowsPerBand), lit(stride), lit(dims))
  }

  /** The retained column-form of [[bandedLshKeysQ]] — the equivalence
    * reference for BandedSigSpec (and the portable fallback shape the
    * DuckDB mirror documents). */
  private[functions] def bandedLshKeysQColumns(
      qvec: Column, bands: Int, rowsPerBand: Int,
      dims: Int, planeStride: Int = 0): Column = {
    val stride = if (planeStride > 0) planeStride else rowsPerBand
    require(rowsPerBand <= stride, s"rowsPerBand $rowsPerBand > stride $stride")
    val bits = signBitsQ(qvec, bands * stride, dims)
    val keys = (0 until bands).map { b =>
      val sig = (0 until rowsPerBand)
        .map(r => bits(b * stride + r) * lit(1L << r))
        .reduce(_ + _)
      concat_ws(":", lit(b).cast("string"), sig.cast("string"))
    }
    array(keys: _*)
  }

  /** Fixed-point quantization of a float vector: element-wise
    * `floor(x * scale)` as long. Quantized vectors make every
    * downstream dot product / LSH bucket integer-exact, so results are
    * bit-identical across engines (and across summation orders — the
    * oracle path). Production similarity can use the float [[cosine]];
    * ranking via the quantized dot is within 1/scale of it. */
  def quantize(vec: Column, scale: Int = 1000): Column =
    transform(vec, x => floor(x.cast("double") * scale).cast("long"))

  /** Integer dot product of two quantized vectors — exact, overflow-safe
    * for |q| < 2^15 per element at dims <= 2^20. */
  def intDot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, v) => acc + v)

  /** Random-hyperplane LSH bucket id of a quantized vector: bit j set
    * iff dot(v, plane_j) > 0 (integer-exact sign tests) — the native
    * single-pass kernel (see [[bandedLshKeysQ]]); callers register via
    * NativeExpressions.register. */
  def lshBucketQ(qvec: Column, numPlanes: Int, dims: Int): Column =
    call_function("lsh_bucket_packed_q", qvec, lit(numPlanes), lit(dims))

  /** Column-form of [[lshBucketQ]] — BandedSigSpec's equivalence
    * reference. */
  private[functions] def lshBucketQColumns(qvec: Column, numPlanes: Int,
                                           dims: Int): Column =
    signBitsQ(qvec, numPlanes, dims).zipWithIndex
      .map { case (b, j) => b * lit(1L << j) }
      .reduce(_ + _)
}
