package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dense-vector math over `array<float|double>` columns: codegen'd
  * kernels (`dot`, `cosine`) and array casts, with `l2Sq` left as a
  * higher-order fold — no UDF, no driver loop; each row's fold runs
  * left-to-right, which keeps results deterministic across engines and
  * runs.
  *
  * Beyond-reference (the reference has no vector columns): this is the
  * foundation for embedding similarity search and near-dup detection over
  * the `embeddings` table.
  */
object VectorFunctions {

  /** Widens an `array<float|double>` to `array<double>`: one array cast,
    * the per-element Cast a `transform(a, x -> cast(x as double))` runs,
    * compiled instead of interpreted. */
  def toDoubleArray(a: Column): Column = a.cast("array<double>")

  /** A constant vector as ONE `Literal` node (`typedlit`) instead of a
    * `CreateArray` over dim `Literal` nodes. The VALUE is identical —
    * ConstantFolding collapses the CreateArray form to exactly this
    * literal — but the pre-folding expression tree is dim× smaller,
    * which cuts the per-job analyzer/optimizer walks that dominate the
    * literal-heavy ANN plans (k cells × dim components per cosine; a
    * k=64 assignment carried 64·64 Literal nodes per projection).
    * Guide §1/§7.3: the cost was driver-side planning, not execution. */
  def litVec(a: Array[Double]): Column = typedlit(a.toSeq)

  /** [[litVec]] for a constant matrix (`array<array<double>>`). */
  def litMat(m: Seq[Array[Double]]): Column = typedlit(m.map(_.toSeq))

  /** Dot product as a codegen'd single left-fold loop
    * (graftshim.VecDot) — same summation order as the interpreted
    * `aggregate(zip_with(...))` it replaced and as DuckDB's
    * list_dot_product, so results stay bit-comparable cross-engine.
    * Accepts float or double arrays (floats widen per element). */
  def dot(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftshim.{Shim, VecDot}
    Shim.toColumn(VecDot(Shim.toExpression(a), Shim.toExpression(b)))
  }

  /** Interpreted HOF dot (the formulation [[dot]] replaced) — kept for
    * the bit-identity pin test. */
  private[graft] def dotHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(toDoubleArray(a), toDoubleArray(b), (x, y) => x * y),
      lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity as the FUSED single-pass kernel
    * (graftshim.VecCosine): one traversal accumulates a·b, a·a, b·b —
    * same IEEE op sequence as the unfused three-dot form (bit-identical,
    * pinned in VecExprSuite) at a third of the array passes. */
  def cosine(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftshim.{Shim, VecCosine}
    Shim.toColumn(VecCosine(Shim.toExpression(a), Shim.toExpression(b)))
  }

  /** Unfused three-dot formulation — kept for the bit-identity pin. */
  private[graft] def cosineUnfused(a: Column, b: Column): Column =
    dot(a, b) / (norm(a) * norm(b))

  /** Squared L2 distance. */
  def l2Sq(a: Column, b: Column): Column =
    aggregate(
      zip_with(toDoubleArray(a), toDoubleArray(b), (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, x) => acc + x)

  /** Corpus-size-derived hyperplane count: the smallest p in
    * [minPlanes, maxPlanes] with 2^p · targetBucket ≥ n, i.e. enough
    * planes that a balanced corpus averages ~targetBucket vectors per
    * bucket — what a real LSH deployment tunes as the corpus grows
    * (constant occupancy keeps the in-bucket quadratic constant). Pure
    * integer comparisons, so any engine derives the identical p from
    * the same count; with [[hashPlanes]] prefix-stable in k (plane i
    * depends only on i), the p-plane bucket is the low-p-bit prefix of
    * the maxPlanes-plane bucket — which lets a static SQL oracle carry
    * all maxPlanes sign terms and gate them on the same derived p. */
  def lshPlanesFor(n: Long, minPlanes: Int = 6, maxPlanes: Int = 16,
                   targetBucket: Int = 8): Int = {
    var p = minPlanes
    while (p < maxPlanes && (1L << p) * targetBucket < n) p += 1
    p
  }

  /** Sign-bit LSH bucket for cosine similarity: the bit pattern of
    * `sign(v · p_i)` over `planes` (fixed pseudo-random hyperplanes).
    * Vectors colliding in a bucket are near-duplicate candidates; two
    * vectors at cosine θ collide with probability (1 - θ/π)^k. */
  def hyperplaneBucket(v: Column, planes: Seq[Array[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      val lp = litVec(p)
      when(dot(v, lp) >= 0, shiftleft(lit(1L), i)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))

  /** Deterministic pseudo-random hyperplanes derived from md5 of
    * ("graft_plane_<seed>_<i>_<j>"): each component is uniform in [-1, 1),
    * an exact double (48-bit mantissa payload), so the identical constants
    * can be interpolated into oracle SQL for bit-exact replay. Bucket
    * assignment is stable across runs, executors, and engines. (Uniform
    * components instead of gaussian: for sign-bit LSH only the direction
    * matters and the small non-uniformity over directions is irrelevant.) */
  def hashPlanes(k: Int, dim: Int, seed: Long = 42L): Seq[Array[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until k).map { i =>
      Array.tabulate(dim) { j =>
        val hex = md.digest(s"graft_plane_${seed}_${i}_${j}".getBytes("UTF-8"))
          .take(6).map(b => f"${b & 0xFF}%02x").mkString
        val h = java.lang.Long.parseLong(hex, 16) // 48 bits
        h.toDouble / (1L << 48).toDouble * 2.0 - 1.0
      }
    }
  }
}
