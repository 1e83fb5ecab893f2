package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

/** Vector primitives over `array<float>` embedding columns, computed
  * in double precision via codegen-friendly higher-order functions.
  */
object VectorFns {

  /** Cast an array<float> to array<double> for stable double math —
    * Spark's own array Cast (codegen'd element widening, exact
    * float→double); the former `transform(v, _.cast("double"))`
    * interpreted one lambda per element (r17).
    */
  def toDoubleArray(v: Column): Column = v.cast("array<double>")

  /** Native single-loop dot product (see DotProductExpr) —
    * bit-identical to aggregate(zip_with(a, b, *)), spec-asserted.
    */
  def dot(a: Column, b: Column): Column =
    Bridge.column(DotProductExpr(Bridge.expression(a), Bridge.expression(b)))

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Native L2 normalize with the zero-norm guard (one loop, norm
    * computed once — see L2NormalizeExpr); bit-identical to the
    * hoisted-norm HOF shape it replaces, spec-asserted.
    */
  def normalize(a: Column): Column =
    Bridge.column(L2NormalizeExpr(Bridge.expression(a)))

  /** Squared L2 distance — single fused pass over both arrays. */
  def l2sq(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0), (acc, x) => acc + x)

  /** Cosine similarity (inputs already double arrays) — native
    * single-pass expression; bit-identical to
    * dot(a,b)/(norm(a)*norm(b)) with sequential accumulation.
    */
  def cosine(a: Column, b: Column): Column =
    Bridge.column(CosineSimilarityExpr(Bridge.expression(a), Bridge.expression(b)))


  /** Driver-side cosine, BIT-IDENTICAL to [[CosineSimilarityExpr]]
    * (same accumulation order, same dot/(sqrt(na)*sqrt(nb)) form, no
    * zero-norm guard) — the ONE implementation every driver-side probe
    * selection (IVF centroid pick, HNSW beam) shares, so selection can
    * never tie-break differently from the engine's scoring.
    */
  def dcos(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length) // the expression's min(numElements)
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Deterministic pseudo-random hyperplane component (no RNG state:
    * derived from a splitmix64-style integer mix so every engine/run
    * agrees).
    */
  private def planeComponent(plane: Int, d: Int): Double = {
    var z = plane.toLong * 0x9E3779B97F4A7C15L + d.toLong * 0xBF58476D1CE4E5B9L + 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z = z ^ (z >>> 31)
    (Math.floorMod(z, 2000001L) - 1000000L) / 1000000.0
  }

  /** Fixed random-hyperplane set: `nPlanes` x `dim` doubles. */
  def hyperplanes(nPlanes: Int, dim: Int): Array[Array[Double]] =
    Array.tabulate(nPlanes, dim)(planeComponent)

  /** Random-hyperplane LSH signature: bit j = sign(v · plane_j).
    * Returns an int bucket id in [0, 2^nPlanes).
    */
  def lshBucket(v: Column, planes: Array[Array[Double]]): Column =
    Bridge.column(HyperplaneLshExpr(Bridge.expression(v), planes))
}
