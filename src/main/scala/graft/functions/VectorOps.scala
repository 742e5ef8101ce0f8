package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Vector math over `array<float>`/`array<double>` embedding columns,
  * built from Spark's higher-order functions (`zip_with`, `aggregate`,
  * `transform`) — codegen-friendly, no UDFs, so the expressions stay
  * inside WholeStageCodegen and distribute trivially: every operation is
  * a narrow per-row map.
  *
  * Floats are widened to double *element-wise before* any arithmetic so
  * accumulation error stays at double precision and results are
  * reproducible against external oracles.
  */
object VectorOps {

  /** Element-wise widen to `array<double>`. */
  def toDoubles(v: Column): Column = transform(v, _.cast(DoubleType))

  /** Dot product: left-to-right double accumulation, codegen'd via the
    * custom [[DotProduct]] Catalyst expression (accepts float or double
    * arrays, widening per element — identical arithmetic to the
    * interpreted [[dotHof]], ~order-of-magnitude faster per row).
    */
  def dot(a: Column, b: Column): Column = DotProduct.dot(a, b)

  /** Reference higher-order-function formulation (interpreted; kept for
    * equivalence testing against [[dot]]). Widens elements to double
    * BEFORE multiplying — float×float would round products to 24-bit
    * mantissas and diverge from [[dot]] on raw float arrays.
    */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(toDoubles(a), toDoubles(b), _ * _), lit(0.0), _ + _)

  /** Squared L2 norm / L2 norm. */
  def normSq(a: Column): Column = dot(a, a)
  def norm(a: Column): Column = sqrt(normSq(a))

  /** Cosine similarity. NULL-safe only insofar as null arrays propagate
    * NULL; zero vectors yield NULL via 0/0 → NaN guarded to NULL.
    */
  def cosine(a: Column, b: Column): Column =
    cosineFromParts(dot(a, b), norm(a), norm(b))

  /** Cosine from a precomputed dot and per-vector norms (the staged-norm
    * hot path). The NaN guard matters: Spark sorts NaN ABOVE every double,
    * so an unguarded 0/0 from a zero-norm vector (failed embedding,
    * padding artifact) would take rank 1 in every top-k and pass every
    * `>= threshold` filter; as NULL it sorts last under `desc` and fails
    * the filter.
    */
  def cosineFromParts(dotAB: Column, normA: Column, normB: Column): Column = {
    // try_divide: ANSI mode raises DIVIDE_BY_ZERO even for doubles — a
    // zero-norm divisor must yield NULL, not kill the job
    val c = try_divide(dotAB, normA * normB)
    when(isnan(c), lit(null).cast(DoubleType)).otherwise(c)
  }
}
