package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.plans.Kernels

/** Vector math over `array<float>` embedding columns — the compute core
  * of the embeddinghub surface (reference:
  * embeddinghub/embeddingstore/index.h approx_nearest over a cosine
  * space; space.cc distance kernels).
  *
  * Implementation note: these are built from Spark's higher-order
  * functions (`zip_with`/`aggregate`), evaluated entirely on the JVM
  * with no UDF serialization boundary, and they stay inside the single
  * projected stage. Inputs are cast to double before multiply so the
  * accumulation matches a double-precision oracle to ~1e-14 (float
  * multiplies would diverge at ~1e-7, enough to flip near-tied ranks).
  */
object VectorFunctions {

  private def asDouble(v: Column): Column = transform(v, x => x.cast("double"))

  /** Σ a_i * b_i */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(asDouble(a), asDouble(b), (x, y) => x * y),
      lit(0.0),
      (acc, x) => acc + x)

  /** Inner product via the native codegen'd expression
    * (graft.plans.DotProduct) — the hnswlib ip-space kernel; [[dot]] is
    * its HOF twin and test reference.
    */
  def dotNative(a: Column, b: Column): Column = Kernels.dot(a, b)

  /** L2 norm. */
  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity in [-1, 1], via the native codegen'd Catalyst
    * expression (graft.plans.CosineSimilarity).
    */
  def cosine(a: Column, b: Column): Column = Kernels.cosine(a, b)

  /** Higher-order-function cosine: same sequential double accumulation,
    * no codegen. The test reference for the native expression.
    */
  def cosineHof(a: Column, b: Column): Column = dot(a, b) / (l2Norm(a) * l2Norm(b))

  /** Squared euclidean distance, via the native codegen'd expression
    * (graft.plans.L2SquaredDistance).
    */
  def l2Sq(a: Column, b: Column): Column = Kernels.l2sq(a, b)

  /** PQ asymmetric distance: sum_j tables(j)(codes(j)) via the native
    * codegen'd expression (graft.plans.AdcDistance).
    */
  def adc(tables: Column, codes: Column): Column = Kernels.adc(tables, codes)

  /** Higher-order-function ADC: the same sequential subspace-order
    * fold, no codegen. The test reference for the native expression.
    * `m` is the subspace count.
    */
  def adcHof(tables: Column, codes: Column, m: Int): Column =
    aggregate(
      sequence(lit(1), lit(m)),
      lit(0.0),
      (acc, j) => acc + element_at(element_at(tables, j), element_at(codes, j) + lit(1)))

  /** Higher-order-function squared euclidean distance: same sequential
    * double accumulation, no codegen. The test reference for the native
    * expression.
    */
  def l2SqHof(a: Column, b: Column): Column = {
    val d = zip_with(asDouble(a), asDouble(b), (x, y) => x - y)
    aggregate(d, lit(0.0), (acc, x) => acc + x * x)
  }
}
