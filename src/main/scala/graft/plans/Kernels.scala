package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumns.{column, expression}
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression}
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Typed Column constructors for graft's native Catalyst expressions —
  * the one way Scala code reaches a kernel. Each builds its expression
  * directly, so the kernel works on any session with nothing to
  * register first, and no function-registry name is read or written.
  * Int, seed and matrix arguments are plain Scala values; SQL callers
  * reach the same expressions through [[graft.GraftExtensions]].
  */
object Kernels {

  def cosine(a: Column, b: Column): Column =
    column(CosineSimilarity(expression(a), expression(b)))

  def l2sq(a: Column, b: Column): Column =
    column(L2SquaredDistance(expression(a), expression(b)))

  def adc(tables: Column, codes: Column): Column =
    column(AdcDistance(expression(tables), expression(codes)))

  def dot(a: Column, b: Column): Column =
    column(DotProduct(expression(a), expression(b)))

  def simhash64(tokens: Column): Column = column(SimHash64(expression(tokens)))

  def minhashBands(tokens: Column, bands: Int, rowsPerBand: Int): Column =
    column(MinHashBands(expression(tokens), bands, rowsPerBand))

  def laneHashes(shingle: Column, lanes: Int): Column =
    column(LaneHashes(expression(shingle), lanes))

  def rp(vec: Column, dims: Int, outDims: Int, seed: String): Column =
    column(SignedProjection(expression(vec), dims, outDims, seed))

  def matApply(vec: Column, mat: Array[Array[Double]]): Column =
    column(MatrixApply(expression(vec), mat))

  def sortedInter(a: Column, b: Column): Column =
    column(SortedIntersectSize(expression(a), expression(b)))

  def pairSample(a: Column, b: Column): Column =
    column(PairSampleMatch(expression(a), expression(b)))

  /** Aggregate: the k best (score desc, id asc) pairs per group. */
  def topk(score: Column, id: Column, k: Int): Column =
    column(topkFunction(expression(score), expression(id), k).toAggregateExpression())

  /** Aggregate: the k smallest distinct values per group. */
  def kmv(value: Column, k: Int): Column =
    column(kmvFunction(expression(value), k).toAggregateExpression())

  // Coerce at construction: an int id / float-or-decimal score is cast
  // here, at analysis time, instead of ClassCastException-ing inside
  // the aggregate buffer at execution time.
  private[graft] def topkFunction(score: Expression, id: Expression, k: Int): TopKByScore =
    TopKByScore(Cast(score, DoubleType), Cast(id, LongType), k)

  private[graft] def kmvFunction(value: Expression, k: Int): KmvSketch =
    KmvSketch(Cast(value, LongType), k)
}
