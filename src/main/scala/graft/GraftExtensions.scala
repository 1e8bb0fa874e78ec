package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DoubleType}

import graft.plans._

/** The SQL route to graft's native expressions: set
  *
  *   spark.sql.extensions=graft.GraftExtensions
  *
  * (spark-submit / spark-defaults.conf / SparkSession.builder.config),
  * or build the session with [[GraftSession]], and every `graft_*`
  * function below resolves in ANY SQL surface of the session —
  * spark-sql shell, JDBC, `spark.sql(...)`. Scala callers need none of
  * this: [[graft.plans.Kernels]] builds the same expressions as
  * Columns on any session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach { case (name, builder) =>
      ext.injectFunction(
        (FunctionIdentifier(name),
          new ExpressionInfo(classOf[GraftExtensions].getName, name),
          builder))
    }
}

object GraftExtensions {

  private def intLit(fn: String, what: String, e: Expression): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$fn $what must be an int literal, got $other")
  }

  /** Name -> expression builder for every graft SQL function. Int,
    * seed and matrix arguments must be constants; they are read here,
    * at analysis time, into the expression's Scala fields.
    */
  private[graft] val functions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_cosine" -> (a => CosineSimilarity(a(0), a(1))),
    "graft_l2sq" -> (a => L2SquaredDistance(a(0), a(1))),
    "graft_adc" -> (a => AdcDistance(a(0), a(1))),
    "graft_dot" -> (a => DotProduct(a(0), a(1))),
    "graft_simhash64" -> (a => SimHash64(a(0))),
    "graft_sorted_inter" -> (a => SortedIntersectSize(a(0), a(1))),
    "graft_pair_sample" -> (a => PairSampleMatch(a(0), a(1))),
    "graft_lane_hashes" -> (a =>
      LaneHashes(a(0), intLit("graft_lane_hashes", "lanes", a(1)))),
    "graft_minhash_bands" -> (a => MinHashBands(a(0),
      intLit("graft_minhash_bands", "bands", a(1)),
      intLit("graft_minhash_bands", "rowsPerBand", a(2)))),
    "graft_rp" -> { a =>
      val seed = a(3) match {
        case Literal(s, _) if s != null => s.toString
        case other => throw new IllegalArgumentException(
          s"graft_rp seed must be a string literal, got $other")
      }
      SignedProjection(a(0),
        intLit("graft_rp", "dims", a(1)), intLit("graft_rp", "outDims", a(2)), seed)
    },
    "graft_matapply" -> { a =>
      // Any constant matrix: a typedLit from the DataFrame API, or a
      // nested array(array(...)) call from SQL text.
      val mat = (a(1).dataType, a(1).foldable) match {
        case (ArrayType(ArrayType(DoubleType, _), _), true) =>
          val ad = a(1).eval().asInstanceOf[ArrayData]
          Array.tabulate(ad.numElements())(i => ad.getArray(i).toDoubleArray())
        case _ => throw new IllegalArgumentException(
          s"graft_matapply matrix must be a constant array<array<double>>, got ${a(1)}")
      }
      MatrixApply(a(0), mat)
    },
    "graft_topk" -> (a =>
      Kernels.topkFunction(a(0), a(1), intLit("graft_topk", "k", a(2)))),
    "graft_kmv" -> (a => Kernels.kmvFunction(a(0), intLit("graft_kmv", "k", a(1))))
  )
}
