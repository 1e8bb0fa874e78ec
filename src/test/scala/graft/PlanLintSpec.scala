package graft

import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
import org.scalatest.funsuite.AnyFunSuite

/** Plan lint over the ENTIRE query inventory — the static scale guard:
  * a new query (or a refactor of a shared helper) that introduces an
  * unblocked cartesian product or an unpartitioned window would pass
  * value checks at test SFs and only explode at cluster scale, so both
  * are failed here at plan time.
  *
  * BroadcastNestedLoopJoin is allowed: the brute-force kNN family
  * intentionally joins a broadcast query set under a non-equi predicate
  * (self-pair exclusion) — a broadcast × scan, not a shuffle blowup.
  */
class PlanLintSpec extends AnyFunSuite {
  private lazy val spark = GraftTestSession.spark

  test("no query plans a CartesianProduct, an unpartitioned Window, or a UDF") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val df = fn(spark, GraftTestSession.Sf0001)
      val cart =
        if (df.queryExecution.sparkPlan.toString.contains("CartesianProduct"))
          Seq(s"$name: CartesianProduct") else Seq.empty
      val badWindows = df.queryExecution.optimizedPlan.collect {
        case w: LWindow if w.partitionSpec.isEmpty => s"$name: unpartitioned Window"
      }
      // UDFs break whole-stage codegen (ScalaUDF) or worse, cross the
      // Python boundary per row — the inventory must stay native
      val udfs = df.queryExecution.optimizedPlan.collect {
        case p if p.expressions.exists(_.exists(
          _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.ScalaUDF])) =>
          s"$name: ScalaUDF in plan"
      }.distinct
      cart ++ badWindows ++ udfs
    }
    assert(offenders.isEmpty, s"scale-unsafe plans:\n${offenders.mkString("\n")}")
  }

  test("KMV sketch aggregates map-side (partial before the exchange)") {
    // the whole point of the bounded sketch is that each partition
    // reduces to <= k longs BEFORE the shuffle; a final-only aggregate
    // would shuffle every event row. The shipped query pins the
    // sketch frame (localCheckpoint) so its agg plan is not visible
    // from the outer DF — lint the sketch-build plan directly.
    import org.apache.spark.sql.functions._
    val ev = graft.sources.Tables.load(spark, GraftTestSession.Sf0001, "events")
    val df = ev.groupBy(col("event_type")).agg(
      graft.plans.Kernels.kmv(
        graft.functions.TextFunctions.md5Long60(col("user_id").cast("string")), 128).as("sk"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("partial_graft_kmv"),
      s"KMV aggregate is not partial (map-side) in:\n${plan.take(2000)}")
  }

  test("events scans push filters and prune columns (restored family plan audit)") {
    // fs_training_set_pit filters events by event_type: the predicate
    // must reach the parquet scan, not evaluate post-scan
    val pit = SparkEntry.queries("fs_training_set_pit")(spark, GraftTestSession.Sf0001)
    val pitScan = pit.queryExecution.executedPlan.toString
    assert(
      pitScan.contains("PushedFilters: [") &&
        pitScan.matches("(?s).*PushedFilters: \\[[^\\]]*event_type[^\\]]*\\].*"),
      "event_type filter not pushed to the events scan")
    // fs_materialize_latest touches 4 of events' columns: the scan's
    // ReadSchema must NOT include the unused JSON properties payload
    val mat = SparkEntry.queries("fs_materialize_latest")(spark, GraftTestSession.Sf0001)
    val matScans = mat.queryExecution.executedPlan.toString
      .linesIterator.filter(_.contains("ReadSchema")).mkString("\n")
    assert(matScans.nonEmpty, "no parquet scan found")
    assert(!matScans.contains("properties"),
      s"materialize scan reads the unused properties column:\n$matScans")
  }
}
