package graft

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{TextFunctions, VectorFunctions}
import graft.operators.{Dedup, Quantization, Similarity}
import graft.plans.Kernels

class GraftExtensionsSpec extends AnyFunSuite {

  /** Runs `body` on a new session of the shared SparkContext, built by
    * `configure`. Clears the default session first — getOrCreate would
    * otherwise return it unchanged — and restores it afterwards.
    */
  private def withNewSession[T](configure: SparkSession.Builder => SparkSession.Builder)(
      body: SparkSession => T): T = {
    val shared = GraftTestSession.spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      body(configure(SparkSession.builder().master("local[2]"))
        .config("spark.ui.enabled", "false")
        .getOrCreate())
    } finally {
      SparkSession.setDefaultSession(shared)
      SparkSession.setActiveSession(shared)
    }
  }

  // (score, id, value) rows for the two aggregate kernels
  private val aggRows = Seq((0.5, 7, 5L), (0.9, 8, 1L), (0.7, 9, 5L), (0.1, 1, 9L), (0.2, 2, 2L))

  /** topk(score, id, 2) and kmv(value, 3) over [[aggRows]]. */
  private def assertTopkKmv(r: Row): Unit = {
    assert(r.getSeq[Row](0).map(e => (e.getLong(0), e.getDouble(1))) == Seq((8L, 0.9), (9L, 0.7)))
    assert(r.getSeq[Long](1) == Seq(1L, 2L, 5L))
  }

  test("a session built with GraftExtensions resolves the native functions in SQL") {
    // The spark.sql.extensions STATIC conf is only read when the
    // SparkContext is created, and tests share one context — so drive
    // the same GraftExtensions.apply through the public withExtensions
    // builder hook (the config path differs only in loading the class
    // by name, which needs just the zero-arg constructor this class
    // has).
    withNewSession(_.withExtensions(new GraftExtensions())) { s2 =>
      val row = s2.sql(
        """SELECT
          |  graft_cosine(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS c,
          |  graft_l2sq(array(0.0D, 3.0D), array(4.0D, 3.0D)) AS d,
          |  graft_adc(array(array(1.0D, 2.0D)), array(1)) AS a,
          |  graft_simhash64(array('hello', 'world')) IS NOT NULL AS s,
          |  graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)),
          |  graft_sorted_inter(array(1, 3, 5), array(3, 5, 7)),
          |  graft_pair_sample(1L, 2L) IS NOT NULL,
          |  size(graft_lane_hashes('a b c', 4)),
          |  size(graft_minhash_bands(array('a b c'), 2, 2)),
          |  size(graft_rp(array(1.0D, 2.0D), 2, 3, 'rp')),
          |  graft_matapply(array(2.0D, 3.0D), array(array(1.0D, 0.0D), array(0.5D, 2.0D)))
          |""".stripMargin).collect().head
      assert(row.getDouble(0) == 1.0)
      assert(row.getDouble(1) == 16.0)
      assert(row.getDouble(2) == 2.0)
      assert(row.getBoolean(3))
      assert(row.toSeq.drop(4) == Seq(11.0, 2, true, 4, 2, 3, Seq(2.0, 7.0)))
      s2.createDataFrame(aggRows).toDF("s", "id", "v").createOrReplaceTempView("agg_rows")
      assertTopkKmv(s2.sql("SELECT graft_topk(s, id, 2), graft_kmv(v, 3) FROM agg_rows").head())
    }
  }

  test("every kernel constructor runs on a session that never registered anything") {
    withNewSession(identity) { s =>
      import s.implicits._
      assert(!s.catalog.functionExists("graft_cosine"))
      val in = Seq((Seq(1.0, 2.0, 3.0), Seq(0.5, -1.0, 2.0), Seq(Seq(1.0, 2.0), Seq(3.0, 4.0)),
          Seq(1, 0), "the quick brown fox jumps over the lazy dog", Seq("a b c", "b c d"),
          Seq(1, 3, 5, 9), Seq(3, 4, 5)))
        .toDF("a", "b", "t", "c", "text", "shs", "x", "y")
      val (a, b, t, c, shs) = (col("a"), col("b"), col("t"), col("c"), col("shs"))
      // the first or second 16 hex chars of md5("0:" || shingle)
      def hexLane(sh: Column, from: Int) = substring(md5(concat(lit("0:"), sh)), from, 16)
      val checks = Seq(
        Kernels.cosine(a, b) -> VectorFunctions.cosineHof(a, b),
        Kernels.l2sq(a, b) -> VectorFunctions.l2SqHof(a, b),
        Kernels.dot(a, b) -> VectorFunctions.dot(a, b),
        Kernels.adc(t, c) -> VectorFunctions.adcHof(t, c, 2),
        Kernels.simhash64(TextFunctions.distinctTokens(col("text"))) -> Dedup.simhash(col("text")),
        // one band of two lanes: md5 of the lanes' min hex halves, joined with ','
        Kernels.minhashBands(shs, 1, 2)(0) -> md5(concat_ws(",",
          array_min(transform(shs, hexLane(_, 1))), array_min(transform(shs, hexLane(_, 17))))),
        lower(lpad(hex(Kernels.laneHashes(shs(0), 2)(0).bitwiseXOR(lit(Long.MinValue))), 16, "0"))
          -> hexLane(shs(0), 1),
        Kernels.rp(a, 3, 2, "rp") -> Quantization.randomProjection(a, 3, 2),
        Kernels.matApply(a, Array(Array(1.0, 0.0, 0.0), Array(0.5, 2.0, 1.0)))
          -> typedLit(Seq(1.0, 7.5)),
        Kernels.sortedInter(col("x"), col("y")) -> size(array_intersect(col("x"), col("y"))))
      val same = in.select(checks.map { case (kernel, ref) => kernel === ref }: _*).head()
      checks.indices.foreach(i => assert(same.get(i) == true, same.schema(i).name))

      // the declarative md5/conv predicate the pair-sample kernel replaced
      val ids = (0L until 2000L).map(i => (i, i * 7919 % 1000)).toDF("a", "b")
      val sampled = conv(substring(md5(concat(
        col("a").cast("string"), lit(":"), col("b").cast("string"))), 1, 4), 16, 10)
        .cast("int") % 256 === 0
      assert(ids.where(Kernels.pairSample(col("a"), col("b")) =!= sampled).count() == 0L)
      assert(ids.where(sampled).count() > 0L)

      assertTopkKmv(aggRows.toDF("s", "id", "v")
        .agg(Kernels.topk(col("s"), col("id"), 2), Kernels.kmv(col("v"), 3)).head())
      assert(!s.catalog.functionExists("graft_cosine"))
    }
  }

  test("graft operators leave a user function of the same name alone") {
    val s = GraftTestSession.spark.newSession()
    import s.implicits._
    s.udf.register("graft_cosine", (_: Seq[Double], _: Seq[Double]) => -42.0)
    val corpus = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)), (3L, Array(1.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    assert(Similarity.knnBruteForce(corpus, corpus, "vec_id", "embedding", 1).count() == 3L)
    assert(s.sql("SELECT graft_cosine(array(1.0D), array(1.0D))").head().getDouble(0) == -42.0)
  }
}
