package graftbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Output checks, written apart from the code under test: reference
  * plans in plain Spark SQL, compared by row count plus an
  * order-insensitive sum of row xxhash64.
  */
object Check {
  type Result = (String, Boolean, String)

  def digest(df: DataFrame): (Long, java.math.BigDecimal) = {
    val r = df.agg(
      count(lit(1)),
      coalesce(sum(xxhash64(df.columns.map(col).toIndexedSeq: _*).cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)"))).head()
    (r.getLong(0), r.getDecimal(1))
  }

  /** Same rows, as multisets, over the given columns. */
  def same(name: String, got: DataFrame, want: DataFrame, cols: Seq[Column]): Result = {
    val g = digest(got.select(cols: _*))
    val w = digest(want.select(cols: _*))
    (name, g == w, s"got rows=${g._1} hash=${g._2}, want rows=${w._1} hash=${w._2}")
  }

  def ok(name: String, cond: Boolean, detail: => String): Result = (name, cond, if (cond) "" else detail)

  /** The reference's latest-value query: row_number() over (partition
    * by entity order by ts desc, id desc) = 1 (featureform
    * provider/bigquery.go:444).
    */
  def latestRef(events: DataFrame, entity: String, value: String, ts: String, id: String): DataFrame =
    events
      .withColumn("_rn", row_number().over(
        Window.partitionBy(col(entity)).orderBy(col(ts).desc, col(id).desc)))
      .where(col("_rn") === 1)
      .select(col(entity).as("entity"), col(value).as("value"), col(ts).as("ts"), col(id).as("tiebreak"))

  /** The reference's point-in-time join, naively: for each label row and
    * feature, the feature row with the largest ts among those with
    * `ts + lag <= label.ts`.
    */
  def trainingRef(
      labels: DataFrame, features: Seq[(String, DataFrame, Option[Column])]): DataFrame = {
    val l = labels.select(
      col("user_id").as("entity"), col("ts"), col("label"), col("label_id"))
    features.foldLeft(l) { case (acc, (name, f, lag)) =>
      val fts = lag.fold(col("f_ts"))(x => col("f_ts") + x)
      val fr = f.select(col("user_id").as("f_entity"), col("ts").as("f_ts"), col("value").as("f_value"))
      val best = l.select(col("entity"), col("ts"), col("label_id"))
        .join(fr, col("entity") === col("f_entity") && fts <= col("ts"))
        .withColumn("_rn", row_number().over(
          Window.partitionBy(col("label_id")).orderBy(col("f_ts").desc)))
        .where(col("_rn") === 1)
        .select(col("label_id"), col("f_value").as(name))
      acc.join(best, Seq("label_id"), "left")
    }
  }

  /** 1% of entities, by hash. */
  def sample(df: DataFrame, entity: String): DataFrame =
    df.where(pmod(xxhash64(col(entity)), lit(100L)) === 0)

  /** Top-k neighbour ids by cosine, on the driver. */
  def bruteKnn(corpus: Seq[(Long, Array[Double])], q: Array[Double], k: Int): Seq[Long] = {
    def norm(a: Array[Double]) = math.sqrt(a.map(x => x * x).sum)
    val qn = norm(q)
    corpus
      .map { case (id, v) => (id, v.indices.map(i => v(i) * q(i)).sum / (norm(v) * qn)) }
      .sortBy { case (id, s) => (-s, id) }
      .take(k).map(_._1)
  }
}
