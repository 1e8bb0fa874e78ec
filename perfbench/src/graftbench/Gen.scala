package graftbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded input generators. The same (workload, size, seed) always
  * gives the same inputs. Ground truth (latest value per entity,
  * planted duplicates, exact copies) is written by the generator, never
  * derived from graft. Inputs are cached as parquet under
  * `<inputs>/<workload>/<size>-s<seed>/`, which holds the generation
  * time of the first run in `gen_s`.
  */
object Gen {
  val EventTypes: Seq[String] = Seq("view", "click", "cart", "purchase", "rating")
  /** 2024-01-01T00:00:00Z in microseconds. */
  val T0: Long = 1704067200000000L
  val DayUs: Long = 86400000000L
  val QueryIdBase: Long = 1000000000L

  /** Inverse-CDF sampler of ranks 0..n-1 with P(k) ∝ 1/(k+1)^s. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(k => 1.0 / math.pow(k + 1.0, s))
      val c = w.scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last)
    }
    def sample(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  /** Run `make` unless the cache dir is complete; returns the generation seconds. */
  def cached(dir: String)(make: => Unit): Double = {
    val done = new java.io.File(dir, "gen_s")
    if (done.exists()) new String(java.nio.file.Files.readAllBytes(done.toPath)).trim.toDouble
    else {
      val t0 = System.nanoTime()
      make
      val s = (System.nanoTime() - t0) / 1e9
      java.nio.file.Files.write(done.toPath, s.toString.getBytes)
      s
    }
  }

  def write(spark: SparkSession, rows: Seq[Row], schema: StructType, path: String): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 8), schema)
      .write.mode("overwrite").parquet(path)

  /** Write rows whose `ts_us` column becomes a TIMESTAMP `ts`. */
  def writeTs(spark: SparkSession, rows: Seq[Row], schema: StructType, path: String): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 8), schema)
      .withColumn("ts", timestamp_micros(col("ts_us"))).drop("ts_us")
      .write.mode("overwrite").parquet(path)

  // ---------------------------------------------------------------- events

  final case class Event(user: Long, etype: Int, value: Double, tsUs: Long, id: Long)

  val EventSchema: StructType = StructType(Seq(
    StructField("user_id", LongType, nullable = false),
    StructField("event_type", StringType, nullable = false),
    StructField("value", DoubleType, nullable = false),
    StructField("ts_us", LongType, nullable = false),
    StructField("event_id", LongType, nullable = false)))

  def eventRow(e: Event, extra: Any*): Row =
    Row.fromSeq(Seq(e.user, EventTypes(e.etype), e.value, e.tsUs, e.id) ++ extra)

  /** Unique microsecond timestamps in [lo, hi). */
  def uniqueTimes(r: SplittableRandom, n: Int, lo: Long, hi: Long, seen: mutable.Set[Long]): Array[Long] =
    Array.fill(n) {
      var t = lo + r.nextLong(hi - lo)
      while (!seen.add(t)) t = lo + r.nextLong(hi - lo)
      t
    }

  /** `n` events of Zipf-active users over [lo, hi), emitted in time
    * order except for about 1% displaced rows.
    */
  def events(
      r: SplittableRandom, n: Int, pickUser: SplittableRandom => Long, lo: Long, hi: Long,
      idBase: Long, seen: mutable.Set[Long]): Array[Event] = {
    val ts = uniqueTimes(r, n, lo, hi, seen).sorted
    val out = Array.tabulate(n) { i =>
      val t = r.nextInt(100)
      val etype = if (t < 40) 0 else if (t < 65) 1 else if (t < 80) 2 else if (t < 90) 3 else 4
      Event(pickUser(r), etype, math.round(r.nextGaussian() * 5000 + 10000) / 100.0, ts(i), idBase + i)
    }
    (0 until n / 100).foreach { _ =>
      val (a, b) = (r.nextInt(n), r.nextInt(n))
      val x = out(a); out(a) = out(b); out(b) = x
    }
    out
  }

  /** Latest event per key by (ts, event_id). */
  def latestBy[K](evs: Iterator[Event])(key: Event => K): mutable.HashMap[K, Event] = {
    val m = mutable.HashMap.empty[K, Event]
    evs.foreach { e =>
      val k = key(e)
      m.get(k) match {
        case Some(cur) if cur.tsUs > e.tsUs || (cur.tsUs == e.tsUs && cur.id > e.id) => ()
        case _ => m(k) = e
      }
    }
    m
  }

  val LatestSchema: StructType = StructType(Seq(
    StructField("entity", LongType, nullable = false), StructField("value", DoubleType, nullable = false),
    StructField("ts_us", LongType, nullable = false), StructField("tiebreak", LongType, nullable = false)))

  def latestRows(m: mutable.HashMap[Long, Event]): Seq[Row] =
    m.valuesIterator.map(e => Row(e.user, e.value, e.tsUs, e.id)).toSeq

  val LabelSchema: StructType = StructType(Seq(
    StructField("user_id", LongType, nullable = false), StructField("label", DoubleType, nullable = false),
    StructField("ts_us", LongType, nullable = false), StructField("label_id", LongType, nullable = false)))

  /** Labels: users drawn from the event log, at times inside [lo, hi). */
  def labels(r: SplittableRandom, evs: Array[Event], n: Int, lo: Long, hi: Long): Seq[Row] = {
    val seen = mutable.HashSet.empty[Long]
    (0 until n).map { i =>
      val u = evs(r.nextInt(evs.length)).user
      Row(u, if (r.nextInt(4) == 0) 1.0 else 0.0, uniqueTimes(r, 1, lo, hi, seen)(0), i.toLong)
    }
  }

  /** Users are ids in a seeded permutation, so the hottest user is not id 0. */
  def zipfUsers(r: SplittableRandom, users: Int, s: Double): SplittableRandom => Long = {
    val z = new Zipf(users, s)
    val perm = Array.range(0, users)
    (users - 1 to 1 by -1).foreach { i =>
      val j = r.nextInt(i + 1); val x = perm(i); perm(i) = perm(j); perm(j) = x
    }
    rr => perm(z.sample(rr)).toLong + 1
  }

  // --------------------------------------------------------------- vectors

  /** Uneven Gaussian mixture: cluster weights ∝ 1/(c+1)^0.7, per-cluster spread 0.3-0.8. */
  final class Mixture(r: SplittableRandom, clusters: Int, dims: Int) {
    private val centers = Array.fill(clusters, dims)(r.nextGaussian())
    private val sigma = Array.fill(clusters)(0.3 + 0.5 * r.nextDouble())
    private val z = new Zipf(clusters, 0.7)
    def draw(rr: SplittableRandom): Array[Float] = {
      val c = z.sample(rr)
      Array.tabulate(dims)(j => (centers(c)(j) + sigma(c) * rr.nextGaussian()).toFloat)
    }
  }

  val VectorSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("v", ArrayType(FloatType, containsNull = false), nullable = false)))

  // ------------------------------------------------------------- documents

  val Stop: Seq[String] = Seq("the", "of", "and", "a", "to", "in", "is")
  val German: Seq[String] = Seq("der", "die", "das", "und", "ist")

  /** Zipf word stream: the English stopwords lead the ranks, then w<rank>. */
  final class Vocab(size: Int) {
    private val z = new Zipf(size, 1.0)
    def word(r: SplittableRandom): String = {
      val k = z.sample(r)
      if (k < Stop.size) Stop(k) else s"w$k"
    }
    def doc(r: SplittableRandom, words: Int): Array[String] = Array.fill(words)(word(r))
  }

  /** Substitute about `rate` of the words (at least one) with fresh draws. */
  def edit(r: SplittableRandom, v: Vocab, base: Array[String], rate: Double): Array[String] = {
    val out = base.clone()
    val n = math.max(1, math.round(base.length * rate).toInt)
    (0 until n).foreach { _ =>
      val i = r.nextInt(out.length)
      var w = v.word(r)
      while (w == out(i)) w = v.word(r)
      out(i) = w
    }
    out
  }
}
