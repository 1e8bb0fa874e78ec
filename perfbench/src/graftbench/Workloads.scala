package graftbench

import java.sql.Timestamp
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Dedup, FeatureStore, Pins, Quantization, Similarity, TextAnalysis}
import graft.operators.FeatureStore.FeatureDef
import graft.sources.{Lakehouse, Spaces, Tables}
import graft.streaming.StreamingFeatures

object Workloads {
  def apply(o: Opts): Workload = o.workload match {
    case "feature_store" => new FeatureStoreWorkload(o)
    case "embedding_ann" => new EmbeddingAnn(o)
    case "corpus_dedup" => new CorpusDedup(o)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Operator outputs are pinned inside the operator's span, so their
    * work is timed there and not in the commit that follows.
    */
  def pin(df: DataFrame): DataFrame = Pins.pin(df)

  def rng(seed: Long, salt: Long): SplittableRandom = new SplittableRandom(seed * 1000003L + salt)

  /** Cache dir of one seed's inputs, keyed by seed and input size. */
  def inputDir(o: Opts, size: Long): String = s"${o.inputs}/${o.workload}/n$size-s${o.seed}"

  /** The training-set features: two plain, one lagged by a day. */
  def features(events: DataFrame): Seq[FeatureDef] = Seq(
    FeatureDef("f_view", events.where(col("event_type") === "view"), "user_id", "value", "ts"),
    FeatureDef("f_purchase", events.where(col("event_type") === "purchase"), "user_id", "value", "ts"),
    FeatureDef("f_rating_lag", events.where(col("event_type") === "rating"), "user_id", "value", "ts",
      lag = Some(expr("INTERVAL 1 DAY"))))

  def featureRefs(events: DataFrame) =
    features(events).map(f => (f.name, f.df, f.lag))

  val TrainingCols = Seq("entity", "ts", "label", "f_view", "f_purchase", "f_rating_lag").map(col)
  val LatestCols = Seq("entity", "value", "ts", "tiebreak").map(col)
}

import Workloads._

// =============================================================== feature_store

/** Feature store, both ways round. Each pass backfills the historical
  * log (latest values, batch features, a point-in-time training set
  * with a lag, a split, a paged export; each committed), then runs one
  * refresh cycle on the live tables (append a delta, merge it into the
  * entity-clustered latest table, refresh the training set, stream it
  * into the online store) and serves point lookups.
  */
final class FeatureStoreWorkload(o: Opts) extends Workload {
  private val tiny = o.size == "tiny"
  private val nEvents = if (tiny) 4000 else 120000
  private val nUsers = nEvents / 5
  private val nLabels = nEvents / 10
  private val deltaEvents = nEvents / 100
  private val deltaUsers = nUsers / 50
  private val cycles = 64
  private val pages = 1
  private val pageSize = if (tiny) 50 else 1000
  private val serves = 4
  private val serveKeys = 16
  private val dir = inputDir(o, nEvents)

  private var root: String = _
  private var lastPages: Seq[Row] = Nil
  private var pageRowsSchema: StructType = _
  private var mem: org.apache.spark.sql.execution.streaming.runtime.MemoryStream[StreamingFeatures.FeatureEvent] = _
  private var query: org.apache.spark.sql.streaming.StreamingQuery = _
  private var applied = 0
  private var deltaStream: Map[Int, Seq[StreamingFeatures.FeatureEvent]] = _
  private var serveRng: SplittableRandom = _

  def rowsPerPass: Long = nEvents + deltaEvents

  def generate(spark: SparkSession, inputs: String): Double = Gen.cached(dir) {
    val r = rng(o.seed, 1)
    val pick = Gen.zipfUsers(r, nUsers, 0.8)
    val seen = mutable.HashSet.empty[Long]
    val end = Gen.T0 + 90 * Gen.DayUs
    val evs = Gen.events(r, nEvents, pick, Gen.T0, end, 0L, seen)
    Gen.writeTs(spark, evs.map(e => Gen.eventRow(e)).toSeq, Gen.EventSchema, s"$dir/events.parquet")
    Gen.writeTs(spark, Gen.labels(r, evs, nLabels, Gen.T0 + 7 * Gen.DayUs, end),
      Gen.LabelSchema, s"$dir/labels.parquet")
    Gen.write(spark, Gen.latestRows(Gen.latestBy(evs.iterator)(_.user)), Gen.LatestSchema,
      s"$dir/truth_latest.parquet")
    val typed = Gen.latestBy(evs.iterator)(e => (e.user, e.etype)).valuesIterator
      .map(e => Row(e.user, Gen.EventTypes(e.etype), e.value)).toSeq
    Gen.write(spark, typed, StructType(Seq(
      StructField("entity", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType))), s"$dir/truth_typed.parquet")
    // Each cycle touches ~2% of users, drawn by activity, with events in the next hour.
    val deltas = (0 until cycles).flatMap { c =>
      val touched = mutable.LinkedHashSet.empty[Long]
      while (touched.size < deltaUsers) touched += pick(r)
      val users = touched.toArray
      val lo = end + c * 3600000000L
      Gen.events(r, deltaEvents, rr => users(rr.nextInt(users.length)), lo, lo + 3600000000L,
        nEvents + c.toLong * deltaEvents, seen).map(e => Gen.eventRow(e, c))
    }
    Gen.writeTs(spark, deltas, Gen.EventSchema.add("cycle", IntegerType), s"$dir/deltas.parquet")
  }

  private def toStream(df: DataFrame): Seq[StreamingFeatures.FeatureEvent] =
    df.select("user_id", "value", "ts", "event_id").collect().toSeq
      .map(r => StreamingFeatures.FeatureEvent(r.getLong(0), r.getDouble(1), r.getTimestamp(2), r.getLong(3)))

  def prepare(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    root = s"${ctx.work}/lake"
    applied = 0
    serveRng = rng(o.seed, 10)
    if (deltaStream == null)
      deltaStream = toStream(spark.read.parquet(s"$dir/deltas.parquet"))
        .groupBy(e => ((e.event_id - nEvents) / deltaEvents).toInt)
    Lakehouse.commit(Tables.load(spark, dir, "events"), root, "events", "overwrite")
    val events = Lakehouse.read(spark, root, "events")
    Lakehouse.commitClustered(
      FeatureStore.materializeLatest(events, "user_id", "value", "ts", "event_id"),
      root, "latest", "overwrite", "entity", 8)
    Lakehouse.commit(
      FeatureStore.trainingSet(Tables.load(spark, dir, "labels"), "user_id", "label", "ts", "label_id",
        features(events)),
      root, "training", "overwrite")
    // The online store starts as a snapshot of the offline latest values;
    // the stream then carries only the deltas.
    Spaces.freeze(Lakehouse.read(spark, root, "latest").select("entity", "value", "ts"),
      s"${ctx.work}/spaces", "online")
    spark.conf.set("spark.sql.streaming.checkpointLocation", s"${ctx.work}/checkpoints")
    mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[StreamingFeatures.FeatureEvent](spark)
    val latest = StreamingFeatures.latestValueStream(mem.toDS()).toDF()
      .withColumn("seq", unix_micros(col("ts")))
    query = StreamingFeatures.upsertSink(latest, "entity", "seq", s"${ctx.work}/spaces", "online")
  }

  def pass(ctx: Ctx): Unit = {
    backfill(ctx)
    refresh(ctx)
  }

  private def backfill(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val events = ctx.span("sources.read")(Tables.load(spark, dir, "events"))
    val labels = ctx.span("sources.read")(Tables.load(spark, dir, "labels"))
    ctx.op("materialize") {
      val latest0 = ctx.span("feature_store.materialize")(pin(
        FeatureStore.materializeLatest(events, "user_id", "value", "ts", "event_id")))
      val latest = if (ctx.corrupt("materialize")) latest0.where(col("entity") % 97 =!= 0) else latest0
      ctx.span("sources.commit")(
        Lakehouse.commitClustered(latest, root, "backfill_latest", "overwrite", "entity", 8))
      val batch = ctx.span("feature_store.batch_features")(pin(FeatureStore.batchFeatures(
        events, "user_id", "event_type", "value", "ts", "event_id", Gen.EventTypes)))
      ctx.span("sources.commit")(Lakehouse.commit(batch, root, "backfill_batch", "overwrite"))
    }
    ctx.op("training_set") {
      val ts = ctx.span("feature_store.training_set")(pin(FeatureStore.trainingSet(
        labels, "user_id", "label", "ts", "label_id", features(events))))
      val split = ctx.span("feature_store.split")(FeatureStore.trainTestSplit(ts, "entity", 0.2))
      ctx.span("sources.commit")(Lakehouse.commit(split, root, "backfill_training", "overwrite"))
    }
    lastPages = (0 until pages).flatMap { p =>
      ctx.op("export_page") {
        val mat = ctx.span("sources.read")(Lakehouse.read(spark, root, "backfill_latest"))
        ctx.span("feature_store.export") {
          val page = FeatureStore.materializeRange(mat, p.toLong * pageSize, (p + 1L) * pageSize)
          pageRowsSchema = page.schema
          page.collect().toSeq
        }
      }
    }
  }

  private def refresh(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val c = applied % cycles
    val delta = ctx.span("sources.read")(
      spark.read.parquet(s"$dir/deltas.parquet").where(col("cycle") === c).drop("cycle"))
    ctx.op("refresh") {
      ctx.span("sources.commit")(Lakehouse.commit(delta, root, "events", "append"))
      val changed = delta.select(col("user_id").as("entity")).distinct()
      val current = ctx.span("sources.read")(Lakehouse.read(spark, root, "latest"))
      val inc0 = ctx.span("feature_store.incremental")(pin(FeatureStore.materializeIncremental(
        current.join(changed, Seq("entity"), "left_semi"), delta, "user_id", "value", "ts", "event_id")))
      val inc =
        if (ctx.corrupt("refresh")) inc0.where(col("entity") =!= inc0.agg(min("entity")).head.getLong(0))
        else inc0
      val stats = ctx.span("sources.merge")(Lakehouse.merge(spark, root, "latest", inc, "entity"))
      ctx.note("merge_rewrite_share",
        stats.rewrittenFiles.toDouble / math.max(1, stats.rewrittenFiles + stats.retainedFiles))
      val events = ctx.span("sources.read")(Lakehouse.read(spark, root, "events"))
      val previous = ctx.span("sources.read")(Lakehouse.read(spark, root, "training"))
      val updated = ctx.span("feature_store.update_training_set")(pin(FeatureStore.updateTrainingSet(
        previous, Tables.load(spark, dir, "labels"), "user_id", "label", "ts", "label_id",
        features(events), changed, "entity")))
      ctx.span("sources.commit")(Lakehouse.commit(updated, root, "training", "overwrite"))
      ctx.span("streaming.cycle") {
        mem.addData(deltaStream(c))
        query.processAllAvailable()
      }
    }
    applied += 1
    val servingTs = new Timestamp((Gen.T0 + 91 * Gen.DayUs) / 1000)
    (0 until serves).foreach { _ =>
      val keys = Seq.fill(serveKeys)(1L + serveRng.nextInt(nUsers))
      ctx.op("serve", request = true) {
        val mat = ctx.span("sources.read")(Lakehouse.read(spark, root, "latest"))
        ctx.span("feature_store.serve")(FeatureStore.serveWithTtl(
          mat.where(col("entity").isin(keys: _*)).withColumn("serving_ts", lit(servingTs)),
          col("serving_ts"), expr("INTERVAL 30 DAYS")).collect())
      }
    }
  }

  def checks(ctx: Ctx): Seq[Check.Result] = {
    val spark = ctx.spark
    val log = Tables.load(spark, dir, "events")
    val labels = Tables.load(spark, dir, "labels")
    // backfill outputs against the reference queries and the generator
    val backfilled = Lakehouse.read(spark, root, "backfill_latest")
    val truth = spark.read.parquet(s"$dir/truth_latest.parquet")
      .withColumn("ts", timestamp_micros(col("ts_us")))
    val typedTruth = spark.read.parquet(s"$dir/truth_typed.parquet")
      .groupBy("entity").pivot("event_type", Gen.EventTypes).agg(first(col("value")))
    val training = Lakehouse.read(spark, root, "backfill_training")
    val sides = training.groupBy("entity").agg(countDistinct(col("split")).as("n")).where(col("n") > 1).count()
    val nTrain = training.count()
    val nTest = training.where(col("split") === "test").count()
    val pageRef = truth.select(LatestCols: _*)
      .withColumn("row_number", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("entity"))).cast("long"))
      .where(col("row_number") <= pages.toLong * pageSize)
    val pagesGot = spark.createDataFrame(spark.sparkContext.parallelize(lastPages, 2), pageRowsSchema)
    // live tables after the last cycle: full recompute and the online store
    val events = Lakehouse.read(spark, root, "events")
    val latest = Lakehouse.read(spark, root, "latest")
    val online = Spaces.load(spark, s"${ctx.work}/spaces", "online")
    Seq(
      Check.same("backfill_latest_vs_row_number_reference", backfilled,
        Check.latestRef(log, "user_id", "value", "ts", "event_id"), LatestCols),
      Check.same("backfill_latest_vs_generator", backfilled, truth, LatestCols),
      Check.same("batch_features_vs_generator", Lakehouse.read(spark, root, "backfill_batch"), typedTruth,
        (Seq("entity") ++ Gen.EventTypes).map(col)),
      Check.same("training_set_vs_naive_join_1pct", Check.sample(training, "entity"),
        Check.sample(Check.trainingRef(labels, featureRefs(log)), "entity"), TrainingCols),
      Check.ok("split_keeps_entities_whole", sides == 0, s"$sides entities on both sides"),
      Check.ok("split_test_share", nTest > 0.1 * nTrain && nTest < 0.3 * nTrain, s"test $nTest of $nTrain"),
      Check.same("export_pages_vs_reference", pagesGot, pageRef, LatestCols :+ col("row_number")),
      Check.same("refreshed_latest_vs_full_recompute", latest,
        Check.latestRef(events, "user_id", "value", "ts", "event_id"), LatestCols),
      Check.same("refreshed_training_set_vs_full_naive_join", Lakehouse.read(spark, root, "training"),
        Check.trainingRef(labels, featureRefs(events)), TrainingCols),
      Check.same("online_store_vs_batch_latest", online, latest, Seq("entity", "value", "ts").map(col)))
  }

  override def close(ctx: Ctx): Unit = if (query != null) { query.stop(); query = null }
}

// =============================================================== embedding_ann

/** ANN serving: build a PCA-whitened IVF-PQ index over a frozen space,
  * then interleave knn requests, multiGet lookups and upsert cycles.
  */
final class EmbeddingAnn(o: Opts) extends Workload {
  private val tiny = o.size == "tiny"
  private val n = if (tiny) 400 else 2000
  private val dims = 32
  private val pcaK = 16
  private val m = 8
  private val ksub = if (tiny) 8 else 16
  private val nCells = if (tiny) 4 else 16
  private val nProbe = if (tiny) 2 else 6
  private val iterations = 1
  private val batch = 32
  private val batches = 16
  private val deltaSize = if (tiny) 20 else 200
  private val cycles = 64
  private val rounds = 2
  private val exactRounds = Set(0)
  private val upsertAfter = Set(0)
  private val dir = inputDir(o, rowsPerPass)

  private var root: String = _
  private var queryN = 0
  private var cycle = 0
  private var lastFit: (Seq[Double], Seq[Seq[Double]]) = _
  private var serveRng: SplittableRandom = _

  def rowsPerPass: Long = n

  def generate(spark: SparkSession, inputs: String): Double = Gen.cached(dir) {
    val r = rng(o.seed, 3)
    val mix = new Gen.Mixture(r, 16, dims)
    Gen.write(spark, (0 until n).map(i => Row(i.toLong, mix.draw(r).toSeq)), Gen.VectorSchema,
      s"$dir/vectors.parquet")
    Gen.write(spark, (0 until batch * batches).map(i => Row(Gen.QueryIdBase + i, mix.draw(r).toSeq)),
      Gen.VectorSchema, s"$dir/queries.parquet")
    // half of each delta updates existing ids, half inserts new ones
    val deltas = (0 until cycles).flatMap { c =>
      val ids = mutable.LinkedHashSet.empty[Long]
      while (ids.size < deltaSize / 2) ids += r.nextInt(n).toLong
      (ids.toSeq ++ (0 until deltaSize / 2).map(j => n.toLong + c * deltaSize + j))
        .map(id => Row(id, mix.draw(r).toSeq, c))
    }
    Gen.write(spark, deltas, Gen.VectorSchema.add("cycle", IntegerType), s"$dir/deltas.parquet")
  }

  def prepare(ctx: Ctx): Unit = {
    root = s"${ctx.work}/spaces"
    queryN = 0
    cycle = 0
    serveRng = rng(o.seed, 30)
  }

  /** PCA-whiten with (μ, W), then L2-normalise, so cosine and L2 rank alike. */
  private def whiten(df: DataFrame, fit: (Seq[Double], Seq[Seq[Double]])): DataFrame = {
    val (mu, w) = fit
    val shift = w.map(row => row.indices.map(i => row(i) * mu(i)).sum)
    Quantization.rotate(df, "vec_id", "v", w)
      .select(col("vec_id"), zip_with(col("vec"), typedLit(shift), (x, y) => x - y).as("c"))
      .select(col("vec_id"), transform(col("c"),
        x => x / sqrt(aggregate(col("c"), lit(0.0), (acc, y) => acc + y * y))).as("v"))
  }

  private def index(): Quantization.IvfPqIndex = {
    val spark = SparkSession.active
    Quantization.IvfPqIndex(Spaces.load(spark, root, "ivf_coarse"), Spaces.load(spark, root, "ivf_codebooks"),
      Spaces.load(spark, root, "ivf_encoded"))
  }

  private def queries(spark: SparkSession, b: Int): DataFrame =
    spark.read.parquet(s"$dir/queries.parquet")
      .where(col("vec_id") >= Gen.QueryIdBase + b * batch && col("vec_id") < Gen.QueryIdBase + (b + 1) * batch)

  def pass(ctx: Ctx): Unit = {
    val spark = ctx.spark
    var corpusW: DataFrame = null
    var fit: (Seq[Double], Seq[Seq[Double]]) = null
    var served: Quantization.IvfPqIndex = null
    ctx.op("index_build") {
      val base = ctx.span("sources.read")(spark.read.parquet(s"$dir/vectors.parquet"))
      ctx.span("sources.freeze")(Spaces.freeze(base, root, "space"))
      val space = ctx.span("sources.read")(Spaces.load(spark, root, "space"))
      val sample = space.where(pmod(xxhash64(col("vec_id")), lit(4L)) === 0)
      fit = ctx.span("quantization.fit")(Quantization.pcaWhitening(sample, "vec_id", "v", dims, pcaK))
      corpusW = ctx.span("quantization.apply")(pin(whiten(space, fit)))
      val idx = ctx.span("quantization.build")(Quantization.buildIvfPq(
        corpusW, "vec_id", "v", m, pcaK, ksub, iterations, nCells, iterations, pinEncoded = true))
      ctx.span("sources.freeze") {
        Spaces.freeze(idx.coarse, root, "ivf_coarse")
        Spaces.freeze(idx.codebooks, root, "ivf_codebooks")
        Spaces.freeze(idx.encoded, root, "ivf_encoded")
      }
      served = ctx.span("sources.read")(index())
    }
    lastFit = fit
    (0 until rounds).foreach { r =>
      val b = queryN % batches
      queryN += 1
      val got = ctx.op("knn", request = true) {
        val q = ctx.span("quantization.apply")(whiten(queries(spark, b), fit))
        ctx.span("quantization.probe")(
          Quantization.probeIvfPq(served, q, "vec_id", "v", m, pcaK, nProbe, 10)
            .select("query_id", "neighbor_id").collect())
      }
      if (exactRounds(r)) {
        val exact = ctx.op("exact_knn") {
          val q = ctx.span("quantization.apply")(whiten(queries(spark, b), fit))
          ctx.span("similarity.exact_knn")(
            Similarity.knnBruteForce(corpusW, q, "vec_id", "v", 10).select("query_id", "neighbor_id").collect())
        }
        val approx = got.groupBy(_.getLong(0)).map { case (k, v) => k -> v.map(_.getLong(1)).toSet }
        val hits = exact.groupBy(_.getLong(0)).toSeq.map { case (qid, rows) =>
          val want = rows.map(_.getLong(1)).toSet
          (approx.getOrElse(qid, Set.empty[Long]) intersect want).size.toDouble / want.size
        }
        ctx.note("recall_at_10", hits.sum / hits.size)
      }
      ctx.op("serve") {
        val keys = Seq.fill(16)(serveRng.nextInt(n).toLong).distinct
        val space = ctx.span("sources.read")(Spaces.load(spark, root, "space"))
        val rows = ctx.span("similarity.multiget")(Similarity.multiGet(space, "vec_id", keys).collect())
        require(rows.length == keys.size, s"multiGet returned ${rows.length} rows for ${keys.size} keys")
      }
      if (upsertAfter(r)) {
        val c = cycle % cycles
        cycle += 1
        ctx.op("upsert") {
          val delta = ctx.span("sources.read")(
            spark.read.parquet(s"$dir/deltas.parquet").where(col("cycle") === c).drop("cycle"))
          val deltaW = ctx.span("quantization.apply")(whiten(delta, fit))
          if (!ctx.corrupt("upsert")) {
            val enc = ctx.span("quantization.upsert")(pin(
              Quantization.upsertIvfPq(served, deltaW, "vec_id", "v", m, pcaK).encoded))
            ctx.span("sources.freeze")(Spaces.freeze(enc, root, "ivf_encoded"))
            served = ctx.span("sources.read")(index())
          }
          val space = ctx.span("sources.read")(Spaces.load(spark, root, "space"))
          val next = ctx.span("similarity.upsert")(pin(Similarity.upsert(space, delta, "vec_id")))
          ctx.span("sources.freeze")(Spaces.freeze(next, root, "space"))
        }
      }
    }
  }

  def checks(ctx: Ctx): Seq[Check.Result] = {
    val spark = ctx.spark
    val base = whiten(spark.read.parquet(s"$dir/vectors.parquet"), lastFit)
    val q = whiten(queries(spark, 0), lastFit)
    val corpus = base.collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toSeq
    val exact = Similarity.knnBruteForce(base, q, "vec_id", "v", 10).select("query_id", "neighbor_id")
      .collect().groupBy(_.getLong(0)).map { case (k, v) => k -> v.map(_.getLong(1)).toSet }
    val mismatched = q.collect().count { r =>
      Check.bruteKnn(corpus, r.getSeq[Double](1).toArray, 10).toSet != exact.getOrElse(r.getLong(0), Set.empty)
    }
    // candidates scored per result: sizes of the nProbe cells each query probes
    val idx = index()
    val cellSize = idx.encoded.groupBy("cell").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val coarse = idx.coarse.collect().map(r => r.getAs[Int]("cell") -> r.getAs[Seq[Double]]("c_vec").toArray)
    val perQuery = q.collect().map { r =>
      val v = r.getSeq[Double](1).toArray
      Check.bruteKnn(coarse.map { case (c, cv) => (c.toLong, cv) }.toSeq, v, nProbe)
        .map(c => cellSize.getOrElse(c.toInt, 0L)).sum.toDouble / 10
    }
    ctx.rec.note("candidates_per_result", 0, perQuery.sum / perQuery.length)
    val recall = Main.median(ctx.rec.notes.getOrElse("recall_at_10", Nil).map(_._2).toSeq)
    Seq(
      Check.ok("exact_knn_vs_driver_brute_force", mismatched == 0, s"$mismatched of $batch queries differ"),
      Check.ok("recall_at_10_floor", recall >= 0.5, s"recall@10 $recall < 0.5"),
      Check.same("index_covers_space", idx.encoded.select("vec_id"),
        Spaces.load(spark, root, "space").select("vec_id"), Seq(col("vec_id"))))
  }
}

// ================================================================ corpus_dedup

/** Corpus dedup: quality and language filter, exact dedup, MinHash LSH,
  * connected components, canonical documents; then id lookups.
  */
final class CorpusDedup(o: Opts) extends Workload {
  private val tiny = o.size == "tiny"
  private val nDocs = if (tiny) 400 else 5000
  private val lookups = 4
  private val dir = inputDir(o, rowsPerPass)
  private var root: String = _
  private var serveRng: SplittableRandom = _

  def rowsPerPass: Long = nDocs

  def generate(spark: SparkSession, inputs: String): Double = Gen.cached(dir) {
    val r = rng(o.seed, 4)
    val vocab = new Gen.Vocab(5000)
    def len() = 40 + r.nextInt(61)
    val texts = mutable.ArrayBuffer.empty[(String, String, Int)] // (text, kind, group)
    var group = 0
    while (texts.size < nDocs * 0.2) { // near-duplicate clusters of 2-4
      val base = vocab.doc(r, len())
      texts += ((base.mkString(" "), "cluster", group))
      (1 until 2 + r.nextInt(3)).foreach { _ =>
        var v = Gen.edit(r, vocab, base, Seq(0.01, 0.02, 0.03)(r.nextInt(3)))
        while (v.sameElements(base)) v = Gen.edit(r, vocab, base, 0.02)
        texts += ((v.mkString(" "), "cluster", group))
      }
      group += 1
    }
    val nJunk = nDocs / 20
    val nCopies = nDocs / 20
    val nSingles = nDocs - texts.size - nJunk - nCopies
    val singles = Array.fill(nSingles)(vocab.doc(r, len()).mkString(" "))
    singles.foreach(t => texts += ((t, "single", -1)))
    (0 until nCopies).foreach { _ => texts += ((singles(r.nextInt(nSingles)), "copy", -1)) }
    (0 until nJunk).foreach { _ =>
      texts += ((Array.fill(len())(
        if (r.nextBoolean()) Gen.German(r.nextInt(Gen.German.size)) else vocab.word(r)).mkString(" "), "junk", -1))
    }
    // shuffle, then ids 1..n
    val order = Array.range(0, texts.size)
    (order.length - 1 to 1 by -1).foreach { i =>
      val j = r.nextInt(i + 1); val x = order(i); order(i) = order(j); order(j) = x
    }
    val docs = order.zipWithIndex.map { case (k, i) => (i + 1L, texts(k)) }
    Gen.write(spark, docs.map { case (id, (t, _, _)) => Row(id, t) }.toSeq,
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))), s"$dir/docs.parquet")
    val pairs = docs.filter(_._2._2 == "cluster").groupBy(_._2._3).values.toSeq.flatMap { g =>
      val ids = g.map(_._1).sorted
      for (i <- ids.indices; j <- i + 1 until ids.length) yield Row(ids(i), ids(j))
    }
    Gen.write(spark, pairs, StructType(Seq(StructField("a", LongType), StructField("b", LongType))),
      s"$dir/planted_pairs.parquet")
    // who survives filter + exact dedup: everything but junk and the non-smallest exact copies
    val survivors = docs.filter(_._2._2 != "junk").groupBy(_._2._1).values.map(_.map(_._1).min)
    Gen.write(spark, survivors.map(Row(_)).toSeq, StructType(Seq(StructField("doc_id", LongType))),
      s"$dir/survivors.parquet")
  }

  def prepare(ctx: Ctx): Unit = {
    root = s"${ctx.work}/lake"
    serveRng = rng(o.seed, 40)
  }

  def pass(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val docs = ctx.span("sources.read")(spark.read.parquet(s"$dir/docs.parquet"))
    val kept = ctx.op("filter") {
      ctx.span("text.filter")(pin {
        val good = TextAnalysis.qualityScore(docs, "doc_id", "text").where(col("quality") >= 0.3)
          .select("doc_id")
        val en = TextAnalysis.langId(docs, "doc_id", "text").where(col("lang_pred") === "en")
          .select("doc_id")
        docs.join(good, Seq("doc_id"), "left_semi").join(en, Seq("doc_id"), "left_semi")
      })
    }
    val survivors = ctx.op("exact") {
      val groups = ctx.span("dedup.exact")(pin(Dedup.exact(kept, "doc_id", "text")))
      ctx.span("sources.commit")(Lakehouse.commit(groups, root, "exact_groups", "overwrite"))
      kept.join(groups.select(col("keep_id").as("doc_id")), Seq("doc_id"), "left_semi")
    }
    ctx.op("near_dup") {
      val pairs = ctx.span("dedup.minhash")(pin(Dedup.minhashLshNative(survivors, "doc_id", "text")))
      ctx.note("candidate_pairs", pairs.count().toDouble)
      ctx.span("sources.commit")(Lakehouse.commit(pairs.select("a", "b"), root, "pairs", "overwrite"))
      val cc0 = ctx.span("dedup.components")(pin(Dedup.connectedComponents(pairs, survivors, "doc_id")))
      val cc = if (ctx.corrupt("components"))
        cc0.withColumn("canonical_id", when(col("doc_id") =!= col("canonical_id") &&
          col("doc_id") === cc0.where(col("doc_id") =!= col("canonical_id")).agg(min("doc_id")).head.getLong(0),
          col("doc_id")).otherwise(col("canonical_id")))
      else cc0
      ctx.span("sources.commit")(Lakehouse.commitClustered(cc, root, "components", "overwrite", "doc_id", 8))
      val canonical = survivors.join(
        cc.where(col("doc_id") === col("canonical_id")).select("doc_id"), Seq("doc_id"), "left_semi")
      ctx.span("sources.commit")(Lakehouse.commit(canonical, root, "canonical", "overwrite"))
    }
    (0 until lookups).foreach { _ =>
      val keys = Seq.fill(16)(1L + serveRng.nextInt(nDocs))
      ctx.op("lookup", request = true) {
        ctx.span("sources.read")(
          Lakehouse.read(spark, root, "components").where(col("doc_id").isin(keys: _*)).collect())
      }
    }
  }

  def checks(ctx: Ctx): Seq[Check.Result] = {
    val spark = ctx.spark
    val comps = Lakehouse.read(spark, root, "components").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("canonical_id")).toMap
    val pairs = Lakehouse.read(spark, root, "pairs").collect().map(r => (r.getLong(0), r.getLong(1)))
    // union-find over the committed pairs: canonical = smallest id of the component
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val q = find(p); parent(x) = q; q }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val wrong = comps.count { case (d, c) => find(d) != c }
    val planted = spark.read.parquet(s"$dir/planted_pairs.parquet").collect().map(r => (r.getLong(0), r.getLong(1)))
    val together = planted.count { case (a, b) => comps.get(a).isDefined && comps.get(a) == comps.get(b) }
    val dupRecall = together.toDouble / planted.length
    ctx.rec.note("dup_recall", -1, dupRecall)
    ctx.rec.notes.getOrElse("candidate_pairs", Nil).foreach { case (p, n) =>
      ctx.rec.note("pairs_per_planted_pair", p, n / planted.length)
    }
    val survivors = spark.read.parquet(s"$dir/survivors.parquet")
    Seq(
      Check.same("filter_and_exact_keep_generator_survivors",
        spark.createDataFrame(spark.sparkContext.parallelize(comps.keys.toSeq.map(Row(_)), 2), survivors.schema),
        survivors, Seq(col("doc_id"))),
      Check.ok("components_match_union_find", wrong == 0, s"$wrong docs with a wrong canonical id"),
      Check.ok("dup_recall_floor", dupRecall >= 0.8, s"dup_recall $dupRecall < 0.8"))
  }
}
