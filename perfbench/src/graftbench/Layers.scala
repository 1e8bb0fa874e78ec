package graftbench

import scala.collection.mutable

/** Per-layer metrics of a traced run. Layer names are graft's modules. */
object Layers {
  import Main.median

  private val FeatureStoreOps = Seq(
    "materialize", "batch_features", "training_set", "split", "export", "incremental",
    "update_training_set", "serve")
  private val QuantizationOps = Seq("fit", "apply", "build", "probe", "upsert")

  /** Every per-layer metric, in BENCHMARK.json order, with its unit. */
  val Names: Seq[(String, String)] =
    Seq(
      "engine.task_busy_share" -> "ratio", "engine.shuffle_write_bytes" -> "bytes",
      "engine.shuffle_read_bytes" -> "bytes", "engine.spill_bytes" -> "bytes",
      "engine.driver_only_s" -> "s", "engine.plan_s" -> "s", "engine.jobs" -> "count",
      "engine.stages" -> "count", "engine.tasks" -> "count", "engine.scheduler_delay_s" -> "s",
      "engine.codegen_compile_s" -> "s", "engine.gc_s" -> "s", "engine.pinned_peak_bytes" -> "bytes",
      "engine.task_failures" -> "count",
      "sources.read.self_s" -> "s", "sources.commit.self_s" -> "s", "sources.merge.self_s" -> "s",
      "sources.freeze.self_s" -> "s", "sources.bytes_written_per_input_byte" -> "ratio",
      "sources.merge_rewrite_share" -> "ratio", "sources.files_written" -> "count") ++
      FeatureStoreOps.flatMap(op => Seq(
        s"feature_store.$op.self_s" -> "s", s"feature_store.$op.jobs" -> "count",
        s"feature_store.$op.shuffle_bytes" -> "bytes")) ++
      Seq(
        "streaming.cycle.self_s" -> "s", "streaming.batch_ms" -> "ms",
        "streaming.state_rows" -> "count", "streaming.state_bytes" -> "bytes") ++
      QuantizationOps.flatMap(op => Seq(
        s"quantization.$op.self_s" -> "s", s"quantization.$op.jobs" -> "count")) ++
      Seq(
        "quantization.fit.max_dev_share" -> "ratio", "quantization.candidates_per_result" -> "count",
        "similarity.exact_knn.self_s" -> "s", "similarity.multiget.self_s" -> "s",
        "similarity.upsert.self_s" -> "s", "text.filter.self_s" -> "s") ++
      Seq("exact", "minhash", "components").flatMap(op => Seq(
        s"dedup.$op.self_s" -> "s", s"dedup.$op.jobs" -> "count")) ++
      Seq(
        "dedup.pairs_per_planted_pair" -> "ratio",
        // The workloads' own user-facing numbers (medians over all timed passes).
        "materialize_s" -> "s", "training_set_s" -> "s", "refresh_p50_ms" -> "ms",
        "serve_p50_ms" -> "ms", "knn_p50_ms" -> "ms", "index_build_s" -> "s",
        "recall_at_10" -> "ratio", "dup_recall" -> "ratio", "ops_failed_share" -> "ratio",
        "gen_s" -> "s", "trace_overhead_share" -> "ratio", "trace.top_span_coverage" -> "ratio")

  def metrics(
      w: Workload, rec: Recorder, tr: Tracer, passes: Seq[PassRec], o: Opts,
      genS: Double): Seq[(String, Double, String)] = {
    val traced = passes.filter(_.traced)
    val plain = passes.filterNot(_.traced)
    val self = Tracer.selfTimes(tr.spans.toSeq)
    val spansByPass = tr.spans.groupBy(_.pass)
    val v = mutable.LinkedHashMap.empty[String, Double]

    /** Median over traced passes of a per-pass value. */
    def perPass(f: PassRec => Double): Double = median(traced.map(f))
    def inWindow(p: PassRec, ms: Long) = ms >= p.startMs && ms <= p.endMs
    def passTasks(p: PassRec) = tr.tasks.filter(t => inWindow(p, t.launchMs))
    def spansNamed(p: PassRec, name: String) =
      spansByPass.getOrElse(p.id, Nil).filter(_.name == name)
    def selfS(name: String) = perPass(p => spansNamed(p, name).map(s => self(s.id)).sum / 1e9)
    def jobsOf(name: String) = perPass { p =>
      val ids = spansNamed(p, name).map(_.id).toSet
      tr.jobs.count(j => ids(j.span)).toDouble
    }
    def shuffleOf(name: String) = perPass { p =>
      val ids = spansNamed(p, name).map(_.id).toSet
      tr.tasks.filter(t => ids(t.span)).map(_.shuffleWrite).sum.toDouble
    }
    def noteMedian(name: String, passesOnly: Boolean = true) =
      median(rec.notes.getOrElse(name, Nil).filter(x => !passesOnly || x._1 >= 0).map(_._2).toSeq)

    v("engine.task_busy_share") = perPass(p =>
      passTasks(p).map(t => t.finishMs - t.launchMs).sum / (p.wallS * 1000 * o.cores))
    v("engine.shuffle_write_bytes") = perPass(p => passTasks(p).map(_.shuffleWrite).sum.toDouble)
    v("engine.shuffle_read_bytes") = perPass(p => passTasks(p).map(_.shuffleRead).sum.toDouble)
    v("engine.spill_bytes") = perPass(p => passTasks(p).map(_.spill).sum.toDouble)
    v("engine.driver_only_s") = perPass { p =>
      val busy = Tracer.covered(passTasks(p).map(t => (t.launchMs, math.min(t.finishMs, p.endMs))).toSeq)
      math.max(0.0, p.wallS - busy / 1000.0)
    }
    v("engine.plan_s") = perPass(p => tr.plans.filter(x => inWindow(p, x.timeMs)).map(_.planMs).sum / 1000.0)
    v("engine.jobs") = perPass(p => tr.jobs.count(j => inWindow(p, j.submitMs)).toDouble)
    v("engine.stages") = perPass(p => tr.stages.count(s => inWindow(p, s.completeMs)).toDouble)
    v("engine.tasks") = perPass(p => passTasks(p).size.toDouble)
    v("engine.scheduler_delay_s") = perPass(p => passTasks(p).map(_.schedDelayMs).sum / 1000.0)
    v("engine.codegen_compile_s") = perPass(_.codegenNs / 1e9)
    v("engine.gc_s") = perPass(_.gcMs / 1000.0)
    v("engine.pinned_peak_bytes") = perPass(p => tr.pinnedPeak.getOrElse(p.id, 0L).toDouble)
    v("engine.task_failures") = perPass(p => passTasks(p).count(_.failed).toDouble)

    Seq("read", "commit", "merge", "freeze").foreach(op => v(s"sources.$op.self_s") = selfS(s"sources.$op"))
    v("sources.bytes_written_per_input_byte") = perPass { p =>
      val in = passTasks(p).map(_.inputBytes).sum
      if (in == 0) 0.0 else passTasks(p).map(_.outputBytes).sum.toDouble / in
    }
    v("sources.merge_rewrite_share") = noteMedian("merge_rewrite_share")
    v("sources.files_written") = perPass(p => passTasks(p).count(_.outputBytes > 0).toDouble)

    FeatureStoreOps.foreach { op =>
      v(s"feature_store.$op.self_s") = selfS(s"feature_store.$op")
      v(s"feature_store.$op.jobs") = jobsOf(s"feature_store.$op")
      v(s"feature_store.$op.shuffle_bytes") = shuffleOf(s"feature_store.$op")
    }

    v("streaming.cycle.self_s") = selfS("streaming.cycle")
    def progressIn(p: PassRec) = tr.progress.filter(x => inWindow(p, x.timeMs))
    v("streaming.batch_ms") = perPass(p => median(progressIn(p).map(_.batchMs.toDouble).toSeq))
    v("streaming.state_rows") = perPass(p => progressIn(p).map(_.stateRows).maxOption.getOrElse(0L).toDouble)
    v("streaming.state_bytes") = perPass(p => progressIn(p).map(_.stateBytes).maxOption.getOrElse(0L).toDouble)

    QuantizationOps.foreach { op =>
      v(s"quantization.$op.self_s") = selfS(s"quantization.$op")
      v(s"quantization.$op.jobs") = jobsOf(s"quantization.$op")
    }
    val fits = traced.map(p => spansNamed(p, "quantization.fit").map(s => self(s.id)).sum / 1e9)
    val fitMed = median(fits)
    v("quantization.fit.max_dev_share") =
      if (fitMed == 0) 0.0 else fits.map(f => math.abs(f - fitMed)).max / fitMed
    v("quantization.candidates_per_result") = noteMedian("candidates_per_result")
    Seq("exact_knn", "multiget", "upsert").foreach(op =>
      v(s"similarity.$op.self_s") = selfS(s"similarity.$op"))
    v("text.filter.self_s") = selfS("text.filter")
    Seq("exact", "minhash", "components").foreach { op =>
      v(s"dedup.$op.self_s") = selfS(s"dedup.$op")
      v(s"dedup.$op.jobs") = jobsOf(s"dedup.$op")
    }
    v("dedup.pairs_per_planted_pair") = noteMedian("pairs_per_planted_pair")

    def opMedian(name: String, scale: Double) =
      median(rec.opMs.getOrElse(name, Nil).map(_._2 * scale).toSeq)
    v("materialize_s") = opMedian("materialize", 1e-3)
    v("training_set_s") = opMedian("training_set", 1e-3)
    v("refresh_p50_ms") = opMedian("refresh", 1.0)
    v("serve_p50_ms") = opMedian("serve", 1.0)
    v("knn_p50_ms") = opMedian("knn", 1.0)
    v("index_build_s") = opMedian("index_build", 1e-3)
    v("recall_at_10") = noteMedian("recall_at_10")
    v("dup_recall") = noteMedian("dup_recall", passesOnly = false)
    v("ops_failed_share") = rec.failures.size.toDouble / math.max(1, rec.attempted)
    v("gen_s") = genS
    val plainMed = median(plain.map(_.wallS))
    v("trace_overhead_share") =
      if (plainMed == 0) 0.0 else median(traced.map(_.wallS)) / plainMed - 1.0
    v("trace.top_span_coverage") = traced.map { p =>
      val top = spansByPass.getOrElse(p.id, Nil).filter(_.parent < 0).map(s => (s.start, s.end))
      Tracer.covered(top.toSeq) / 1e9 / p.wallS
    }.minOption.getOrElse(0.0)

    require(v.keySet == Names.map(_._1).toSet, "per-layer metric list out of sync")
    Names.map { case (n, u) => (n, v(n), u) }
  }
}
