package graftbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Command-line options, as passed by perfbench/run.py. */
final case class Opts(
    workload: String, seed: Long, seconds: Double, trace: Boolean, size: String, cores: Int,
    inputs: String, work: String, result: String, record: String, corrupt: String)

/** Thrown by [[Ctx.op]] after a failed op has been recorded: the rest of the pass is skipped. */
final class PassFailed(cause: Throwable) extends RuntimeException(cause)

/** Op attempts, failures, latencies and workload-reported values of one run. */
final class Recorder {
  var attempted = 0
  val failures = mutable.ArrayBuffer.empty[Map[String, Any]]
  /** op name -> (pass, ms) of every op in a timed pass. */
  val opMs = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[(Int, Double)]]
  /** Closed-loop read requests of timed passes, in ms. */
  val requestMs = mutable.ArrayBuffer.empty[Double]
  /** Named values a workload reports, with the pass they belong to. */
  val notes = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[(Int, Double)]]

  def fail(op: String, pass: Int, e: Throwable): Unit = failures += Map(
    "op" -> op, "pass" -> pass, "class" -> e.getClass.getName,
    "message" -> Option(e.getMessage).getOrElse("").take(2000))
  def note(name: String, pass: Int, v: Double): Unit =
    notes.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += ((pass, v))
}

/** What a workload's pass sees: the session, the tracer and the recorder. */
final class Ctx(
    val spark: SparkSession, val tracer: Tracer, val rec: Recorder, val opts: Opts, val work: String) {
  /** Current pass: >= 0 for timed passes, negative for the set-up pass and the checks. */
  var pass = -1
  def timed: Boolean = pass >= 0

  /** A call into a graft layer; a span when the pass is traced. */
  def span[T](name: String)(body: => T): T = tracer.span(name)(body)

  /** One timed closed-loop operation. A throw is recorded as a failed op and ends the pass. */
  def op[T](name: String, request: Boolean = false)(body: => T): T = {
    rec.attempted += 1
    val t0 = System.nanoTime()
    val r =
      try tracer.span("op." + name)(body)
      catch {
        case e: PassFailed => throw e
        case e: Throwable =>
          rec.fail(name, pass, e)
          throw new PassFailed(e)
      }
    val ms = (System.nanoTime() - t0) / 1e6
    if (timed) {
      rec.opMs.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += ((pass, ms))
      if (request) rec.requestMs += ms
    }
    r
  }

  def note(name: String, v: Double): Unit = rec.note(name, pass, v)

  /** True when `--corrupt` names this op: its output is to be damaged on purpose. */
  def corrupt(op: String): Boolean = opts.corrupt == op
}

/** One benchmark workload. */
trait Workload {
  /** Input rows one pass processes; rows_per_s = this / median pass time. */
  def rowsPerPass: Long
  /** Make (or load from the cache) this seed's inputs; returns the generation seconds. */
  def generate(spark: SparkSession, inputsDir: String): Double
  /** Per-session state the passes start from (part of set-up). */
  def prepare(ctx: Ctx): Unit
  /** One pass of closed-loop ops. */
  def pass(ctx: Ctx): Unit
  /** Output checks, run after the timed window: (name, ok, detail). */
  def checks(ctx: Ctx): Seq[(String, Boolean, String)]
  /** Stop anything the workload started in the session. */
  def close(ctx: Ctx): Unit = ()
}

final case class PassRec(
    id: Int, traced: Boolean, startNs: Long, endNs: Long, startMs: Long, endMs: Long,
    gcMs: Long, codegenNs: Long) {
  def wallS: Double = (endNs - startNs) / 1e9
}

object Main {
  val ShufflePartitions = 8
  val MinPasses = 2
  val MinTracedPasses = 4

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val o = Opts(
      kv("workload"), kv("seed").toLong, kv("seconds").toDouble, kv("trace") == "1",
      kv.getOrElse("size", "full"), kv("cores").toInt, kv("inputs"), kv("work"), kv("result"),
      kv("record"), kv.getOrElse("corrupt", ""))
    HeapWatch.install()
    val code =
      try run(o)
      catch {
        case e: Throwable =>
          e.printStackTrace()
          2
      }
    sys.exit(code)
  }

  def newSession(o: Opts): SparkSession = graft.GraftSession.local(o.cores, ShufflePartitions)

  /** Between passes only: drop pins and cached data, then collect garbage. */
  def drain(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
    System.gc()
  }

  def run(o: Opts): Int = {
    val w = Workloads(o)
    val rec = new Recorder
    val tracer = new Tracer

    // Set-up: session and kernels, the workload's state, one full-size
    // warm pass. Input generation is timed apart.
    val t0 = System.nanoTime()
    val spark = newSession(o)
    val sessionNs = System.nanoTime() - t0
    val genS = w.generate(spark, o.inputs)
    val t1 = System.nanoTime()
    tracer.attach(spark)
    val ctx = new Ctx(spark, tracer, rec, o, o.work)
    w.prepare(ctx)
    var aborted =
      try { w.pass(ctx); false }
      catch { case _: PassFailed => true }
    val setupS = (sessionNs + System.nanoTime() - t1) / 1e9
    drain(spark)

    // Timed passes. A traced run traces passes 1 and 2 of every four, so
    // traced and untraced passes sit alike on the JIT warm-up curve.
    val passes = mutable.ArrayBuffer.empty[PassRec]
    val deadline = System.nanoTime() + (o.seconds * 1e9).toLong
    val minPasses = if (o.trace) MinTracedPasses else MinPasses
    HeapWatch.reset()
    while (!aborted && (passes.size < minPasses || System.nanoTime() < deadline)) {
      val id = passes.size
      val traced = o.trace && (id % 4 == 1 || id % 4 == 2)
      ctx.pass = id
      tracer.pass = id
      tracer.active = traced
      val gc0 = HeapWatch.gcMillis
      val cg0 = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
      HeapWatch.recording = true
      val s0 = System.nanoTime()
      val m0 = System.currentTimeMillis()
      try w.pass(ctx)
      catch { case _: PassFailed => aborted = true }
      val s1 = System.nanoTime()
      val m1 = System.currentTimeMillis()
      HeapWatch.recording = false
      passes += PassRec(id, traced, s0, s1, m0, m1, HeapWatch.gcMillis - gc0,
        org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime - cg0)
      tracer.drain()
      tracer.active = false
      drain(spark)
    }

    // Output checks, outside the timed window.
    ctx.pass = -100
    val checks =
      if (aborted) Seq(("passes_completed", false, "an op failed; see failures"))
      else
        try w.checks(ctx)
        catch { case e: Throwable => Seq(("checks", false, s"${e.getClass.getName}: ${e.getMessage}")) }
    checks.filterNot(_._2).foreach { case (name, _, detail) =>
      rec.failures += Map("op" -> s"check:$name", "pass" -> -1, "class" -> "CheckFailed",
        "message" -> detail.take(2000))
    }
    w.close(ctx)
    val failed = rec.failures.size
    val correct = failed == 0

    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) endToEnd(w, rec, setupS, passes.toSeq)
      else Layers.metrics(w, rec, tracer, passes.toSeq, o, genS)

    val result = Json.obj(
      "correct" -> correct, "attempted" -> math.max(1, rec.attempted), "failed" -> failed,
      "metrics" -> mutable.LinkedHashMap(metrics.map { case (n, v, u) =>
        n -> mutable.LinkedHashMap[String, Any]("value" -> v, "unit" -> u)
      }: _*))
    val record = Json.obj(
      "workload" -> o.workload, "seed" -> o.seed, "size" -> o.size, "trace" -> o.trace,
      "cores" -> o.cores, "seconds" -> o.seconds, "gen_s" -> genS, "setup_s" -> setupS,
      "passes" -> passes.map(p => Map("id" -> p.id, "traced" -> p.traced, "wall_s" -> p.wallS)).toSeq,
      "ops" -> rec.opMs.map { case (k, v) => k -> v.map(_._2).toSeq },
      "notes" -> rec.notes.map { case (k, v) => k -> v.map(x => Seq(x._1, x._2)).toSeq },
      "checks" -> checks.map(c => Map("name" -> c._1, "ok" -> c._2, "detail" -> c._3)),
      "failures" -> rec.failures.toSeq,
      "spans" -> tracer.spans.map(s => Seq(s.name, s.pass, s.parent, (s.end - s.start) / 1e6)).toSeq,
      "result" -> result)
    Json.write(o.record, record)
    Json.write(o.result, result)
    if (correct) 0 else 1
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def endToEnd(
      w: Workload, rec: Recorder, setupS: Double, passes: Seq[PassRec]): Seq[(String, Double, String)] =
    Seq(
      ("setup_s", setupS, "s"),
      ("rows_per_s", if (passes.isEmpty) 0.0 else w.rowsPerPass / median(passes.map(_.wallS)), "rows/s"),
      ("request_p50_ms", median(rec.requestMs.toSeq), "ms"),
      ("peak_heap_mb", HeapWatch.peakMb, "MB"))
}

/** Minimal JSON writer for the result line and the run record. */
object Json {
  def obj(kv: (String, Any)*): mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap(kv: _*)

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case p: Product => p.productIterator.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }

  def write(path: String, v: Any): Unit = {
    val f = new java.io.File(path)
    Option(f.getParentFile).foreach(_.mkdirs())
    val tmp = new java.io.File(path + ".tmp")
    java.nio.file.Files.write(tmp.toPath, render(v).getBytes("UTF-8"))
    java.nio.file.Files.move(tmp.toPath, f.toPath, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }
}
