package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

/** Runs one workload in this JVM and prints its result as the last line
  * of standard output:
  * `{"correct": …, "attempted": …, "failed": …, "metrics": {…}}`.
  *
  * Untraced runs report the end-to-end metrics. Traced runs alternate
  * untraced and traced units, and report the per-layer metrics of the
  * traced units plus the throughput of both kinds, which together give
  * the tracing overhead.
  */
object Main {
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    val wl = Workload(o.workload, o.seed)
    val r = new Runner(o)
    println(s"""{"stream_sha256": "${wl.streamDigest}", """ +
      s""""workload": "${o.workload}", "seed": ${o.seed}}""")

    // Set-up: the median of three session starts with fixture
    // registration, plus the warm-up that primes statistics and the JIT.
    val reps = (1 to SetupReps).map(_ => seconds(r.setUp(wl.tables)))
    val setupS = median(reps) + seconds((1 to wl.warmUnits).foreach(_ => wl.unit(r, warm = true)))
    val attemptedWarm = r.ops.length
    System.err.println(f"[graftbench] set-up $setupS%.2f s (session starts " +
      reps.map(x => f"$x%.2f").mkString(" ") + "); warm-up op ms: " +
      r.ops.map(op => f"${op.ms}%.0f").mkString(" "))
    r.ops.clear()

    val units = math.max(1, math.round(o.seconds / wl.unitSeconds).toInt)
    val byMode = mutable.Map(false -> Seq.empty[Op], true -> Seq.empty[Op])
    var gcMs = 0L
    for (i <- 0 until (if (o.trace) math.max(2, units) else units)) {
      val on = o.trace && i % 2 == 1
      r.tracing(on)
      val (at, gc0) = (r.ops.length, r.gcMs())
      wl.unit(r, warm = false)
      if (on) gcMs += r.gcMs() - gc0
      byMode(on) ++= r.ops.drop(at)
    }
    r.tracing(false)
    val (untraced, traced) = (byMode(false), byMode(true))
    val measured = untraced ++ traced
    val heapMb = r.heapAfterGc()
    val verifyS = seconds(wl.verify(r))
    System.err.println(f"[graftbench] measured ${measured.map(_.ms).sum / 1000}%.2f s over " +
      f"${measured.length} ops; checks $verifyS%.2f s; op ms: " +
      measured.map(op => f"${op.ms}%.0f").mkString(" "))

    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (!o.trace) {
      val lat = untraced.filter(op => op.ok && op.kind != "write").map(_.ms)
      metrics("setup_s") = (setupS, "s")
      metrics("ops_per_s") = (opsPerS(untraced), "1/s")
      metrics("read_p50_ms") = (quantile(lat, 0.5), "ms")
      metrics("read_p90_ms") = (quantile(lat, 0.9), "ms")
      metrics("heap_mb") = (heapMb, "MB")
    } else {
      val t = r.tracer.get
      Layers.report(r, t, wl, traced, metrics)
      metrics("jvm.gc_ms") = (gcMs.toDouble, "ms")
      metrics("trace.ops_per_s") = (opsPerS(traced), "1/s")
      metrics("trace.untraced_ops_per_s") = (opsPerS(untraced), "1/s")
      writeSpans(o, t)
    }
    r.spark.stop()

    println(s"""{"reads": ${measured.count(_.kind != "write")}, "writes": ${measured.count(_.kind == "write")}}""")
    val attempted = attemptedWarm + measured.length
    val body = metrics.map { case (k, (v, u)) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": ${r.problems.isEmpty}, "attempted": $attempted, """ +
      s""""failed": ${math.min(r.problems.length, attempted)}, "metrics": {$body}}""")
  }

  def seconds(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** Completed operations per second of time spent inside the engine. */
  def opsPerS(ops: Seq[Op]): Double = {
    val busy = ops.map(_.ms).sum / 1000
    if (busy > 0) ops.count(_.ok) / busy else 0.0
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolation quantile; 0 for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0.0" else java.math.BigDecimal.valueOf(v).toPlainString

  /** Every span with its counters, one JSON object a line. */
  private def writeSpans(o: Opts, t: Tracer): Unit = {
    val dir = Paths.get(o.work, "traces")
    Files.createDirectories(dir)
    val lines = t.spans.iterator.filter(_ != null).map { s =>
      val c = t.countersOf(s)
      s"""{"id": ${s.id}, "stmt": ${s.stmt}, "layer": "${s.layer}", "parent": ${s.parent}, """ +
        s""""start_ns": ${s.startNs}, "end_ns": ${s.endNs}, "jobs": ${c.jobs}, """ +
        s""""job_ms": ${c.jobMs}, "stages": ${c.stages}, "tasks": ${c.tasks}, """ +
        s""""shuffle_bytes": ${c.shuffleBytes}, "scan_bytes": ${c.scanBytes}}"""
    }
    Files.write(dir.resolve(s"${o.workload}-seed${o.seed}.jsonl"),
      (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

/** Per-layer metrics of the traced units. Each is an average per operation
  * of its layer; a layer the workload never enters reports 0.
  */
object Layers {
  import Main.{mean, quantile}

  def report(r: Runner, t: Tracer, wl: Workload, traced: Seq[Op],
      out: mutable.LinkedHashMap[String, (Double, String)]): Unit = {
    val tracedStmts = traced.map(_.stmt).toSet
    val spans = t.spans.filter(s => s != null && tracedStmts(s.stmt)).toSeq
    def of(layer: String) = spans.filter(_.layer == layer)
    def ms(layer: String) = mean(of(layer).map(_.ms))
    def count(ss: Seq[Span])(f: Counters => Long) = mean(ss.map(s => f(t.countersOf(s)).toDouble))

    val build = of("sql.GraftDatabase.build")
    val exec = of("spark.exec")
    val writes = of("sql.GraftDatabase.write")
    val gates = spans.filter(_.layer.startsWith("queries."))

    out("sql.Parser.parse_ms") = (ms("sql.Parser"), "ms")
    out("sql.GraftDatabase.build_ms") = (ms("sql.GraftDatabase.build"), "ms")
    out("sql.GraftDatabase.build_jobs") = (count(build)(_.jobs.get), "count")
    out("sql.GraftDatabase.build_job_ms") = (count(build)(_.jobMs.get), "ms")
    out("sql.GraftDatabase.build_jobs_after_write") =
      (count(build.filter(s => r.readsAfterWrite(s.stmt)))(_.jobs.get), "count")
    out("spark.catalyst.plan_ms") = (ms("spark.catalyst.plan"), "ms")
    out("spark.exec.ms") = (ms("spark.exec"), "ms")
    out("spark.exec.jobs") = (count(exec)(_.jobs.get), "count")
    out("spark.exec.stages") = (count(exec)(_.stages.get), "count")
    out("spark.exec.tasks") = (count(exec)(_.tasks.get), "count")
    out("spark.exec.shuffle_bytes") = (count(exec)(_.shuffleBytes.get), "bytes")
    out("spark.exec.scan_bytes") = (count(exec)(_.scanBytes.get), "bytes")
    out("spark.exec.rows_out") =
      (mean(exec.flatMap(s => r.rowsOut.get(s.stmt)).map(_.toDouble)), "rows")
    out("sql.GraftDatabase.write_ms") = (ms("sql.GraftDatabase.write"), "ms")
    out("sql.GraftDatabase.write_jobs") = (count(writes)(_.jobs.get), "count")
    out("sql.GraftDatabase.write_p50_ms") = (quantile(writes.map(_.ms), 0.5), "ms")
    out("sql.GraftDatabase.write_p90_ms") = (quantile(writes.map(_.ms), 0.9), "ms")

    val epochs = wl match { case d: DmlWorkload => d.epochs.toSeq case _ => Nil }
    def perEpoch(f: DmlWorkload.Epoch => Double) = Main.median(epochs.map(f))
    def ratio(a: Long, b: Long) = if (b > 0) a.toDouble / b else 0.0
    out("warehouse.bytes_written") = (perEpoch(_.bytesWritten.toDouble), "bytes")
    out("warehouse.files_written") = (perEpoch(_.filesWritten.toDouble), "count")
    out("warehouse.write_amp") = (perEpoch(e => ratio(e.bytesWritten, e.userBytes)), "ratio")
    out("warehouse.bytes_live") = (perEpoch(_.bytesLive.toDouble), "bytes")
    out("warehouse.files_live") = (perEpoch(_.filesLive.toDouble), "count")
    out("warehouse.space_amp") = (perEpoch(e => ratio(e.bytesLive, e.userBytes)), "ratio")

    val corpus = wl match { case c: CorpusWorkload => Some(c) case _ => None }
    out("queries.op_cold_ms") = (ms("queries.cold"), "ms")
    out("queries.op_warm_ms") = (ms("queries.warm"), "ms")
    val passes = corpus.toSeq.flatMap(_.traced)
    out("queries.family_build_ms") = (mean(passes.map { case (_, c, w) => c - w }), "ms")
    out("queries.jobs") = (count(gates)(_.jobs.get), "count")
    out("queries.shuffle_bytes") = (count(gates)(_.shuffleBytes.get), "bytes")
    out("queries.docs_per_s") = (corpus.filter(_ => passes.nonEmpty)
      .map(c => passes.length * c.Docs / (passes.map(_._1).sum / 1000)).getOrElse(0.0), "1/s")
    out("jvm.heap_used_mb") = (r.heapPeak / 1048576.0, "MB")
  }
}
