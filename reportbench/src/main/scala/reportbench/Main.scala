package reportbench

import graft.GraftSession

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.util.control.NonFatal

/** Runs one workload of the report-pipeline benchmark in a closed loop
  * and prints its metrics; the last stdout line is one JSON object.
  *
  * {{{
  * reportbench.Main --workload report_full|report_inc|upsert_inc --seed N
  *   --seconds S --trace 0|1 --work DIR [--out DIR]
  * }}}
  *
  * `--trace 0` prints the end-to-end metrics. `--trace 1` alternates
  * untraced and traced cycles, prints the per-layer metrics and the
  * tracing overhead, and writes every span to `--out`. Exits 1 when a
  * cycle or the end-of-run check fails its correctness check.
  */
object Main {
  private final case class Metric(name: String, value: Double, unit: String)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = new File(opt("work")).getAbsolutePath
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)

    val spark = GraftSession.builder(master = s"local[$cores]", shufflePartitions = cores)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tracer = new Tracer(spark.sparkContext)
    System.err.println(f"[reportbench] session ready at ${secsSinceStart()}%.2f s")
    val wl = Workload(workload, Ctx(spark, work, seed, tracer, cores))
    val probes = mutable.Map.empty[Int, Long]
    var attempted, failed = 0

    def runCycle(k: Int, traced: Boolean): CycleRecord = {
      tracer.cycle = k
      if (traced) { tracer.attach(); tracer.on = true }
      val rec =
        try {
          val r = wl.cycle(k)
          if (traced) wl.probe.foreach(f => probes(k) = tracer("probe.pull")(f()))
          r
        } catch {
          case NonFatal(e) =>
            CycleRecord(k, traced, 0, 0, 0, 0, error = Some(e.toString))
        } finally if (traced) { tracer.on = false; tracer.detach() }
      attempted += 1
      System.err.println(f"[reportbench] cycle $k%d traced=$traced%s cycle=${rec.cycleS}%.3f s " +
        f"report=${rec.reportS}%.3f s fresh=${rec.freshS}%.3f s commit=${rec.commitS}%.3f s")
      rec.error.foreach { e =>
        failed += 1
        System.err.println(s"[reportbench] cycle $k failed: $e")
      }
      rec
    }

    wl.setup()
    System.err.println(f"[reportbench] fixtures ready at ${secsSinceStart()}%.2f s")
    (0 until wl.warmups).foreach(runCycle(_, traced = false))
    val setupS = secsSinceStart()
    val recs = mutable.ArrayBuffer.empty[CycleRecord]
    val start = System.nanoTime()
    var k = wl.warmups
    while (System.nanoTime() - start < seconds * 1e9) {
      recs += runCycle(k, traced = trace && (k - wl.warmups) % 2 == 1)
      k += 1
    }
    val (endError, endMetrics) =
      try wl.finish() catch { case NonFatal(e) => (Some(e.toString), Map.empty[String, Double]) }
    attempted += 1
    endError.foreach { e =>
      failed += 1
      System.err.println(s"[reportbench] end-of-run check failed: $e")
    }

    val ok = recs.filter(_.error.isEmpty)
    val metrics =
      if (trace) perLayer(wl, tracer, ok.toSeq, probes.toMap, endMetrics, cores, failed, attempted)
      else endToEnd(ok.toSeq, setupS)
    if (trace) writeSpans(opts.get("out"), workload, seed, tracer.all)
    spark.stop()

    def num(x: Double) = if (x.isNaN || x.isInfinite) "0" else x.toString
    metrics.foreach(m => println(f"${m.name}%-40s ${num(m.value)}%s ${m.unit}%s"))
    val json = metrics.map(m => s""""${m.name}": {"value": ${num(m.value)}, "unit": "${m.unit}"}""")
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${json.mkString(", ")}}}""")
    System.out.flush()
    sys.exit(if (failed == 0) 0 else 1)
  }

  private def secsSinceStart(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

  /** Median and tail of a timing; the tail's percentile and sample
    * count go to stdout with it.
    */
  private def timing(name: String, xs: Seq[Double]): Seq[Metric] =
    if (xs.isEmpty) Seq(Metric(s"${name}_p50_s", 0, "s"), Metric(s"${name}_tail_s", 0, "s"))
    else {
      val (p, tail) = Stats.tail(xs)
      println(s"# ${name}_tail_s is p$p of ${xs.size} cycles")
      Seq(Metric(s"${name}_p50_s", Stats.median(xs), "s"), Metric(s"${name}_tail_s", tail, "s"))
    }

  private def rssPeakMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(0.0)
    finally src.close()
  }

  private def endToEnd(recs: Seq[CycleRecord], setupS: Double): Seq[Metric] =
    Metric("setup_s", setupS, "s") +:
      (timing("report", recs.map(_.reportS)) ++ timing("fresh", recs.map(_.freshS)) :+
        Metric("rss_peak_mb", rssPeakMb(), "MB"))

  private def perLayer(wl: Workload, tracer: Tracer, recs: Seq[CycleRecord],
      probes: Map[Int, Long], endMetrics: Map[String, Double], cores: Int,
      failed: Int, attempted: Int): Seq[Metric] = {
    val spans = tracer.all
    val children = spans.groupBy(_.parent)
    def subtree(s: Span): Seq[Span] = s +: children.getOrElse(s.id, Nil).flatMap(subtree)
    def total(ss: Seq[Span]): Counts = {
      val t = new Counts
      ss.map(s => tracer.listener.counts(s.id)).foreach { c =>
        t.jobs += c.jobs; t.tasks += c.tasks; t.taskRunMs += c.taskRunMs
        t.shuffleBytes += c.shuffleBytes; t.recordsRead += c.recordsRead
        t.recordsWritten += c.recordsWritten; t.bytesWritten += c.bytesWritten
      }
      t
    }
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def named(n: String) = spans.filter(_.name == n)
    def callS(n: String) = med(named(n).map(_.durNs / 1e9))
    def countOf(n: String)(f: Counts => Long) = med(named(n).map(s => f(total(subtree(s))).toDouble))
    def util(ss: Seq[Span]) = med(ss.map { s =>
      total(subtree(s)).taskRunMs / 1e3 / (s.durNs / 1e9 * cores)
    })
    def selfS(n: String) = med(named(n).map(s => Span.selfNs(s, children.getOrElse(s.id, Nil)) / 1e9))

    val traced = recs.filter(_.traced)
    val untraced = recs.filterNot(_.traced)
    val commits = recs.filterNot(_.commitS.isNaN)
    val cleans = recs.filterNot(_.cleanS.isNaN)
    val commitTiming = timing("commit", commits.map(_.commitS))
    val pull = wl.pullSpan.toSeq.flatMap(named)
    val probeSpans = named("probe.pull")
    val examined = probeSpans.flatMap { s =>
      probes.get(s.cycle).filter(_ > 0).map(rows => total(Seq(s)).recordsRead.toDouble / rows)
    }
    val batchRows = commits.map(_.batchRows.toLong).sum
    Seq(
      Metric("sources.upsert.call_s", callS("sources.upsert"), "s"),
      Metric("sources.upsert.spark_jobs", countOf("sources.upsert")(_.jobs), "count"),
      Metric("sources.upsert.tasks", countOf("sources.upsert")(_.tasks), "count"),
      Metric("sources.upsert.task_util", util(named("sources.upsert")), "ratio"),
      Metric("sources.upsert.files_added", med(commits.map(_.filesAdded.toDouble)), "count"),
      Metric("sources.upsert.bytes_added", med(commits.map(_.bytesAdded.toDouble)), "B"),
      Metric("sources.upsert.shuffle_bytes", countOf("sources.upsert")(_.shuffleBytes), "B"),
      Metric("sources.clean.call_s", med(cleans.map(_.cleanS)), "s"),
      Metric("sources.clean.files_removed", med(cleans.map(_.filesRemoved.toDouble)), "count"),
      Metric("sources.clean.bytes_removed", med(cleans.map(_.bytesRemoved.toDouble)), "B"),
      Metric("sources.pull.call_s", med(pull.map(_.durNs / 1e9)), "s"),
      Metric("sources.pull.spark_jobs", med(pull.map(s => total(subtree(s)).jobs.toDouble)), "count"),
      Metric("sources.pull.rows_out", med(probes.values.map(_.toDouble).toSeq), "count"),
      Metric("sources.pull.table_files",
        if (wl.pullSpan.isEmpty) 0 else med(recs.map(_.tableFiles.toDouble)), "count"),
      Metric("sources.pull.examined_per_returned", med(examined), "ratio"),
      Metric("sources.checkpoint.call_s", callS("sources.checkpoint"), "s"),
      Metric("plans.plan_s", callS("plans.plan"), "s"),
      Metric("operators.gate_s", callS("operators.gate"), "s"),
      Metric("operators.gate.spark_jobs", countOf("operators.gate")(_.jobs), "count"),
      Metric("pipeline.load_s", callS("pipeline.load"), "s"),
      Metric("pipeline.report_write_s", callS("pipeline.report_write"), "s"),
      Metric("pipeline.report_write.spark_jobs", countOf("pipeline.report_write")(_.jobs), "count"),
      Metric("pipeline.report_write.rows", countOf("pipeline.report_write")(_.recordsWritten), "count"),
      Metric("pipeline.report_write.bytes", countOf("pipeline.report_write")(_.bytesWritten), "B"),
      Metric("pipeline.email_s", callS("pipeline.email"), "s"),
      Metric("report.self_s", selfS("report"), "s"),
      Metric("cycle.self_s", selfS("cycle"), "s"),
      Metric("cycle.spark_jobs", countOf("cycle")(_.jobs), "count"),
      Metric("cycle.tasks", countOf("cycle")(_.tasks), "count"),
      Metric("cycle.task_util", util(named("cycle")), "ratio"),
      Metric("cycle.gc_s", med(traced.map(_.gcS)), "s"),
      Metric("trace.traced_cycle_s", med(traced.map(_.cycleS)), "s"),
      Metric("trace.untraced_cycle_s", med(untraced.map(_.cycleS)), "s"),
      Metric("trace.overhead_s", med(traced.map(_.cycleS)) - med(untraced.map(_.cycleS)), "s"),
      commitTiming(0), commitTiming(1),
      Metric("ingest_rows_per_s",
        if (commits.isEmpty) 0 else batchRows / commits.map(_.commitS).sum, "rows/s"),
      Metric("write_amp", endMetrics.get("base_bytes_per_row").filter(_ => batchRows > 0)
        .map(bpr => commits.map(_.bytesAdded).sum / (batchRows * bpr)).getOrElse(0.0), "ratio"),
      Metric("space_amp", endMetrics.getOrElse("space_amp", 0.0), "ratio"),
      Metric("ops_failed_frac", failed.toDouble / attempted, "ratio"))
  }

  /** Every span of the run, one JSON object a line. */
  private def writeSpans(out: Option[String], workload: String, seed: Long, spans: Seq[Span]): Unit =
    out.foreach { dir =>
      new File(dir).mkdirs()
      val w = new PrintWriter(new File(dir, s"spans-$workload-$seed.jsonl"), "UTF-8")
      try spans.foreach { s =>
        w.println(s"""{"id": ${s.id}, "name": "${s.name}", "start_ns": ${s.start}, """ +
          s""""end_ns": ${s.end}, "parent": ${s.parent}, "cycle": ${s.cycle}}""")
      } finally w.close()
    }
}
