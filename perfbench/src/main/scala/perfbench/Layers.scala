package perfbench

/** Per-layer figures of a traced run, from the benchmark-side spans
  * around each layer call and the Spark scheduler counters. Every
  * workload reports the full list; a layer the workload does not
  * exercise reads 0. */
object Layers {
  type Metric = (String, Double, String)

  /** name -> unit, in report order. */
  val all: Seq[(String, String)] = Seq(
    "query.parse_ms" -> "ms",
    "spark.plan_ms" -> "ms",
    "spark.exec_ms" -> "ms",
    "spark.jobs_per_search" -> "count",
    "spark.tasks_per_search" -> "count",
    "spark.core_util" -> "ratio",
    "spark.input_rows_per_result" -> "ratio",
    "spark.index_build_s" -> "s",
    "spark.typeahead_ms" -> "ms",
    "spark.raw_plan_ms" -> "ms",
    "spark.raw_exec_ms" -> "ms",
    "store.read_ms" -> "ms",
    "store.commit_ms" -> "ms",
    "store.basket_commit_ms" -> "ms",
    "store.jobs_per_commit" -> "count",
    "store.buckets_rewritten_per_commit" -> "count",
    "store.basket_buckets_rewritten" -> "count",
    "store.write_amp" -> "ratio",
    "store.history_bytes_share" -> "ratio",
    "store.delete_ms" -> "ms",
    "store.restore_ms" -> "ms",
    "store.import_commit_ms_per_1k" -> "ms/1k",
    "store.export_read_ms_per_1k" -> "ms/1k",
    "auth.cascade_head_ms" -> "ms",
    "auth.cascade_tail_ms" -> "ms",
    "auth.attached_per_cascade" -> "count",
    "auth.merge_ms" -> "ms",
    "auth.batch_resolve_ms_per_1k" -> "ms/1k",
    "records.parse_mrk_ms_per_1k" -> "ms/1k",
    "records.parse_xml_ms_per_1k" -> "ms/1k",
    "records.to_mrk_ms_per_1k" -> "ms/1k",
    "records.to_xml_ms_per_1k" -> "ms/1k",
    "model.to_dataset_ms_per_1k" -> "ms/1k",
    "spark.tag_index_build_s" -> "s",
    "spark.browse_index_build_s" -> "s",
    "jvm.gc_s" -> "s",
    "jvm.gc_count" -> "count",
    "spark.jobs" -> "count",
    "spark.tasks" -> "count",
    "spark.task_s" -> "s",
    "spark.shuffle_write_bytes" -> "B",
    "trace.spans" -> "count",
    "trace.span_overhead_pct" -> "%",
    "trace.op_p50_ms" -> "ms",
    "trace.op_cpu_ms" -> "ms")

  def complete(ms: Seq[Metric]): Seq[Metric] = {
    val got = ms.map(m => m._1 -> m._2).toMap
    all.map { case (n, u) => (n, got.getOrElse(n, 0.0), u) }
  }

  private def measured(run: Run, name: String): Seq[Span] = run.tracer.named(name).filter(_.op > 0)
  private def p50(run: Run, name: String): Double = Stats.median(measured(run, name).map(_.ms))

  /** Spark work inside the given spans: (jobs, tasks). */
  private def work(run: Run, spans: Seq[Span]): (Int, Seq[Task]) =
    run.counters.map { c =>
      spans.foldLeft((0, Seq.empty[Task])) { case ((j, ts), s) =>
        val (a, b) = (run.tracer.toEpochMs(s.startNs), run.tracer.toEpochMs(s.endNs))
        (j + c.jobsIn(a, b), ts ++ c.tasksIn(a, b))
      }
    }.getOrElse((0, Nil))

  /** Session-wide totals over every top-level span of the measured window;
    * `opSpans` are the workload's op spans, named `<prefix>.<kind>`, whose
    * wall-clock time `trace.op_p50_ms` reports like `wall.op_p50_ms`. */
  private def totals(run: Run, wallS: Double, gcCount: Long, gcS: Double, opSpans: Seq[Span]): Seq[Metric] = {
    val roots = run.tracer.spans.filter(s => s.op > 0 && s.parent == 0).toSeq
    val (jobs, tasks) = work(run, roots)
    Seq(("jvm.gc_s", gcS, "s"), ("jvm.gc_count", gcCount.toDouble, "count"),
      ("spark.jobs", jobs.toDouble, "count"), ("spark.tasks", tasks.size.toDouble, "count"),
      ("spark.task_s", tasks.map(_.runMs).sum / 1000.0, "s"),
      ("spark.shuffle_write_bytes", tasks.map(_.shuffleWriteBytes).sum.toDouble, "B"),
      ("spark.core_util", tasks.map(_.runMs).sum / 1000.0 / (wallS * run.cores), "ratio"),
      ("trace.op_p50_ms", Stats.kindMedianMean(opSpans.map(s => s.name -> s.ms)), "ms"))
  }

  private def prefixed(run: Run, prefix: String): Seq[Span] =
    run.tracer.spans.filter(s => s.op > 0 && s.name.startsWith(prefix)).toSeq

  def search(run: Run, searches: Int, resultRows: Int, wallS: Double, gcCount: Long, gcS: Double): Seq[Metric] = {
    run.counters.foreach(_.settle())
    val (jobs, tasks) = work(run, prefixed(run, "search."))
    Seq(
      ("query.parse_ms", p50(run, "query.parse"), "ms"),
      ("spark.plan_ms", p50(run, "spark.plan"), "ms"),
      ("spark.exec_ms", p50(run, "spark.exec"), "ms"),
      ("spark.jobs_per_search", jobs.toDouble / math.max(searches, 1), "count"),
      ("spark.tasks_per_search", tasks.size.toDouble / math.max(searches, 1), "count"),
      ("spark.input_rows_per_result", tasks.map(_.recordsRead).sum.toDouble / math.max(resultRows, 1), "ratio"),
      ("spark.index_build_s", Stats.median(run.tracer.named("spark.index_build").map(_.ms / 1000)), "s"),
      ("spark.tag_index_build_s", Stats.median(run.tracer.named("spark.tag_index_build").map(_.ms / 1000)), "s"),
      ("spark.browse_index_build_s", Stats.median(run.tracer.named("spark.browse_index_build").map(_.ms / 1000)), "s"),
      ("spark.typeahead_ms", p50(run, "spark.typeahead"), "ms")) ++
      totals(run, wallS, gcCount, gcS, prefixed(run, "search."))
  }

  def catalog(run: Run, steps: Seq[CatalogWorkload.Step], wallS: Double, gcCount: Long, gcS: Double,
      historyShare: Double): Seq[Metric] = {
    run.counters.foreach(_.settle())
    // a span's time over the records of the ops of `kinds`, counting
    // only the spans those ops opened
    def per1k(span: String, kinds: String*): Double = {
      val of = steps.filter(st => kinds.contains(st.kind))
      val ops = of.map(_.op).toSet
      val recs = of.map(_.e.records).sum
      if (recs == 0) 0.0 else measured(run, span).filter(sp => ops.contains(sp.op)).map(_.ms).sum * 1000.0 / recs
    }
    // the two import files are the same size, so each format's per-1k
    // figure divides by half the import's records
    def perFile1k(span: String): Double = 2 * per1k(span, "import")
    val commitSpans = Seq("store.commit", "store.basket_commit").flatMap(measured(run, _))
    val (commitJobs, _) = work(run, commitSpans)
    val writes = steps.filter(_.e.commits > 0)
    val cascades = steps.filter(_.kind.startsWith("heading"))
    Seq(
      ("query.parse_ms", p50(run, "query.parse"), "ms"),
      ("spark.raw_plan_ms", p50(run, "spark.raw_plan"), "ms"),
      ("spark.raw_exec_ms", p50(run, "spark.raw_exec"), "ms"),
      ("store.read_ms", p50(run, "store.read"), "ms"),
      ("store.commit_ms", p50(run, "store.commit"), "ms"),
      ("store.basket_commit_ms", p50(run, "store.basket_commit"), "ms"),
      ("store.jobs_per_commit", commitJobs.toDouble / math.max(commitSpans.size, 1), "count"),
      ("store.buckets_rewritten_per_commit",
        writes.map(_.buckets).sum.toDouble / math.max(writes.map(_.e.commits).sum, 1), "count"),
      ("store.basket_buckets_rewritten", Stats.median(steps.filter(_.kind == "basket").map(_.buckets.toDouble)), "count"),
      ("store.write_amp", writes.map(w => w.liveBytes + w.histBytes).sum.toDouble /
        math.max(writes.map(_.histBytes).sum, 1L), "ratio"),
      ("store.history_bytes_share", historyShare, "ratio"),
      ("store.delete_ms", p50(run, "store.delete"), "ms"),
      ("store.restore_ms", p50(run, "store.restore"), "ms"),
      ("store.import_commit_ms_per_1k", per1k("store.import_commit", "import"), "ms/1k"),
      ("store.export_read_ms_per_1k", per1k("store.export_read", "export"), "ms/1k"),
      ("auth.cascade_head_ms", p50(run, "auth.cascade_head"), "ms"),
      ("auth.cascade_tail_ms", p50(run, "auth.cascade_tail"), "ms"),
      ("auth.attached_per_cascade", cascades.map(_.e.refreshed.size).sum.toDouble / math.max(cascades.size, 1), "count"),
      ("auth.merge_ms", p50(run, "auth.merge"), "ms"),
      ("auth.batch_resolve_ms_per_1k", per1k("auth.batch_resolve", "import"), "ms/1k"),
      ("records.parse_mrk_ms_per_1k", perFile1k("records.parse_mrk"), "ms/1k"),
      ("records.parse_xml_ms_per_1k", perFile1k("records.parse_xml"), "ms/1k"),
      ("records.to_mrk_ms_per_1k", per1k("records.to_mrk", "export"), "ms/1k"),
      ("records.to_xml_ms_per_1k", per1k("records.to_xml", "export"), "ms/1k"),
      ("model.to_dataset_ms_per_1k", per1k("model.to_dataset", "save", "basket", "import"), "ms/1k")) ++
      totals(run, wallS, gcCount, gcS, prefixed(run, "op."))
  }

  /** Cost of the tracing itself: spans recorded in the measured window
    * times the measured cost of one span, as a share of the window; and
    * the traced run's `op_cpu_ms` (`opCpuMs`), to compare with an
    * untraced run's. */
  def overhead(run: Run, wallS: Double, opCpuMs: Double): Seq[Metric] = {
    if (!run.tracer.enabled) return Nil
    val probe = new Tracer(true)
    val n = 20000
    val t0 = System.nanoTime()
    (1 to n).foreach(i => probe.span("probe")(i))
    val perSpanNs = (System.nanoTime() - t0).toDouble / n
    val spans = run.tracer.spans.count(_.op > 0)
    Seq(("trace.spans", spans.toDouble, "count"),
      ("trace.span_overhead_pct", 100.0 * spans * perSpanNs / (wallS * 1e9), "%"),
      ("trace.op_cpu_ms", opCpuMs, "ms"))
  }
}
