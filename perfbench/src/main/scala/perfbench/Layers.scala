package perfbench

/** Per-layer metrics of a traced run, derived from the recorded spans.
  *
  * Totals (plans, codegen, scheduling, executor, shuffle, io bytes) are the
  * counter growth over the `bench.timed` span, which covers the timed
  * section only. Layer times are summed span durations; `self.<layer>_s`
  * is each layer's self time, its spans' durations minus the part their
  * child spans cover.
  */
object Layers {

  val layerNames: Seq[String] =
    Seq("bench", "queries", "io", "clean", "pipelines", "versioned")

  def metrics(wall: Double, cores: Int): Map[String, Double] = {
    // check spans (untimed output capture) sit inside the timed section;
    // their work is taken out of every total
    val (checks, spans) = Trace.all.partition(_.name == "check")
    val root = spans.find(_.name == "bench.timed")
    def tot(k: String): Double = (root.flatMap(_.delta.get(k)).getOrElse(0L) -
      checks.map(_.delta.getOrElse(k, 0L)).sum).toDouble
    def dur(names: String*): Double =
      spans.filter(s => names.contains(s.name)).map(_.seconds).sum
    def jobsIn(name: String): Double =
      spans.filter(_.name == name).map(_.delta.getOrElse("jobs", 0L)).sum.toDouble

    val children = spans.groupBy(_.parent)
    def self(s: Span): Double =
      s.seconds - children.getOrElse(s.id, Nil).map(_.seconds).sum
    val selfByLayer = spans.filterNot(_.name == "bench.timed")
      .groupBy(_.layer).map { case (l, ss) => l -> ss.map(self).sum }

    // driver gap: for each leaf span that ran Spark jobs, its wall time
    // minus the executor run time it caused spread over the cores
    val gap = spans.filter(s => !children.contains(s.id) &&
        s.delta.getOrElse("jobs", 0L) > 0)
      .map(s => math.max(0.0, s.seconds -
        s.delta.getOrElse("run_ms", 0L) / 1000.0 / cores))
      .sum

    val g = Trace.gaugeValue _
    val m = scala.collection.mutable.LinkedHashMap[String, Double](
      "queries.construct_s" -> dur("queries.construct"),
      "queries.construct_jobs" -> jobsIn("queries.construct"),
      "plans.analysis_s" -> tot("analysis_ms") / 1000.0,
      "plans.optimization_s" -> tot("optimization_ms") / 1000.0,
      "plans.planning_s" -> tot("planning_ms") / 1000.0,
      "plans.exchanges" -> tot("exchanges"),
      "plans.scans" -> tot("scans"),
      "plans.windows" -> tot("windows"),
      "plans.cache_barriers" -> tot("cache_barriers"),
      "plans.native_topk" -> tot("native_topk"),
      "codegen.classes" -> tot("codegen_classes"),
      "codegen.compile_s" -> tot("codegen_ns") / 1e9,
      "sched.jobs" -> tot("jobs"),
      "sched.stages" -> tot("stages"),
      "sched.tasks" -> tot("tasks"),
      "sched.driver_gap_s" -> gap,
      "exec.run_s" -> tot("run_ms") / 1000.0,
      "exec.cpu_s" -> tot("cpu_ns") / 1e9,
      "exec.gc_s" -> tot("gc_ms") / 1000.0,
      "shuffle.write_bytes" -> tot("shuffle_w"),
      "shuffle.read_bytes" -> tot("shuffle_r"),
      "shuffle.spill_bytes" -> tot("spill"),
      "io.read_s" -> dur("io.read"),
      "io.write_s" -> dur("io.write"),
      "io.noop_s" -> dur("io.noop"),
      "io.bytes_written" -> tot("bytes_written"),
      "io.files_written" -> tot("files_written"),
      "clean.curate_s" -> dur("clean.curate"),
      "clean.rows_dropped" -> g("clean.rows_dropped"),
      "clean.dropped_all_null" -> g("clean.dropped_all_null"),
      "clean.dropped_dedup" -> g("clean.dropped_dedup"),
      "clean.dropped_validity" -> g("clean.dropped_validity"),
      "pipelines.serve_s" -> dur("pipelines.serve"),
      "pipelines.denormalize_s" -> dur("pipelines.denormalize"),
      "versioned.create_s" -> dur("versioned.create"),
      "versioned.append_s" -> dur("versioned.append"),
      "versioned.update_s" -> dur("versioned.update"),
      "versioned.upsert_s" -> dur("versioned.upsert"),
      "versioned.delete_s" -> dur("versioned.delete"),
      "versioned.asof_s" -> dur("versioned.asof"),
      "versioned.scan_pruned_s" -> dur("versioned.scan_pruned"),
      "versioned.count_fast_s" -> dur("versioned.count_fast"),
      "versioned.compact_s" -> dur("versioned.compact"),
      "versioned.vacuum_s" -> dur("versioned.vacuum"),
      "versioned.manifests" -> g("versioned.manifests"),
      "versioned.live_files" -> g("versioned.live_files"),
      "versioned.files_read_ratio" -> g("versioned.files_read_ratio"))
    layerNames.foreach(l => m(s"self.${l}_s") = selfByLayer.getOrElse(l, 0.0))
    m("trace.wall_s") = wall
    m("trace.overhead_s") = Trace.overheadSeconds
    m("trace.listener_s") = Trace.counters.snapshot().getOrElse("listener_ns", 0L) / 1e9
    m("trace.spans") = spans.size.toDouble
    m.toMap
  }
}
