package perfbench

import scala.jdk.CollectionConverters._

/** Per-layer metric names (every traced run prints all of them; a layer a
  * workload does not exercise reads 0) and the span-derived ones.
  */
object Layers {
  val Modules = Seq("sources", "functions", "core", "operators", "plans", "streaming", "queries", "cli")

  val names: Seq[String] = Seq(
    "sources.generate_s",
    "functions.sgram_fps_per_s", "functions.build_share",
    "core.from_entries_keys_per_s", "core.from_entries_eff_1_4", "core.from_entries_counted_per_s",
    "core.add_per_s", "core.abundance_hit_per_s", "core.abundance_miss_per_s",
    "core.sequence_stats_per_s", "core.merge_in_place_per_s", "core.serialize_mb_per_s",
    "core.deserialize_mb_per_s", "core.load_factor", "core.resizes",
    "operators.probe_expr_self_s", "operators.broadcast_s", "operators.udaf_build_s",
    "plans.build_index_s", "plans.build_sharded_s", "plans.tree_merge_s", "plans.query_index_s",
    "plans.routed_probes_per_s", "plans.shuffle_write_bytes", "plans.shuffle_read_bytes",
    "plans.shuffle_bytes_per_item", "plans.spill_bytes", "plans.task_skew", "plans.cpu_share",
    "plans.jobs", "plans.stages", "plans.tasks",
    "streaming.ingest_batch_s", "streaming.store_bytes_read", "streaming.store_bytes_written",
    "streaming.write_amp", "streaming.touched_frac", "streaming.store_files",
    "streaming.jobs_per_batch", "streaming.replay_hits", "streaming.read_s", "streaming.compact_s",
    "cli.build_index_s", "cli.build_s",
    "jvm.gc_ms", "jvm.heap_peak_mb",
    "trace.overhead_s", "trace.overhead_frac", "trace.spans",
    "run.iterations", "run.step_samples", "run.step_tail_percentile",
    "checks.failed_frac") ++
    Modules.map(m => s"$m.self_s") ++
    CatalogSlice.Entries.flatMap(e => Seq(s"queries.${e}_s", s"queries.${e}_jobs"))

  def gcMs(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.toDouble).sum

  def heapPeakMb(): Double =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed.toDouble).sum / (1 << 20)

  /** Median duration of the spans with this layer and name (0 if none). */
  def median(c: Ctx, layer: String, name: String): Double = {
    val xs = c.tracer.named(layer, name).map(_.seconds)
    if (xs.isEmpty) 0.0 else Stats.median(xs)
  }

  /** Spark work per traced iteration and self time per module. */
  def fill(c: Ctx, roots: Seq[Span], itemsPerIteration: Double, iterations: Int): Unit = {
    val w = c.tracer.subtreeWork(roots)
    val n = iterations.toDouble
    c.layer("plans.shuffle_write_bytes") = w.shuffleWrite / n
    c.layer("plans.shuffle_read_bytes") = w.shuffleRead / n
    c.layer("plans.shuffle_bytes_per_item") = w.shuffleWrite / n / itemsPerIteration
    c.layer("plans.spill_bytes") = w.spill / n
    c.layer("plans.task_skew") = w.skew
    c.layer("plans.cpu_share") = if (w.runMs == 0) 0.0 else w.cpuNs / 1e6 / w.runMs
    c.layer("plans.jobs") = w.jobs / n
    c.layer("plans.stages") = w.stages / n
    c.layer("plans.tasks") = w.tasks / n
    Modules.foreach { m =>
      c.layer(s"$m.self_s") = c.tracer.inLayer(m).map(c.tracer.selfSeconds).sum
    }
  }
}
