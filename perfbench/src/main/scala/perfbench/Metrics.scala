package perfbench

/** The per-layer metric set a traced run reports, whatever the workload: a
  * layer the workload does not reach reports zeros. Times (`_ms`) are
  * medians over the traced ops; counts are those of the first traced op,
  * so they repeat exactly for a seed. */
object Metrics {

  val Layers: Seq[String] = Seq("pipelines", "retrieval", "ann", "graphExpand",
    "graphBuild", "ingest", "streaming", "dedup", "graphAlgos", "store")

  /** The layers whose engine code caches or checkpoints. */
  val BlockLayers: Seq[String] = Seq("ingest", "dedup", "graphAlgos")

  private val perSpan: Seq[(String, String, LayerStats => Double)] = Seq(
    ("wall_ms", "ms", _.wallMs),
    ("self_ms", "ms", _.selfMs),
    ("driver_gap_ms", "ms", _.gapMs),
    ("jobs", "count", _.jobs.toDouble),
    ("tasks", "count", _.tasks.toDouble),
    ("task_cpu_ms", "ms", _.cpuMs),
    ("sched_delay_ms", "ms", _.schedMs),
    ("shuffle_bytes", "B", _.shuffleBytes.toDouble),
    ("spill_bytes", "B", _.spillBytes.toDouble),
    ("gc_ms", "ms", _.gcMs))

  private val perBlockLayer: Seq[(String, String, LayerStats => Double)] = Seq(
    ("blocks_created", "count", _.blocksCreated.toDouble),
    ("blocks_leaked", "count", _.blocksLeaked.toDouble))

  /** Counters the workloads compute around their first op (see
    * [[Workload.counters]]), with their units. */
  val Counters: Seq[(String, String)] = Seq(
    "retrieval.scored_pairs" -> "count",
    "retrieval.spread_fired" -> "count",
    "ann.candidate_rows" -> "count",
    "ann.distinct_pairs" -> "count",
    "ann.useful_ratio" -> "ratio",
    "graphBuild.edge_log_rows" -> "count",
    "graphBuild.live_ratio" -> "ratio",
    "store.files_added" -> "count",
    "store.bytes_per_doc" -> "B",
    "dedup.candidate_pairs" -> "count",
    "dedup.useful_ratio" -> "ratio",
    "dedup.index_bytes_per_doc" -> "B",
    "graphAlgos.supersteps" -> "count")

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def perLayer(traces: Seq[OpTrace], tracedMs: Seq[Double], untracedMs: Seq[Double],
      counters: Map[String, Double]): Seq[(String, Double, String)] = {
    val empty = new LayerStats
    def value(unit: String, f: OpTrace => Double) =
      if (unit == "ms") median(traces.map(f)) else traces.headOption.map(f).getOrElse(0.0)
    def layerMetrics(layers: Seq[String], defs: Seq[(String, String, LayerStats => Double)]) =
      for (l <- layers; (suffix, unit, f) <- defs)
        yield (s"$l.$suffix", value(unit, t => f(t.layers.getOrElse(l, empty))), unit)
    val op = Seq[(String, String, OpTrace => Double)](
      ("op.wall_ms", "ms", _.wallMs),
      ("op.driver_gap_ms", "ms", _.gapMs),
      ("op.jobs", "count", _.jobs.toDouble),
      ("op.stages", "count", _.stages.toDouble),
      ("op.tasks", "count", _.tasks.toDouble),
      ("op.blocks_created", "count", _.blocksCreated.toDouble),
      ("op.blocks_leaked", "count", _.blocksLeaked.toDouble))
      .map { case (n, u, f) => (n, value(u, f), u) }
    val retained = ("op.retained_storage_mb",
      if (traces.isEmpty) 0.0 else traces.map(_.retainedMb).max, "MB")
    // traced against untraced wall time of the same op kind, as a share
    val overhead = ("op.tracing_overhead_pct",
      if (untracedMs.isEmpty || tracedMs.isEmpty) 0.0
      else (median(tracedMs) / median(untracedMs) - 1) * 100, "%")
    layerMetrics(Layers, perSpan) ++ layerMetrics(BlockLayers, perBlockLayer) ++
      op ++ Seq(retained, overhead) ++
      Counters.map { case (n, u) => (n, counters.getOrElse(n, 0.0), u) }
  }
}
