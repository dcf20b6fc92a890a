package perfbench

/** The per-layer metrics of the traced run: one span per public stage
  * call, plus counts and ratios measured at the same boundaries. */
object Layers {
  val Spans: Seq[String] = Seq(
    "sources.ingest",
    "analyzer.lengths", "analyzer.segments", "analyzer.pair_join", "analyzer.sessionize",
    "analyzer.sections", "analyzer.effective", "analyzer.corridors", "analyzer.overlaps",
    "sinks.csv", "sinks.json", "sinks.kml",
    "index.write", "index.append", "index.delete", "index.compact", "index.load",
    "serve.ann", "serve.knn")

  private val Named: Seq[(String, String)] = Seq(
    "sources.kmz_scans" -> "count", "sources.features" -> "count", "sources.vertices" -> "count",
    "analyzer.segments" -> "count", "analyzer.segment_one_ns" -> "ns", "geo.inverse_ns" -> "ns",
    "analyzer.pair_candidates" -> "count", "analyzer.pairs" -> "count",
    "analyzer.pair_yield" -> "ratio", "analyzer.pair_join_shuffle_mb" -> "MB",
    "analyzer.sections_kept_ratio" -> "ratio",
    "sinks.jobs" -> "count", "sinks.bytes" -> "bytes",
    "index.files" -> "count", "index.bytes" -> "bytes",
    "serve.recall_at_10" -> "ratio",
    "trace.overhead_s" -> "s",
    "spark.tasks" -> "count", "spark.spill_mb" -> "MB", "spark.gc_s" -> "s")

  /** Per-span counters reported for every span; tasks, spill and GC are
    * reported as totals over all spans (`spark.*`). */
  private val PerSpan: Seq[(String, String)] =
    Seq("jobs" -> "count", "busy_s" -> "s", "gap_s" -> "s", "shuffle_mb" -> "MB")

  val metrics: Seq[(String, String)] =
    Spans.map(s => s"${s}_s" -> "s") ++ Named ++
      Spans.flatMap(s => PerSpan.map { case (m, u) => s"$s.$m" -> u })

  def isSpanWall(k: String): Boolean = k.endsWith("_s") && Spans.contains(k.dropRight(2))

  /** Add the metrics derived from one traced iteration's raw values. */
  def derive(m: Map[String, Double]): Map[String, Double] = {
    def total(suffix: String, prefix: String = "") =
      Spans.filter(_.startsWith(prefix)).map(s => m.getOrElse(s"$s.$suffix", 0.0)).sum
    m ++ Map(
      "analyzer.pair_join_shuffle_mb" -> m.getOrElse("analyzer.pair_join.shuffle_mb", 0.0),
      "sinks.jobs" -> total("jobs", "sinks."),
      "spark.tasks" -> total("tasks"),
      "spark.spill_mb" -> total("spill_mb"),
      "spark.gc_s" -> total("gc_s"))
  }
}
