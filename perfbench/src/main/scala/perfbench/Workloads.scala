package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.SparkInternals
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.geo.Geodesic
import graft.pipeline._
import graft.serving.IndexStore
import graft.sources.KmlSource
import graft.streaming.{StreamAnnServe, StreamGraphServe}

/** What a workload needs from the run: seed, scratch directory, pins and
  * the pin key (workload name, suffixed `@tiny` at smoke sizes). */
final class Env(val seed: Long, val work: Path, val pins: Pins, val pinKey: String,
    val scale: CorridorScale, val vectors: Int, val queries: Int) {
  /** Observed values for pin mode, in the order checked. */
  val observed = mutable.ArrayBuffer[String]()

  def pinSummary(setting: String, s: AnalysisSummary): Seq[String] = {
    observed += Pins.line(pinKey, seed, setting, Pins.summaryValues(s))
    pins.get(pinKey, seed, setting).toSeq.flatMap(Pins.compareSummary(_, s))
  }

  def pinRecall(recalls: Seq[Double]): Seq[String] = {
    observed += Pins.line(pinKey, seed, "recall", recalls.map(_.toString))
    pins.get(pinKey, seed, "recall").toSeq.flatMap(Pins.compareRecall(_, recalls))
  }

  def dir(name: String): Path = work.resolve(name)

  /** Designed pairs a compat-mode analysis missed among the westward
    * ones, per analysis: reported, not failed (see README, "Ground truth"). */
  val westwardMissed = mutable.ArrayBuffer[Int]()

  /** The analysis's bundled pairs against the designed set. Compat mode
    * may miss westward pairs; every other designed pair must be found and
    * nothing else may pair. */
  def pairCheck(found: Set[(String, String)], c: CorridorCorpus, compat: Boolean): Seq[String] = {
    val excused = if (compat) c.westwardPairs -- found else Set.empty[(String, String)]
    westwardMissed += excused.size
    Checks.pairSet(found, c.designedPairs -- excused)
  }
}

/** A benchmark workload: inputs, a set-up pass, and one untraced or
  * traced iteration. Untraced iterations append end-to-end samples. */
abstract class Workload(val env: Env) {
  /** Samples of the op that builds the workload's queryable state, of the
    * op that queries it, and of the storage the built state holds. */
  val buildS = mutable.ArrayBuffer[Double]()
  val queryS = mutable.ArrayBuffer[Double]()
  val heldMb = mutable.ArrayBuffer[Double]()

  def prepare(): Unit
  /** Untimed extra warm-up once the measured session is up, before the
    * first iteration. */
  def ready(spark: SparkSession): Unit = ()
  /** The set-up's warm-up pass: the build op on a small input from the
    * same generator. */
  def warmup(spark: SparkSession, round: Int): Unit
  def iteration(spark: SparkSession, ops: Ops, it: Int): Unit
  def traced(spark: SparkSession, tracer: Tracer, ops: Ops, it: Int): Map[String, Double]
}

object Workload {
  val Names = Seq("corridor_bundled", "corridor_sparse", "reanalyze_interactive", "index_lifecycle")

  def apply(name: String, env: Env): Workload = name match {
    case "corridor_bundled" => new CorridorWorkload(env, sparse = false)
    case "corridor_sparse" => new CorridorWorkload(env, sparse = true)
    case "reanalyze_interactive" => new ReanalyzeWorkload(env)
    case "index_lifecycle" => new IndexWorkload(env)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (one of ${Names.mkString(", ")})")
  }
}

object Util {
  def rmrf(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).sorted(java.util.Comparator.reverseOrder())
      .forEach(f => { Files.deleteIfExists(f); () })

  def files(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).toList

  def bytes(p: Path): Long = files(p).map(Files.size).sum

  /** Spark storage memory + disk held by cached data, in MB. */
  def cachedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}

/** Output checks of the analysis chain against the generator's truth. */
object Checks {
  def summary(s: AnalysisSummary, c: CorridorCorpus, isolated: Boolean): Seq[String] = {
    val e = mutable.ArrayBuffer[String]()
    if (s.nPipelines != c.lines.size) e += s"nPipelines ${s.nPipelines} != generated ${c.lines.size}"
    if (s.nPlacemarks != c.placemarks) e += s"nPlacemarks ${s.nPlacemarks} != generated ${c.placemarks}"
    if (Pins.relDiff(s.totalMeters, c.totalM) > 0.005)
      e += f"totalMeters ${s.totalMeters}%.1f vs generated ${c.totalM}%.1f (> 0.5 %%)"
    if (!(s.effectiveMeters > 0 && s.effectiveMeters <= s.totalMeters * (1 + 1e-12)))
      e += s"effectiveMeters ${s.effectiveMeters} outside (0, total ${s.totalMeters}]"
    if (isolated) {
      if (s.nPairGroups != 0) e += s"isolated corpus has ${s.nPairGroups} pair groups"
      if (s.nBundledSections != 0) e += s"isolated corpus has ${s.nBundledSections} sections"
      if (Pins.relDiff(s.effectiveMeters, s.totalMeters) > 1e-9)
        e += s"isolated corpus: effective ${s.effectiveMeters} != total ${s.totalMeters}"
    }
    e.toSeq
  }

  def pairSet(found: Set[(String, String)], designed: Set[(String, String)]): Seq[String] = {
    val missed = designed -- found
    val extra = found -- designed
    (if (missed.nonEmpty) Seq(s"missed designed pairs ${missed.toSeq.sorted.take(5).mkString(" ")} (${missed.size})") else Nil) ++
      (if (extra.nonEmpty) Seq(s"undesigned pairs ${extra.toSeq.sorted.take(5).mkString(" ")} (${extra.size})") else Nil)
  }

  def ordered(a: String, b: String): (String, String) = if (a < b) (a, b) else (b, a)

  /** Bundled pipeline pairs of an analysis (an untimed query). */
  def pairsOf(r: AnalysisResult): Set[(String, String)] =
    r.sections.select("pipeline_1", "pipeline_2").distinct().collect()
      .map(x => ordered(x.getString(0), x.getString(1))).toSet

  private def lines(p: Path): Seq[String] =
    Files.readAllLines(p).asScala.toSeq.filter(_.nonEmpty)

  private def rows(p: Path, header: String): Seq[String] = {
    val ls = lines(p)
    if (ls.headOption.exists(_.startsWith(header))) ls.tail else ls
  }

  def kml(p: Path, s: AnalysisSummary): Seq[String] = {
    val n = "<name>Center:".r.findAllMatchIn(Files.readString(p)).size
    val want = math.min(20L, s.nBundledSections)
    if (n != want) Seq(s"KML has $n corridors, want $want") else Nil
  }

  def exports(dir: Path, s: AnalysisSummary,
      pairs: Set[(String, String)] => Seq[String]): Seq[String] = {
    val e = mutable.ArrayBuffer[String]()
    val pipes = rows(dir.resolve("pipelines.csv"), "OBJECTID")
    if (pipes.size != s.nPipelines) e += s"pipelines.csv has ${pipes.size} rows, want ${s.nPipelines}"
    val secs = rows(dir.resolve("overlaps.csv"), "pipeline_1")
    if (secs.size != s.nBundledSections)
      e += s"overlaps.csv has ${secs.size} rows, want ${s.nBundledSections}"
    e ++= pairs(secs.map(_.split(",")).map(f => ordered(f(0), f(1))).toSet)
    val txt = Files.readString(dir.resolve("summary.txt"))
    if (!txt.contains(f"Total Original Length: ${s.totalMiles}%.3f miles")) e += "summary.txt total differs"
    val json = Files.readString(dir.resolve("result.json"))
    if (!json.contains(s""""effective_total_meters": ${s.effectiveMeters},""")) e += "result.json effective differs"
    val tableRows = Util.files(dir.resolve("result.json.tables/bundled_sections"))
      .filter(_.toString.endsWith(".json")).map(f => lines(f).size).sum
    if (tableRows != s.nBundledSections)
      e += s"bundled_sections table has $tableRows rows, want ${s.nBundledSections}"
    e ++= kml(dir.resolve("corridors.kml"), s)
    e.toSeq
  }
}

/** The reference export set of one analysis, and its traced form. */
object Exports {
  def csv(r: AnalysisResult, dir: Path): Unit = {
    Files.createDirectories(dir)
    Sinks.writePipelinesCsv(r, dir.resolve("pipelines.csv").toString)
    Sinks.writeOverlapsCsv(r, dir.resolve("overlaps.csv").toString)
    Sinks.writeSummaryTxt(r, dir.resolve("summary.txt").toString)
  }
  def json(r: AnalysisResult, p: AnalyzerParams, dir: Path): Unit =
    Sinks.writeJson(r, p, dir.resolve("result.json").toString)
  def kml(r: AnalysisResult, dir: Path): Unit =
    Sinks.writeKml(r, dir.resolve("corridors.kml").toString, 20)

  def all(r: AnalysisResult, p: AnalyzerParams, dir: Path): Unit = {
    csv(r, dir); json(r, p, dir); kml(r, dir)
  }

  def traced(t: Tracer, r: AnalysisResult, p: AnalyzerParams, dir: Path): Unit = {
    t.span("sinks.csv")(csv(r, dir))
    t.span("sinks.json")(json(r, p, dir))
    t.span("sinks.kml")(kml(r, dir))
  }
}

/** The Analyzer chain called stage by stage, each boundary forced inside
  * its own span (persist + count, or a noop write), as `analyze` runs it. */
object Stages {
  final case class Out(counts: Map[String, Double], segments: Long, effectiveM: Double)

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def run(spark: SparkSession, t: Tracer, an: Analyzer, path: String): Out = {
    val lvl = StorageLevel.MEMORY_AND_DISK
    val cached = mutable.ArrayBuffer[Dataset[_]]()
    def keep[T <: Dataset[_]](d: T): T = { cached += d; d.persist(lvl); d }
    try {
      var features, vertices = 0L
      val pipes = t.span("sources.ingest") {
        val feats = keep(KmlSource.readMany(spark, path))
        val row = feats.agg(count(lit(1)), sum(size(col("coordinates")))).first()
        features = row.getLong(0)
        vertices = row.getLong(1)
        val (p, m) = KmlSource.splitMany(feats)
        keep(p).count()
        m.count()
        p
      }
      val lengths = t.span("analyzer.lengths") {
        val l = keep(an.pipelineLengths(pipes))
        l.agg(sum("Shape_Length")).first()
        l
      }
      val (segs, nSegs) = t.span("analyzer.segments") {
        val s = keep(an.segments(pipes)); (s, s.count())
      }
      val (pairs, nPairs) = t.span("analyzer.pair_join") {
        val p = keep(an.parallelPairs(segs)); (p, p.count())
      }
      val candidates = SparkInternals.cachedPlan(spark, pairs).toSeq
        .flatMap(Tracer.nodes).collectFirst { case j: BaseJoinExec => j }
        .flatMap(_.metrics.get("numOutputRows")).map(_.value).getOrElse(0L)
      val sess = t.span("analyzer.sessionize") { val s = keep(an.sessionize(pairs)); s.count(); s }
      val (sections, kept) = t.span("analyzer.sections") {
        val s = keep(an.bundledSections(sess)); (s, s.count())
      }
      val sessions = sess.select("p1", "p2", "section").distinct().count()
      val eff = t.span("analyzer.effective")(an.effectiveLengthMeters(segs, pairs, lengths))
      t.span("analyzer.corridors")(noop(an.sectionCorridors(sess, sections)))
      t.span("analyzer.overlaps")(noop(an.pipelineOverlaps(sess, sections)))
      Out(Map(
        "sources.features" -> features.toDouble,
        "sources.vertices" -> vertices.toDouble,
        "analyzer.segments" -> nSegs.toDouble,
        "analyzer.pairs" -> nPairs.toDouble,
        "analyzer.pair_candidates" -> candidates.toDouble,
        "analyzer.pair_yield" -> (if (candidates > 0) nPairs.toDouble / candidates else 0.0),
        "analyzer.sections_kept_ratio" -> (if (sessions > 0) kept.toDouble / sessions else 0.0)),
        nSegs, eff)
    } finally cached.foreach(_.unpersist(blocking = true))
  }

  /** Check a staged pass against the generated input and against the
    * `analyze` summary of the same input. */
  def check(o: Out, c: CorridorCorpus, s: AnalysisSummary): Seq[String] = {
    val eff = math.max(0.0, math.min(s.totalMeters, o.effectiveM))
    val scanned = (o.counts("sources.features").toLong, o.counts("sources.vertices").toLong)
    val generated = (c.lines.size + c.placemarks.toLong, c.vertices + c.placemarks)
    (if (scanned != generated) Seq(s"scanned (features, vertices) $scanned != generated $generated") else Nil) ++
      (if (o.segments != s.nSegments) Seq(s"staged segments ${o.segments} != ${s.nSegments}") else Nil) ++
      (if (Pins.relDiff(eff, s.effectiveMeters) > 1e-9) Seq(s"staged effective $eff != ${s.effectiveMeters}") else Nil)
  }
}

/** Single-thread kernel timings: ns per `Geodesic.inverse` and per
  * segment emitted by `Analyzer.segmentOne`. */
object Kernels {
  def run(c: CorridorCorpus): Map[String, Double] = {
    val rows = c.lines.zipWithIndex.map { case (l, i) =>
      PipelineRow(i, i.toString, l.name, l.coords.toSeq.map { case (x, y) => LonLat(x, y) })
    }
    def timeNs(minS: Double)(pass: => Long): Double = {
      pass // warm
      var n = 0L
      val t0 = System.nanoTime()
      while ((System.nanoTime() - t0) < minS * 1e9) n += pass
      (System.nanoTime() - t0).toDouble / math.max(1L, n)
    }
    val inv = timeNs(0.25) {
      var k = 0L
      c.lines.foreach { l =>
        val a = l.coords
        var i = 0
        while (i < a.length - 1) {
          Geodesic.inverse(a(i)._1, a(i)._2, a(i + 1)._1, a(i + 1)._2); i += 1; k += 1
        }
      }
      k
    }
    val seg = timeNs(0.25)(rows.map(Analyzer.segmentOne(_, 5.0, compat = true).length.toLong).sum)
    Map("geo.inverse_ns" -> inv, "analyzer.segment_one_ns" -> seg)
  }
}

/** corridor_bundled / corridor_sparse: analyze, then the export set. */
final class CorridorWorkload(env: Env, sparse: Boolean) extends Workload(env) {
  private var corpus: CorridorCorpus = _
  private var tiny: CorridorCorpus = _
  private val params = AnalyzerParams()

  private def gen(seed: Long, scale: CorridorScale, dir: Path) =
    if (sparse) Corpus.sparse(seed, scale, dir) else Corpus.bundled(seed, scale, dir)

  def prepare(): Unit = {
    corpus = gen(env.seed, env.scale, env.dir("input"))
    tiny = gen(env.seed + 1000003L, CorridorScale.Tiny, env.dir("warmup-input"))
  }

  def warmup(spark: SparkSession, round: Int): Unit = {
    new Analyzer(params).analyze(spark, tiny.dir.toString)
    spark.catalog.clearCache()
  }

  /** Warm the export path too, so no measured export is the JVM's first. */
  override def ready(spark: SparkSession): Unit = {
    val dir = env.dir("warmup-export")
    Exports.all(new Analyzer(params).analyze(spark, tiny.dir.toString), params, dir)
    spark.catalog.clearCache()
    Util.rmrf(dir)
  }

  private def analyze(spark: SparkSession, ops: Ops): Timed[AnalysisResult] =
    ops.run("analyze")(new Analyzer(params).analyze(spark, corpus.dir.toString)) { r =>
      Checks.summary(r.summary, corpus, sparse) ++ env.pinSummary("default", r.summary)
    }

  private def export(ops: Ops, r: AnalysisResult, dir: Path): Timed[Unit] =
    ops.run("export")(Exports.all(r, params, dir))(_ =>
      Checks.exports(dir, r.summary, env.pairCheck(_, corpus, params.compat)))

  def iteration(spark: SparkSession, ops: Ops, it: Int): Unit = {
    val dir = env.dir(s"export-$it")
    try {
      val a = analyze(spark, ops)
      val held = Util.cachedMb(spark)
      val e = export(ops, a.value, dir)
      if (a.ok) { buildS += a.seconds; heldMb += held }
      if (e.ok) queryS += e.seconds
    } finally {
      spark.catalog.clearCache()
      Util.rmrf(dir)
    }
  }

  def traced(spark: SparkSession, t: Tracer, ops: Ops, it: Int): Map[String, Double] = {
    val dir = env.dir(s"export-$it")
    val tdir = env.dir(s"export-traced-$it")
    try {
      t.resetScans()
      val a = analyze(spark, ops)
      val scans = t.scans
      val e = export(ops, a.value, dir)
      Exports.traced(t, a.value, params, tdir)
      val sinkBytes = Util.bytes(tdir)
      spark.catalog.clearCache()
      val st = ops.run("staged")(Stages.run(spark, t, new Analyzer(params), corpus.dir.toString))(
        Stages.check(_, corpus, a.value.summary))
      val layer = t.harvest()
      val traced = layer.collect { case (k, v) if Layers.isSpanWall(k) => v }.sum
      layer ++ st.value.counts ++ Kernels.run(corpus) ++ Map(
        "sources.kmz_scans" -> scans.toDouble,
        "sinks.bytes" -> sinkBytes.toDouble,
        "trace.overhead_s" -> (traced - a.seconds - e.seconds))
    } finally {
      spark.catalog.clearCache()
      Util.rmrf(dir); Util.rmrf(tdir)
    }
  }
}

/** reanalyze_interactive: one analysis, then the GUI's re-analysis sweep,
  * each step followed by the top-20 corridor KML redraw. Intermediates
  * persisted by earlier steps stay cached until the sweep ends, as in an
  * interactive session. */
final class ReanalyzeWorkload(env: Env) extends Workload(env) {
  private var corpus: CorridorCorpus = _
  private var tiny: CorridorCorpus = _
  private val base = AnalyzerParams()

  /** Each step changes one knob of the previous step's settings. */
  val Sweep: Seq[(String, AnalyzerParams)] = Seq(
    "d25" -> base.copy(detectionRangeM = 25.0),
    "d10" -> base.copy(detectionRangeM = 10.0),
    "a30" -> base.copy(detectionRangeM = 10.0, angularTolDeg = 30.0),
    "m500" -> base.copy(detectionRangeM = 10.0, angularTolDeg = 30.0, minParallelM = 500.0),
    "corrected" -> base.copy(detectionRangeM = 10.0, angularTolDeg = 30.0, minParallelM = 500.0,
      compat = false))

  def prepare(): Unit = {
    corpus = Corpus.fixture(env.seed, env.scale, env.dir("input"))
    tiny = Corpus.fixture(env.seed + 1000003L, CorridorScale.Tiny, env.dir("warmup-input"))
  }

  def warmup(spark: SparkSession, round: Int): Unit = {
    new Analyzer(base).analyze(spark, tiny.dir.toString)
    spark.catalog.clearCache()
  }

  private def checkAnalysis(setting: String, p: AnalyzerParams, r: AnalysisResult): Seq[String] =
    Checks.summary(r.summary, corpus, isolated = false) ++ env.pinSummary(setting, r.summary) ++
      env.pairCheck(Checks.pairsOf(r), corpus, p.compat)

  private def analyze(spark: SparkSession, ops: Ops): Timed[AnalysisResult] =
    ops.run("analyze")(new Analyzer(base).analyze(spark, corpus.dir.toString))(
      checkAnalysis("default", base, _))

  private def step(spark: SparkSession, ops: Ops, setting: String, p: AnalyzerParams,
      kml: Path): Timed[AnalysisResult] =
    ops.run(s"reanalyze.$setting") {
      val r = new Analyzer(base).reanalyze(spark, corpus.dir.toString, p)
      Sinks.writeKml(r, kml.toString, 20)
      r
    } { r => checkAnalysis(setting, p, r) ++ Checks.kml(kml, r.summary) }

  def iteration(spark: SparkSession, ops: Ops, it: Int): Unit = {
    try {
      val a = analyze(spark, ops)
      if (a.ok) { buildS += a.seconds; heldMb += Util.cachedMb(spark) }
      Sweep.foreach { case (setting, p) =>
        val kml = env.dir(s"redraw-$it-$setting.kml")
        val s = step(spark, ops, setting, p, kml)
        if (s.ok) { queryS += s.seconds; heldMb += Util.cachedMb(spark) }
        Files.deleteIfExists(kml)
      }
    } finally spark.catalog.clearCache()
  }

  def traced(spark: SparkSession, t: Tracer, ops: Ops, it: Int): Map[String, Double] = {
    val path = corpus.dir.toString
    try {
      t.resetScans()
      val a = analyze(spark, ops)
      val scans = t.scans
      var untraced = a.seconds
      val counts = mutable.ArrayBuffer[Map[String, Double]]()
      val st0 = ops.run("staged.default")(Stages.run(spark, t, new Analyzer(base), path))(
        Stages.check(_, corpus, a.value.summary))
      counts += st0.value.counts
      Sweep.foreach { case (setting, p) =>
        val kml = env.dir(s"redraw-$it-$setting.kml")
        val s = step(spark, ops, setting, p, kml)
        untraced += s.seconds
        val st = ops.run(s"staged.$setting")(Stages.run(spark, t, new Analyzer(p), path))(
          Stages.check(_, corpus, s.value.summary))
        counts += st.value.counts
        t.span("sinks.kml")(Sinks.writeKml(s.value, kml.toString, 20))
        Files.deleteIfExists(kml)
      }
      val layer = t.harvest()
      val traced = layer.collect { case (k, v) if Layers.isSpanWall(k) => v }.sum
      // counts summed over the sweep; ratios re-derived from the sums
      val sum = counts.flatMap(_.toSeq).groupMapReduce(_._1)(_._2)(_ + _)
      layer ++ sum ++ Kernels.run(corpus) ++ Map(
        "analyzer.pair_yield" -> (if (sum("analyzer.pair_candidates") > 0)
          sum("analyzer.pairs") / sum("analyzer.pair_candidates") else 0.0),
        "analyzer.sections_kept_ratio" -> Stats.median(counts.map(_("analyzer.sections_kept_ratio")).toSeq),
        "sources.kmz_scans" -> scans.toDouble,
        "trace.overhead_s" -> (traced - untraced))
    } finally spark.catalog.clearCache()
  }
}

/** index_lifecycle: for the ann and knn families, write 7/8 of the
  * corpus, serve a query batch, append 1/8, delete 1/16, serve, compact,
  * serve again, in fresh index directories every iteration. */
final class IndexWorkload(env: Env) extends Workload(env) {
  private final case class Inputs(dir: Path, v: VectorCorpus, deleted: Set[Long]) {
    val nWrite: Int = v.n - v.n / 8
    def live1(i: Int): Boolean = i < nWrite
    def live2(i: Int): Boolean = !deleted(i.toLong)
    lazy val truth1: Seq[Seq[Long]] = v.queries.toSeq.map(VectorCorpus.exactTopK(_, v.vecs, live1, 10))
    lazy val truth2: Seq[Seq[Long]] = v.queries.toSeq.map(VectorCorpus.exactTopK(_, v.vecs, live2, 10))
  }

  private var main: Inputs = _
  private var tiny: Inputs = _

  private def inputs(seed: Long, n: Int, q: Int, dir: Path): Inputs = {
    val v = VectorCorpus(seed, n, q)
    val rnd = new java.util.SplittableRandom(seed * 65537L + 5L)
    val deleted = Iterator.continually(rnd.nextInt(n).toLong).distinct.take(n / 16).toSet
    Inputs(dir, v, deleted)
  }

  def prepare(): Unit = {
    main = inputs(env.seed, env.vectors, env.queries, env.dir("vectors"))
    tiny = inputs(env.seed + 1000003L, 768, 8, env.dir("warmup-vectors"))
    main.truth1; main.truth2
  }

  private val schema = StructType(Seq(
    StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType))))

  private def write(spark: SparkSession, in: Inputs): Unit = {
    def rows(ids: Range, vec: Int => Array[Float], base: Long = 0L) =
      ids.map(i => Row(base + i, vec(i).toSeq))
    def save(rs: Seq[Row], name: String): Unit =
      spark.createDataFrame(rs.asJava, schema).repartition(4)
        .write.mode("overwrite").parquet(in.dir.resolve(name).toString)
    save(rows(0 until in.nWrite, in.v.vecs(_)), "write")
    save(rows(in.nWrite until in.v.n, in.v.vecs(_)), "append")
    save(rows(in.v.queries.indices, in.v.queries(_), VectorCorpus.QueryIdBase), "queries")
    spark.createDataFrame(in.deleted.toSeq.sorted.map(Row(_)).asJava,
      StructType(Seq(StructField("vec_id", LongType))))
      .write.mode("overwrite").parquet(in.dir.resolve("delete").toString)
  }

  private var written = false
  private def inputsWritten(spark: SparkSession): Unit =
    if (!written) { write(spark, main); written = true }

  /** Warm-up: write, load and serve a small ann index. */
  def warmup(spark: SparkSession, round: Int): Unit = {
    write(spark, tiny)
    val ann = env.dir(s"warmup-index-$round").toString
    try {
      IndexStore.writeAnn(spark.read.parquet(tiny.dir.resolve("write").toString), ann)
      StreamAnnServe.serveTopK(spark.read.parquet(tiny.dir.resolve("queries").toString),
        IndexStore.loadAnn(spark, ann), k = 10).collect()
    } finally Util.rmrf(env.dir(s"warmup-index-$round"))
  }

  private final case class Cycle(lifecycleS: Double, lifecycleOk: Boolean,
      serveS: Seq[(String, Double)], heldBytes: Long, files: Int)

  private def served(rows: Array[Row]): Map[Long, Seq[(Long, Long, Double)]] =
    rows.toSeq.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .groupBy(_._1).map { case (q, rs) => q -> rs.sortBy(_._3).map(x => (x._2, x._3, x._4)) }

  private def cycle(spark: SparkSession, ops: Ops, in: Inputs, root: Path,
      tr: Option[Tracer], check: Boolean): Cycle = {
    def sp[T](name: String)(body: => T): T = tr.fold(body)(_.span(name)(body))
    def read(name: String) = spark.read.parquet(in.dir.resolve(name).toString)
    val (writeDf, appendDf, deleteDf, queries) = (read("write"), read("append"), read("delete"), read("queries"))
    val ann = root.resolve("ann").toString
    val knn = root.resolve("knn").toString
    val life = mutable.ArrayBuffer[Timed[_]]()
    val serveS = mutable.ArrayBuffer[(String, Double)]()
    val recalls = mutable.ArrayBuffer[Double]()
    var annBeforeCompact: Map[Long, Seq[(Long, Long, Double)]] = Map.empty

    def gen(dir: String) = IndexStore.currentGen(spark, dir)
    def stage(name: String, dir: String)(body: => Unit): Unit = {
      val before = gen(dir)
      life += ops.run(name)(sp(name.split('.').take(2).mkString("."))(body)) { _ =>
        if (!check) Nil
        else if (gen(dir).isEmpty) Seq(s"no committed generation in $dir")
        else if (name.startsWith("index.compact") && gen(dir) == before) Seq("compaction committed no new generation")
        else Nil
      }
    }

    /** One serve batch: load the live generation, serve, collect. */
    def serve(family: String, batch: Int): Unit = {
      val truth = if (batch == 1) in.truth1 else in.truth2
      var seconds = 0.0
      val t = ops.run(s"serve.$family.$batch") {
        val load = sp("index.load") {
          if (family == "ann") Left(IndexStore.loadAnn(spark, ann)) else Right(IndexStore.loadKnn(spark, knn))
        }
        val t0 = System.nanoTime()
        val rows = sp(s"serve.$family") {
          load.fold(StreamAnnServe.serveTopK(queries, _, k = 10),
            StreamGraphServe.serveTopK(queries, _, k = 10)).collect()
        }
        seconds = Util.seconds(t0)
        served(rows)
      } { got =>
        val hits = truth.indices.map { i =>
          got.getOrElse(VectorCorpus.QueryIdBase + i, Nil).map(_._1).toSet.intersect(truth(i).toSet).size
        }.sum
        recalls += hits.toDouble / (10.0 * truth.size)
        val e = mutable.ArrayBuffer[String]()
        if (check) {
          val short = got.count(_._2.size != 10) + (truth.size - got.size)
          if (short > 0) e += s"$short queries without 10 results"
          if (batch > 1) {
            val bad = got.values.flatten.map(_._1).filter(in.deleted)
            if (bad.nonEmpty) e += s"served deleted ids ${bad.take(5).mkString(",")}"
          }
          if (family == "ann" && batch == 3 && got != annBeforeCompact)
            e += "ann serve after compaction differs from the serve before it"
        }
        if (family == "ann" && batch == 2) annBeforeCompact = got
        e.toSeq
      }
      if (t.ok) serveS += family -> seconds
    }

    stage("index.write.ann", ann)(IndexStore.writeAnn(writeDf, ann))
    stage("index.write.knn", knn)(IndexStore.writeKnn(writeDf, knn))
    // knn serves are the costly ones: served before the changes and after
    // compaction; ann also serves right before compaction, so the serve
    // after it can be compared row for row
    serve("ann", 1); serve("knn", 1)
    stage("index.append.ann", ann)(IndexStore.appendAnn(appendDf, ann))
    stage("index.append.knn", knn)(IndexStore.appendKnn(appendDf, knn))
    stage("index.delete.ann", ann)(IndexStore.deleteAnn(deleteDf, ann))
    stage("index.delete.knn", knn)(IndexStore.deleteKnn(deleteDf, knn))
    serve("ann", 2)
    stage("index.compact.ann", ann)(IndexStore.compactAnn(spark, ann))
    stage("index.compact.knn", knn)(IndexStore.compactKnn(spark, knn))
    serve("ann", 3); serve("knn", 3)
    if (check && recalls.size == 5) {
      // batches in pin order: ann 1-3, then knn 1 and 3
      val ordered = Seq(0, 2, 3, 1, 4).map(recalls(_))
      val errs = env.pinRecall(ordered)
      if (errs.nonEmpty) { ops.failed += 1; ops.failures ++= errs.map("recall: " + _) }
    }
    lastRecall = if (recalls.nonEmpty) recalls.sum / recalls.size else 0.0
    Cycle(life.map(_.seconds).sum, life.forall(_.ok), serveS.toSeq,
      Util.bytes(root), Util.files(root).size)
  }

  private var lastRecall = 0.0

  def iteration(spark: SparkSession, ops: Ops, it: Int): Unit = {
    inputsWritten(spark)
    val root = env.dir(s"index-$it")
    try {
      val c = cycle(spark, ops, main, root, None, check = true)
      if (c.lifecycleOk) buildS += c.lifecycleS
      // one query batch served by both families: the median ann batch
      // plus the median knn batch of this pass
      val byFamily = c.serveS.groupMap(_._1)(_._2)
      if (byFamily.size == 2) queryS += byFamily.values.map(Stats.median).sum
      heldMb += c.heldBytes / 1e6
    } finally Util.rmrf(root)
  }

  def traced(spark: SparkSession, t: Tracer, ops: Ops, it: Int): Map[String, Double] = {
    val r0 = env.dir(s"index-$it")
    val r1 = env.dir(s"index-traced-$it")
    inputsWritten(spark)
    try {
      val u = cycle(spark, ops, main, r0, None, check = true)
      val c = cycle(spark, ops, main, r1, Some(t), check = true)
      val layer = t.harvest()
      val traced = Seq("index.write", "index.append", "index.delete", "index.compact")
        .map(s => layer.getOrElse(s + "_s", 0.0)).sum
      layer ++ Map(
        "index.files" -> c.files.toDouble,
        "index.bytes" -> c.heldBytes.toDouble,
        "serve.recall_at_10" -> lastRecall,
        "trace.overhead_s" -> (traced - u.lifecycleS))
    } finally { Util.rmrf(r0); Util.rmrf(r1) }
  }
}
