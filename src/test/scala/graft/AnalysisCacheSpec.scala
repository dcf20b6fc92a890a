package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.{AnalysisResult, Analyzer, AnalyzerParams, CorridorAgg, Sinks}

/** What `Analyzer.analyze` computes once and what it caches, on a small
  * generated KML (parallel east-west lines 8 m apart plus placemarks):
  * one parse of the input per analysis, one corridor aggregation per
  * export set, byte-identical re-exports, and a complete release by
  * `AnalysisResult.unpersist`. Also the sinks' temp-dir cleanup on a
  * failed write and the input type check of `vec_quantize_fixed`. */
class AnalysisCacheSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private val params = AnalyzerParams()

  /** `nLines` lines ~950 m long heading east, 8 m apart (so neighbours
    * pair and lines two apart, 16 m, do not), then `nPlacemarks` points. */
  private def writeCorpus(file: Path, nLines: Int, nPlacemarks: Int): Unit = {
    val dLat = 8.0 / 111000.0
    val lines = (0 until nLines).map { i =>
      val lat = 31.0 + i * dLat
      s"""<Placemark><name>line_$i</name><LineString><coordinates>
         |  -97.0,$lat,0 -96.995,$lat,0 -96.99,$lat,0
         |</coordinates></LineString></Placemark>""".stripMargin
    }
    val points = (0 until nPlacemarks).map { i =>
      s"""<Placemark><name>valve_$i</name><Point><coordinates>-96.98,${31.0 + i * 0.001},0</coordinates></Point></Placemark>"""
    }
    Files.writeString(file,
      s"""<?xml version="1.0" encoding="UTF-8"?>
         |<kml xmlns="http://www.opengis.net/kml/2.2"><Document>
         |${(lines ++ points).mkString("\n")}
         |</Document></kml>""".stripMargin)
  }

  private def corpus(nLines: Int = 3, nPlacemarks: Int = 1): Path = {
    val f = Files.createTempDirectory("graft_cache_").resolve("survey.kml")
    writeCorpus(f, nLines, nPlacemarks)
    f
  }

  private def rmrf(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).sorted(java.util.Comparator.reverseOrder())
      .forEach(f => { Files.deleteIfExists(f); () })

  private def drain(): Unit =
    org.apache.spark.sql.graft.Bridge.drainListenerBus(spark.sparkContext, 30000L)

  private def cacheIsEmpty: Boolean =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty

  /** Counts the executed plans in which a node matching `isTarget` read
    * rows it had not read before. A cached table's plan is one object
    * reached from every query that reads the cache, so it counts once:
    * in the query that filled the cache. */
  private final class RunCounter(isTarget: SparkPlan => Boolean) extends QueryExecutionListener {
    private val seen = new java.util.IdentityHashMap[SparkPlan, java.lang.Long]()
    @volatile var runs = 0

    private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case m: InMemoryTableScanExec => m +: nodes(m.relation.cachedPlan)
      case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
    }

    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      seen.synchronized {
        val ran = nodes(qe.executedPlan).filter(isTarget).map { p =>
          val rows = p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
          val before = Option(seen.get(p)).map(_.longValue).getOrElse(0L)
          seen.put(p, rows)
          rows > before
        }
        if (ran.contains(true)) runs += 1
      }

    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Runs `body` with a [[RunCounter]] registered on the session. */
  private def withCounter[T](isTarget: SparkPlan => Boolean)(body: RunCounter => T): T = {
    drain()
    val counter = new RunCounter(isTarget)
    spark.listenerManager.register(counter)
    try body(counter) finally spark.listenerManager.unregister(counter)
  }

  /** `body`'s value and the runs `counter` saw while it ran. */
  private def during[T](counter: RunCounter)(body: => T): (T, Int) = {
    drain()
    val before = counter.runs
    val out = body
    drain()
    (out, counter.runs - before)
  }

  private val isKmzScan: SparkPlan => Boolean = p =>
    p.nodeName.startsWith("BatchScan") && p.simpleString(200).contains("kmz(")

  private val isCorridorAgg: SparkPlan => Boolean = {
    case a: BaseAggregateExec =>
      a.aggregateExpressions.exists(_.aggregateFunction.nodeName == classOf[CorridorAgg].getSimpleName)
    case _ => false
  }

  private def exportSet(r: AnalysisResult, dir: Path): Unit = {
    Files.createDirectories(dir)
    Sinks.writeOverlapsCsv(r, dir.resolve("overlaps.csv").toString)
    Sinks.writeJson(r, params, dir.resolve("result.json").toString)
    Sinks.writeKml(r, dir.resolve("corridors.kml").toString, 20)
  }

  /** Every file under `dir`, keyed by relative path with the per-write
    * UUID of Spark part files masked, to its bytes. */
  private def snapshot(dir: Path): Map[String, Seq[Byte]] =
    Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_)).map { f =>
      dir.relativize(f).toString.replaceAll("[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", "<uuid>") ->
        Files.readAllBytes(f).toSeq
    }.toMap

  test("analyze parses the input once: one kmz scan reads rows") {
    val f = corpus()
    try {
      val (r, scans) = withCounter(isKmzScan)(c =>
        during(c)(new Analyzer(params).analyze(spark, f.toString)))
      try {
        assert(r.summary.nPipelines == 3 && r.summary.nPlacemarks == 1)
        assert(r.summary.nPairGroups == 2 && r.summary.nBundledSections == 2)
        assert(scans == 1, s"analyze scanned the kmz input $scans times")
      } finally r.unpersist()
    } finally rmrf(f.getParent)
  }

  test("an export set runs the corridor aggregation once; a re-export is byte-identical") {
    val f = corpus()
    val out = f.getParent.resolve("export")
    try {
      val r = new Analyzer(params).analyze(spark, f.toString)
      var first = Map.empty[String, Seq[Byte]]
      try {
        val (aggRuns, againRuns) = withCounter(isCorridorAgg) { c =>
          val (_, runs) = during(c)(exportSet(r, out))
          first = snapshot(out)
          rmrf(out)
          (runs, during(c)(exportSet(r, out))._2)
        }
        assert(aggRuns == 1, s"the corridor aggregation ran in $aggRuns plans")
        assert(againRuns == 0, "a second export recomputed the corridors")
        assert(first.keySet.exists(_.startsWith("result.json.tables/bundled_sections/part-")))
        val second = snapshot(out)
        assert(second.keySet == first.keySet)
        second.foreach { case (name, bytes) => assert(bytes == first(name), s"$name differs") }
      } finally r.unpersist()
    } finally rmrf(f.getParent)
  }

  test("unpersist releases every table the analysis cached") {
    val f = corpus()
    val out = f.getParent.resolve("export")
    try {
      spark.catalog.clearCache()
      val r = new Analyzer(params).analyze(spark, f.toString)
      exportSet(r, out) // fills the lazily cached tables too
      assert(r.cached.size == 8)
      assert(r.cached.forall(_.storageLevel.useMemory))
      r.unpersist()
      assert(cacheIsEmpty, "the session's cache manager still holds analysis tables")
      assert(r.cached.forall(_.storageLevel == org.apache.spark.storage.StorageLevel.NONE))
    } finally rmrf(f.getParent)
  }

  test("a fresh analyze of a rewritten input returns the new counts") {
    val f = corpus(nLines = 2, nPlacemarks = 1)
    try {
      spark.catalog.clearCache()
      val before = new Analyzer(params).analyze(spark, f.toString)
      assert(before.summary.nPipelines == 2 && before.summary.nPlacemarks == 1)
      // the first result stays cached while the file changes under it
      writeCorpus(f, nLines = 4, nPlacemarks = 2)
      val after = new Analyzer(params).analyze(spark, f.toString)
      assert(after.summary.nPipelines == 4 && after.summary.nPlacemarks == 2)
      assert(after.summary.nPairGroups == 3)
      assert(after.pipelines.count() == 4 && after.placemarks.count() == 2)
      before.unpersist(); after.unpersist()
      assert(cacheIsEmpty)
    } finally rmrf(f.getParent)
  }

  test("a failed single-file sink write leaves no temp dir behind") {
    val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    def sinkDirs: Set[String] =
      Files.list(tmp).iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("graft_sink_")).toSet
    val failing = spark.range(4).select(lit("1").as("OBJECTID"),
      when(col("id") === 2, raise_error(lit("planted write failure"))).cast("string").as("Name"),
      lit(1.0).as("Shape_Length"), lit(1.0).as("pipelinelength"))
    val r = AnalysisResult(failing, failing, failing, failing, null)
    val target = Files.createTempDirectory("graft_cache_").resolve("pipelines.csv")
    try {
      val dirsBefore = sinkDirs
      intercept[Exception](Sinks.writePipelinesCsv(r, target.toString))
      assert(sinkDirs == dirsBefore)
      assert(!Files.exists(target))
    } finally rmrf(target.getParent)
  }

  test("vec_quantize_fixed accepts array<float> only") {
    import graft.functions.VectorFunctions.vec_quantize_fixed
    val v = spark.range(1).select(array(lit(1.5), lit(-0.25)).as("v"))
    val q = v.select(vec_quantize_fixed(col("v").cast("array<float>"), 100L)).first()
    assert(q.getSeq[Long](0) == Seq(150L, -25L))
    val e = intercept[AnalysisException](v.select(vec_quantize_fixed(col("v"), 100L)).collect())
    assert(e.getMessage.contains("vec_quantize_fixed requires array<float>"))
  }
}
