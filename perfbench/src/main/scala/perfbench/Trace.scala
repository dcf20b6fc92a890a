package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable

import org.apache.spark.perfbench.SparkInternals
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark counters of one named span. */
final class SpanStats {
  var jobs = 0
  var tasks = 0L
  var busyMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var gcMs = 0L
  val jobIntervals = mutable.ArrayBuffer[(Long, Long)]()
}

/** A closed span: name, start and end (epoch ms) and wall seconds. */
final case class Span(name: String, startMs: Long, endMs: Long, wallS: Double)

/** Span recorder for the traced run. A span is a named interval on the
  * driver thread; Spark jobs started inside it carry its name as a local
  * property (inherited by the thread pools the program starts), so the
  * listener attributes jobs, tasks, executor time, shuffle, spill and GC to
  * the span that was open, even though listener events arrive later.
  * Spans are kept in memory and written out when the run ends. */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val Key = "perfbench.span"
  private val sc = spark.sparkContext
  private val jobSpan = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, Long]()
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  private val stats = new ConcurrentHashMap[String, SpanStats]()
  private val spans = mutable.ArrayBuffer[Span]()

  /** kmz scan nodes that read rows, counted since the last [[resetScans]]. */
  @volatile private var kmzScans = 0
  private val seenScanRows = new java.util.IdentityHashMap[SparkPlan, java.lang.Long]()

  sc.addSparkListener(this)
  spark.listenerManager.register(this)

  def detach(): Unit = {
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  def span[T](name: String)(body: => T): T = {
    sc.setLocalProperty(Key, name)
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    try body
    finally {
      val wall = (System.nanoTime() - n0) / 1e9
      sc.setLocalProperty(Key, null)
      spans.synchronized { spans += Span(name, t0, System.currentTimeMillis(), wall) }
    }
  }

  private def statsOf(name: String): SpanStats = stats.computeIfAbsent(name, _ => new SpanStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val name = Option(e.properties).flatMap(p => Option(p.getProperty(Key))).orNull
    if (name != null) {
      jobSpan.put(e.jobId, name)
      jobStart.put(e.jobId, e.time)
      e.stageIds.foreach(stageSpan.put(_, name))
      val s = statsOf(name)
      s.synchronized { s.jobs += 1 }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobSpan.get(e.jobId)).foreach { name =>
      val s = statsOf(name)
      s.synchronized { s.jobIntervals += ((jobStart.get(e.jobId), e.time)) }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageSpan.get(e.stageId)).foreach { name =>
      val m = e.taskMetrics
      val s = statsOf(name)
      s.synchronized {
        s.tasks += 1
        if (m != null) {
          s.busyMs += m.executorRunTime
          s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          s.spillBytes += m.diskBytesSpilled
          s.gcMs += m.jvmGCTime
        }
      }
    }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    seenScanRows.synchronized {
      Tracer.nodes(qe.executedPlan).foreach { p =>
        if (p.nodeName.startsWith("BatchScan") && p.simpleString(200).contains("kmz(")) {
          val rows = p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
          val before = Option(seenScanRows.get(p)).map(_.longValue).getOrElse(0L)
          if (rows > before) kmzScans += 1
          seenScanRows.put(p, rows)
        }
      }
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def resetScans(): Unit = seenScanRows.synchronized { kmzScans = 0 }
  def scans: Int = { drain(); kmzScans }

  def drain(): Unit = SparkInternals.drainListenerBus(sc)

  /** Per-span metrics of everything recorded since the last call, as
    * `<span>.<metric>` keys; clears the recorder. */
  def harvest(): Map[String, Double] = {
    drain()
    val closed = spans.synchronized { val c = spans.toList; spans.clear(); c }
    val out = mutable.LinkedHashMap[String, Double]()
    closed.groupBy(_.name).foreach { case (name, ss) =>
      val st = Option(stats.remove(name)).getOrElse(new SpanStats)
      val wall = ss.map(_.wallS).sum
      val covered = ss.map { s =>
        Tracer.unionMs(st.jobIntervals.toSeq.map { case (a, b) =>
          (math.max(a, s.startMs), math.min(b, s.endMs)) })
      }.sum / 1000.0
      out(s"${name}_s") = wall
      out(s"$name.jobs") = st.jobs
      out(s"$name.tasks") = st.tasks.toDouble
      out(s"$name.busy_s") = st.busyMs / 1000.0
      out(s"$name.gap_s") = math.max(0.0, wall - covered)
      out(s"$name.shuffle_mb") = st.shuffleBytes / 1e6
      out(s"$name.spill_mb") = st.spillBytes / 1e6
      out(s"$name.gc_s") = st.gcMs / 1000.0
    }
    jobSpan.clear(); jobStart.clear(); stageSpan.clear(); stats.clear()
    out.toMap
  }
}

object Tracer {
  /** Every node of an executed plan, through adaptive wrappers, query
    * stages, subqueries and the plans that materialized cached data. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case m: InMemoryTableScanExec => m +: nodes(m.relation.cachedPlan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  /** Total length of a union of [a, b) intervals (empty ones dropped). */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) { total += math.max(0L, curB - curA); curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    total + math.max(0L, curB - curA)
  }
}
