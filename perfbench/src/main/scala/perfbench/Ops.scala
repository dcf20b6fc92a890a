package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import graft.pipeline.AnalysisSummary

/** An op whose body threw: the rest of its iteration is skipped. */
final class OpAborted(msg: String) extends RuntimeException(msg)

/** A timed op's value, wall seconds and whether its output checks passed. */
final case class Timed[T](value: T, seconds: Double, ok: Boolean)

/** Op accounting. An op is one analysis, export set, re-analysis,
  * lifecycle stage or serve batch; it fails if it throws or if any of its
  * output checks fails. */
final class Ops {
  var attempted = 0
  var failed = 0
  val failures = mutable.ArrayBuffer[String]()

  def run[T](name: String)(body: => T)(check: T => Seq[String]): Timed[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    val v = try body catch {
      case NonFatal(e) =>
        failed += 1
        failures += s"$name: threw $e"
        throw new OpAborted(s"$name threw $e")
    }
    val dt = (System.nanoTime() - t0) / 1e9
    val errs = try check(v) catch { case NonFatal(e) => Seq(s"check threw $e") }
    if (errs.nonEmpty) {
      failed += 1
      failures ++= errs.map(e => s"$name: $e")
    }
    Timed(v, dt, errs.isEmpty)
  }
}

/** Expected results pinned per (workload, seed, setting) at the commit
  * that introduced the benchmark: counts exact, metres within 1e-6
  * relative; recalls may not drop by more than 0.005. */
final class Pins(entries: Map[(String, Long, String), Seq[String]]) {
  def get(workload: String, seed: Long, setting: String): Option[Seq[String]] =
    entries.get((workload, seed, setting))
  def has(workload: String, seed: Long): Boolean = entries.keys.exists(k => k._1 == workload && k._2 == seed)
  /** A copy with one value replaced (the smoke check's planted error). */
  def corrupt(workload: String, seed: Long, setting: String, i: Int): Pins = {
    val k = (workload, seed, setting)
    val v = entries(k)
    new Pins(entries.updated(k, v.updated(i, (v(i).toLong + 1).toString)))
  }
}

object Pins {
  def load(path: Path): Pins =
    if (!Files.exists(path)) new Pins(Map.empty)
    else new Pins(Files.readAllLines(path).asScala.iterator
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val f = l.split("\t")
        (f(0), f(1).toLong, f(2)) -> f.drop(3).toSeq
      }.toMap)

  def line(workload: String, seed: Long, setting: String, values: Seq[String]): String =
    (Seq(workload, seed.toString, setting) ++ values).mkString("\t")

  /** The pinned fields of an analysis summary, in file order. */
  def summaryValues(s: AnalysisSummary): Seq[String] =
    Seq(s.nPipelines, s.nPlacemarks, s.nSegments, s.nPairGroups, s.nBundledSections).map(_.toString) ++
      Seq(s.totalMeters, s.totalBundledMeters, s.effectiveMeters).map(_.toString)

  private val SummaryNames = Seq("nPipelines", "nPlacemarks", "nSegments", "nPairGroups",
    "nBundledSections", "totalMeters", "totalBundledMeters", "effectiveMeters")

  def compareSummary(expected: Seq[String], s: AnalysisSummary): Seq[String] =
    SummaryNames.indices.flatMap { i =>
      val (e, o) = (expected(i), summaryValues(s)(i))
      val bad =
        if (i < 5) e.toLong != o.toLong
        else relDiff(e.toDouble, o.toDouble) > 1e-6
      if (bad) Some(s"${SummaryNames(i)} = $o, pinned $e") else None
    }

  def compareRecall(expected: Seq[String], observed: Seq[Double]): Seq[String] =
    expected.indices.flatMap { i =>
      if (observed(i) < expected(i).toDouble - 0.005)
        Some(f"recall of serve batch ${i + 1} = ${observed(i)}%.4f, pinned ${expected(i)}")
      else None
    }

  def relDiff(a: Double, b: Double): Double =
    if (a == b) 0.0 else math.abs(a - b) / math.max(math.abs(a), math.abs(b))
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}
