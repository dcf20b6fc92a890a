package perfbench

import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.zip.{ZipEntry, ZipOutputStream}

/** One generated LineString: its KML name and (lon, lat) vertices. */
final case class Line(name: String, coords: Array[(Double, Double)]) {
  /** Planar length in metres, measured in the generator's own frame. */
  var lengthM: Double = 0.0
}

/** A generated survey corpus: the KMZ files written, the designed
  * ground truth, and the generator's own totals for cross-checks. */
final case class CorridorCorpus(
    dir: Path,
    lines: Seq[Line],
    placemarks: Int,
    designedPairs: Set[(String, String)],
    westwardPairs: Set[(String, String)]) {
  def totalM: Double = lines.map(_.lengthM).sum
  def vertices: Long = lines.map(_.coords.length.toLong).sum
}

/** Size knobs of the corridor generators. */
final case class CorridorScale(
    bundles: Int, bundleLenM: (Double, Double), vertexStepM: Double,
    sparseLines: Int, sparseLenM: (Double, Double), sparseFiles: Int,
    fixtureBundles: Int, fixtureLenM: (Double, Double), fixtureStepM: Double)

object CorridorScale {
  val Full = CorridorScale(
    bundles = 24, bundleLenM = (2400.0, 3200.0), vertexStepM = 40.0,
    sparseLines = 96, sparseLenM = (1100.0, 1500.0), sparseFiles = 32,
    fixtureBundles = 10, fixtureLenM = (2500.0, 3300.0), fixtureStepM = 140.0)
  val Tiny = CorridorScale(
    bundles = 4, bundleLenM = (1300.0, 1500.0), vertexStepM = 40.0,
    sparseLines = 8, sparseLenM = (400.0, 500.0), sparseFiles = 4,
    fixtureBundles = 3, fixtureLenM = (1300.0, 1500.0), fixtureStepM = 140.0)
}

/** Seeded corridor generators with closed-form ground truth.
  *
  * Geometry lives in a local east/north metre frame around an origin in
  * Texas (lat ~31°) and is mapped to lon/lat with a spherical tangent
  * plane, accurate to well under 0.1 % over the few km a corpus spans.
  * Centerlines run roughly east-west (heading within ±30° of east, with a
  * bounded random walk), so lateral offsets are mostly north-south and the
  * compat-mode degree-space prefilter keeps every designed pair.
  *
  * Members of a bundle are offset laterally from one centerline. Offsets
  * are drawn so that every two same-bundle members are either at most
  * `near` metres apart (a designed pair when both have the same direction)
  * or at least `far` metres apart (never in range), so the designed pair
  * set does not depend on borderline distances. Reversed members are
  * digitized end to start: antiparallel, so they never bundle.
  */
object Corpus {
  private val R = 6371008.8
  private val Lon0 = -100.0
  private val Lat0 = 31.0
  private val mPerDegLat = R * math.Pi / 180.0
  private val mPerDegLon = mPerDegLat * math.cos(math.toRadians(Lat0))

  private def toLonLat(x: Double, y: Double): (Double, Double) =
    (Lon0 + x / mPerDegLon, Lat0 + y / mPerDegLat)

  private def u(rnd: java.util.SplittableRandom, lo: Double, hi: Double): Double =
    lo + (hi - lo) * rnd.nextDouble()

  /** Centerline vertices in metres: start (x0, y0), `n` edges of `step`. */
  private def centerline(rnd: java.util.SplittableRandom, x0: Double, y0: Double,
      lenM: Double, step: Double): Array[(Double, Double)] = {
    val n = math.max(2, math.round(lenM / step).toInt)
    val base = u(rnd, -30.0, 30.0)
    var h = base
    var x = x0
    var y = y0
    val out = Array.ofDim[(Double, Double)](n + 1)
    out(0) = (x, y)
    for (i <- 1 to n) {
      // gentle bounded curvature: at most ~1° per 40 m, never past ±40°
      h = math.max(base - 10.0, math.min(base + 10.0, h + u(rnd, -1.0, 1.0) * step / 40.0))
      x += step * math.cos(math.toRadians(h))
      y += step * math.sin(math.toRadians(h))
      out(i) = (x, y)
    }
    out
  }

  /** The centerline shifted `off` metres to its left (vertex normals). */
  private def offset(c: Array[(Double, Double)], off: Double): Array[(Double, Double)] =
    c.indices.map { i =>
      val (ax, ay) = c(math.max(0, i - 1))
      val (bx, by) = c(math.min(c.length - 1, i + 1))
      val dx = bx - ax
      val dy = by - ay
      val l = math.hypot(dx, dy)
      (c(i)._1 - off * dy / l, c(i)._2 + off * dx / l)
    }.toArray

  private def planarLength(c: Array[(Double, Double)]): Double =
    c.sliding(2).map { case Array(a, b) => math.hypot(b._1 - a._1, b._2 - a._2) }.sum

  /** Lateral member offsets for a bundle of `k`: every two are either
    * within `near` or at least `far` apart. A bundle of four is two pairs
    * (`split`) or a triple plus a loner. */
  private def layout(rnd: java.util.SplittableRandom, k: Int, split: Boolean, near: Double,
      far: Double, minGap: Double): Seq[Double] = {
    def group(m: Int): Seq[Double] = m match {
      case 1 => Seq(0.0)
      case 2 => Seq(0.0, u(rnd, minGap, near))
      case _ => // three within `near`: gaps >= minGap, span <= near
        val a = u(rnd, minGap, near - minGap)
        Seq(0.0, a, u(rnd, a + minGap, near))
    }
    k match {
      case 4 if split =>
        val g = group(2); val shift = g.max + u(rnd, far, far + 5.0)
        g ++ group(2).map(_ + shift)
      case 4 =>
        val g = group(3); g :+ (g.max + u(rnd, far, far + 5.0))
      case m => group(m)
    }
  }

  private final case class Member(line: Line, off: Double, reversed: Boolean, bundle: Int)

  /** Bundles on a 12 km grid (>= 10 km between any two bundles), built
    * from a fixed template so the work barely varies by seed: bundle `b`
    * has `counts(b mod counts.length)` members, bundles of four alternate
    * between two pairs and a triple plus a loner, and ~15 % of members are
    * digitized end to start: one member of every third bundle (antiparallel
    * to the rest of its bundle) and both members of the first other pair
    * (so every corpus has one westward designed pair). The seed draws the
    * geometry: position, heading, curvature, offsets, lengths (their mean
    * fixed to the middle of `lenM`) and partial coverage: each member starts
    * within the first 12 % and ends within the last 12 % of its centerline,
    * so same-bundle members overlap >= 1 km. */
  private def bundles(rnd: java.util.SplittableRandom, nBundles: Int, lenM: (Double, Double),
      step: Double, near: Double, far: Double, minGap: Double, prefix: String,
      counts: Seq[Int]): Seq[Member] = {
    val sizes = Seq.tabulate(nBundles)(i => counts(i % counts.length))
    val westBundle = sizes.indices.find(b => sizes(b) == 2 && b % 3 != 1).getOrElse(-1)
    val cols = math.ceil(math.sqrt(nBundles.toDouble)).toInt
    val lens = {
      val l = sizes.map(_ => u(rnd, lenM._1, lenM._2))
      l.map(_ - l.sum / l.length + (lenM._1 + lenM._2) / 2)
    }
    var fours = 0
    sizes.zipWithIndex.flatMap { case (k, b) =>
      val x0 = (b % cols) * 12000.0 + u(rnd, 0.0, 1500.0)
      val y0 = (b / cols) * 12000.0 + u(rnd, 0.0, 1500.0)
      val c = centerline(rnd, x0, y0, lens(b), step)
      if (k == 4) fours += 1
      layout(rnd, k, fours % 2 == 1, near, far, minGap).zipWithIndex.map { case (off, m) =>
        val n = c.length
        val from = (u(rnd, 0.0, 0.12) * n).toInt
        val to = n - (u(rnd, 0.0, 0.12) * n).toInt
        val pts = offset(c, off).slice(from, to)
        val reversed = b == westBundle || (b % 3 == 1 && m == b % k)
        val coords = pts.map { case (x, y) => toLonLat(x, y) }
        val line = Line(f"$prefix$b%03d-$m", if (reversed) coords.reverse else coords)
        line.lengthM = planarLength(pts)
        Member(line, off, reversed, b)
      }
    }
  }

  private def designed(members: Seq[Member], near: Double): Set[(String, String)] =
    members.groupBy(_.bundle).values.flatMap { ms =>
      for {
        a <- ms; b <- ms
        if a.line.name < b.line.name && a.reversed == b.reversed &&
          math.abs(a.off - b.off) <= near
      } yield (a.line.name, b.line.name)
    }.toSet

  /** Designed pairs whose members are both digitized end to start, i.e.
    * run westward while every centerline heads east. */
  private def westward(members: Seq[Member], near: Double): Set[(String, String)] = {
    val rev = members.filter(_.reversed).map(_.line.name).toSet
    designed(members, near).filter { case (a, b) => rev(a) && rev(b) }
  }

  /** corridor_bundled: one KMZ of bundles of 1-4 parallel lines 4-10 m
    * apart; designed pairs <= 10 m, other same-bundle pairs >= 22 m. */
  def bundled(seed: Long, scale: CorridorScale, dir: Path): CorridorCorpus = {
    val rnd = new java.util.SplittableRandom(seed * 7919L + 1L)
    val ms = bundles(rnd, scale.bundles, scale.bundleLenM, scale.vertexStepM,
      near = 10.0, far = 22.0, minGap = 4.0, prefix = "B",
      counts = Seq(1, 2, 2, 3, 3, 4, 2, 3, 4, 2))
    val lines = ms.map(_.line)
    val pms = valves(rnd, lines)
    writeKmz(dir.resolve("survey.kmz"), lines, pms)
    CorridorCorpus(dir, lines, pms.length, designed(ms, 10.0), westward(ms, 10.0))
  }

  /** corridor_sparse: isolated lines (>= 1.5 km from any other) with a
    * vertex every 5 m, split round-robin over many KMZ files. */
  def sparse(seed: Long, scale: CorridorScale, dir: Path): CorridorCorpus = {
    val rnd = new java.util.SplittableRandom(seed * 104729L + 2L)
    val cols = math.ceil(math.sqrt(scale.sparseLines.toDouble)).toInt
    val (lo, hi) = scale.sparseLenM
    val lens = {
      val l = Seq.fill(scale.sparseLines)(u(rnd, lo, hi))
      l.map(_ - l.sum / l.length + (lo + hi) / 2)
    }
    val lines = (0 until scale.sparseLines).map { i =>
      val x0 = (i % cols) * 3500.0 + u(rnd, 0.0, 300.0)
      val y0 = (i / cols) * 3500.0 + u(rnd, 0.0, 300.0)
      val c = centerline(rnd, x0, y0, lens(i), 5.0)
      val l = Line(f"S$i%04d", c.map { case (x, y) => toLonLat(x, y) })
      l.lengthM = planarLength(c)
      l
    }
    val byFile = lines.zipWithIndex.groupBy(_._2 % scale.sparseFiles).toSeq.sortBy(_._1)
    var pms = 0
    byFile.foreach { case (f, ls) =>
      val fl = ls.map(_._1)
      val v = valves(rnd, fl)
      pms += v.length
      writeKmz(dir.resolve(f"part-$f%03d.kmz"), fl, v)
    }
    CorridorCorpus(dir, lines, pms, Set.empty, Set.empty)
  }

  /** reanalyze_interactive: fixture-shaped bundles with long sparse
    * edges (compat midpoint drift inflates the pair set). Designed pairs
    * are <= 4 m apart and every other same-bundle pair >= 40 m, so the
    * designed set holds for every setting of the re-analysis sweep
    * (detection 10-25 m, angle 15-30°, min-parallel 200-500 m, both modes). */
  def fixture(seed: Long, scale: CorridorScale, dir: Path): CorridorCorpus = {
    val rnd = new java.util.SplittableRandom(seed * 15485863L + 3L)
    val ms = bundles(rnd, scale.fixtureBundles, scale.fixtureLenM, scale.fixtureStepM,
      near = 4.0, far = 40.0, minGap = 1.5, prefix = "F",
      counts = Seq(2, 3, 2, 4, 1, 3, 2, 4, 2, 3))
    val lines = ms.map(_.line)
    val pms = valves(rnd, lines)
    writeKmz(dir.resolve("fixture.kmz"), lines, pms)
    CorridorCorpus(dir, lines, pms.length, designed(ms, 4.0), westward(ms, 4.0))
  }

  /** One Point placemark ("valve") per four lines, on a line's start. */
  private def valves(rnd: java.util.SplittableRandom, lines: Seq[Line]): Seq[(String, (Double, Double))] =
    lines.indices.filter(_ % 4 == 0).map { i =>
      (s"Valve ${lines(i).name}", lines(i).coords(rnd.nextInt(lines(i).coords.length)))
    }

  private def writeKmz(path: Path, lines: Seq[Line], points: Seq[(String, (Double, Double))]): Unit = {
    Files.createDirectories(path.getParent)
    val sb = new java.lang.StringBuilder(1 << 20)
    sb.append("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n")
      .append("<kml xmlns=\"http://www.opengis.net/kml/2.2\"><Document>\n")
    lines.foreach { l =>
      sb.append("<Placemark><name>").append(l.name).append("</name>")
        .append("<LineString><coordinates>")
      l.coords.foreach { case (lon, lat) =>
        sb.append(fmt(lon)).append(',').append(fmt(lat)).append(",0 ")
      }
      sb.append("</coordinates></LineString></Placemark>\n")
    }
    points.foreach { case (name, (lon, lat)) =>
      sb.append("<Placemark><name>").append(name).append("</name><Point><coordinates>")
        .append(fmt(lon)).append(',').append(fmt(lat)).append(",0</coordinates></Point></Placemark>\n")
    }
    sb.append("</Document></kml>\n")
    val zip = new ZipOutputStream(new BufferedOutputStream(new FileOutputStream(path.toFile)))
    try {
      zip.putNextEntry(new ZipEntry("doc.kml"))
      zip.write(sb.toString.getBytes(StandardCharsets.UTF_8))
      zip.closeEntry()
    } finally zip.close()
  }

  private def fmt(d: Double): String = String.format(java.util.Locale.ROOT, "%.8f", Double.box(d))
}

/** Seeded 64-dim vectors in Gaussian clusters, ids 0..n-1 in arrival
  * order, plus a query batch with ids outside the corpus. */
final case class VectorCorpus(vecs: Array[Array[Float]], queries: Array[Array[Float]]) {
  def n: Int = vecs.length
}

object VectorCorpus {
  val Dim = 64
  val QueryIdBase = 100000000L

  def apply(seed: Long, n: Int, nQueries: Int, clusters: Int = 32): VectorCorpus = {
    val rnd = new java.util.Random(seed * 31337L + 4L)
    val centers = Array.fill(clusters, Dim)(rnd.nextGaussian())
    def draw(): Array[Float] = {
      val c = centers(rnd.nextInt(clusters))
      Array.tabulate(Dim)(d => (c(d) + 0.45 * rnd.nextGaussian()).toFloat)
    }
    VectorCorpus(Array.fill(n)(draw()), Array.fill(nQueries)(draw()))
  }

  /** Exact cosine top-k over the live ids, (sim desc, id asc). */
  def exactTopK(q: Array[Float], vecs: Array[Array[Float]], live: Int => Boolean,
      k: Int): Seq[Long] = {
    def nrm(v: Array[Float]) = math.sqrt(v.map(x => x.toDouble * x).sum)
    val qn = nrm(q)
    vecs.indices.iterator.filter(live).map { i =>
      val v = vecs(i)
      var dot = 0.0
      var d = 0
      while (d < Dim) { dot += q(d).toDouble * v(d); d += 1 }
      (i.toLong, dot / (qn * nrm(v)))
    }.toSeq.sortBy { case (i, s) => (-s, i) }.take(k).map(_._1)
  }
}
