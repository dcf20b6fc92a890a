package graft.pipeline

/** Corridor polygon construction for bundled sections (SURVEY §2 O13;
  * reference /root/reference/src/pipeline_calculator_v3.py:476-712).
  *
  * Pure driver-free math over one section's ordered pair midpoints —
  * consumed by [[graft.pipeline.CorridorAgg]], a typed
  * `Aggregator[CorridorPairIn, CorridorBuf, CorridorOut]`: buffers
  * accumulate (orderKey, midpoint) records plus a running max
  * separation and merge associatively on executors, then `finish`
  * sorts by the compat order key and calls [[fromCenterline]] — so a
  * section's pairs never materialize as one collect_list array value.
  *
  * Geometry (all in a local equirectangular meter frame about the
  * section center, reference :494-508):
  *  1. centerline = per-pair midpoint average (:478-482)
  *  2. principal axis u = first→last centerline point (:513-524)
  *  3. width = clamp(max pair separation + 10 m margin, ≥ segment_len,
  *     ≤ 2×detection_range) (:553-563)
  *  4. oriented rectangle = axis-aligned box in (u, v) coords with
  *     ±pad longitudinal padding (:565-586)
  *  5. curved strip = centerline offset ±half-width with miter joins
  *     (limit 6×half-width), bevel fallback, and a zig-zag sanity check
  *     that falls back to the rectangle (:589-712)
  *
  * `compat=true` reproduces the reference's join-loop quirk exactly:
  * each vertex's first join point REPLACES the previous boundary point
  * (reference :661-666), so consecutive miters collapse and the start
  * cap is dropped. `compat=false` builds the standard offset polyline
  * (start cap, every join point, end cap).
  */
object CorridorGeometry {

  final case class XY(x: Double, y: Double)

  final case class Corridor(
      orientedPolygon: Seq[LonLat],
      orientedWidthM: Double,
      corridorPolygon: Seq[LonLat],
      usedFallback: Boolean)

  private val MPerDegY = 111320.0

  /** @param pairs     ordered (mid1, mid2) midpoint pairs of the section
    * @param centerLon bbox center (reference :473)
    * @param centerLat bbox center
    */
  def compute(
      pairs: Seq[(LonLat, LonLat)],
      centerLon: Double,
      centerLat: Double,
      segmentM: Double,
      detectionRangeM: Double,
      compat: Boolean = true): Corridor = {

    // 1. centerline (reference :478-490)
    val centerline0 = pairs.map { case (m1, m2) =>
      LonLat((m1.lon + m2.lon) / 2.0, (m1.lat + m2.lat) / 2.0)
    }
    val allPoints = pairs.flatMap { case (m1, m2) => Seq(m1, m2) }
    val centerline =
      if (centerline0.nonEmpty) centerline0
      else if (allPoints.nonEmpty) {
        val avgLon = allPoints.map(_.lon).sum / allPoints.length
        val avgLat = allPoints.map(_.lat).sum / allPoints.length
        Seq(LonLat(avgLon, avgLat), LonLat(avgLon, avgLat))
      } else Seq(LonLat(centerLon, centerLat), LonLat(centerLon, centerLat))

    // 5. width from max pair separation (:549-563) — same toXY frame as
    // fromCenterline; folded here so the streaming Aggregator path can
    // accumulate it per row ([[maxPairSeparation]]) instead of keeping
    // raw pairs around
    var maxSep = 0.0
    pairs.foreach { case (m1, m2) =>
      val sep = maxPairSeparation(m1, m2, centerLon, centerLat)
      if (sep > maxSep) maxSep = sep
    }

    fromCenterline(centerline, maxSep, centerLon, centerLat,
      segmentM, detectionRangeM, compat)
  }

  /** One pair's separation in the section's local meter frame —
    * bit-identical to the original in-loop formula (toXY both midpoints,
    * hypot of the XY deltas). */
  def maxPairSeparation(
      m1: LonLat, m2: LonLat, centerLon: Double, centerLat: Double): Double = {
    val mPerDegX = MPerDegY * math.cos(math.toRadians(centerLat))
    val ax = (m1.lon - centerLon) * mPerDegX
    val ay = (m1.lat - centerLat) * MPerDegY
    val bx = (m2.lon - centerLon) * mPerDegX
    val by = (m2.lat - centerLat) * MPerDegY
    math.hypot(bx - ax, by - ay)
  }

  /** Steps 2-7 over an already-ordered centerline + precomputed max
    * pair separation: the shape consumed by the typed Aggregator
    * ([[graft.functions.CorridorAgg]]), whose buffer keeps one midpoint
    * per pair and a running max instead of whole pair structs. */
  def fromCenterline(
      centerline: Seq[LonLat],
      maxSep: Double,
      centerLon: Double,
      centerLat: Double,
      segmentM: Double,
      detectionRangeM: Double,
      compat: Boolean): Corridor = {

    // 2. local meter frame (reference :494-508)
    val mPerDegX = MPerDegY * math.cos(math.toRadians(centerLat))
    def toXY(p: LonLat): XY =
      XY((p.lon - centerLon) * mPerDegX, (p.lat - centerLat) * MPerDegY)
    def toLonLat(p: XY): LonLat =
      LonLat(centerLon + p.x / mPerDegX, centerLat + p.y / MPerDegY)

    val clXY = centerline.map(toXY)

    // 3. principal axis (reference :512-527)
    val u: XY = if (clXY.length >= 2) {
      val vx = clXY.last.x - clXY.head.x
      val vy = clXY.last.y - clXY.head.y
      val n = math.hypot(vx, vy)
      if (n < 1e-6) XY(1.0, 0.0) else XY(vx / n, vy / n)
    } else XY(1.0, 0.0)
    val v = XY(-u.y, u.x)

    // 4. extents along axis + mean perpendicular offset (:531-546)
    val ts = clXY.map(p => p.x * u.x + p.y * u.y)
    val ss = clXY.map(p => p.x * v.x + p.y * v.y)
    val tMin = ts.min
    val tMax = ts.max
    val sMean = ss.sum / ss.length

    // 5. width clamp (reference :553-563)
    val marginM = 10.0
    var widthM = math.max(maxSep + marginM, segmentM)
    if (detectionRangeM > 0) widthM = math.min(widthM, 2.0 * detectionRangeM)

    // 6. oriented rectangle with longitudinal padding (:566-586)
    val padM = math.max(segmentM, 5.0)
    val t1 = tMin - padM
    val t2 = tMax + padM
    val halfW = widthM / 2.0
    def corner(t: Double, s: Double) = XY(u.x * t + v.x * s, u.y * t + v.y * s)
    val a = corner(t1, sMean - halfW)
    val b = corner(t2, sMean - halfW)
    val c = corner(t2, sMean + halfW)
    val d = corner(t1, sMean + halfW)
    val rectangle = Seq(a, b, c, d, a).map(toLonLat)

    // 7. curved strip with miter/bevel joins (:589-712)
    val curved = curvedStrip(clXY.toIndexedSeq, halfW, widthM, compat).map(_.map(toLonLat))

    Corridor(rectangle, widthM,
      curved.getOrElse(rectangle), usedFallback = curved.isEmpty)
  }

  private def unitDir(dx: Double, dy: Double): Option[XY] = {
    val n = math.hypot(dx, dy)
    if (n < 1e-9) None else Some(XY(dx / n, dy / n))
  }

  /** p + t·d = q + u·e intersection; None when nearly parallel (:601-608). */
  private def lineIntersection(p: XY, dir: XY, q: XY, e: XY): Option[XY] = {
    val cross = dir.x * e.y - dir.y * e.x
    if (math.abs(cross) < 1e-9) None
    else {
      val rx = q.x - p.x; val ry = q.y - p.y
      val t = (rx * e.y - ry * e.x) / cross
      Some(XY(p.x + t * dir.x, p.y + t * dir.y))
    }
  }

  /** Offset-polyline ring, or None when degenerate/zig-zag (fallback to
    * the rectangle, reference :695-711). Indexed input: the loops below
    * address vertices by position, which is linear per lookup on a List. */
  private def curvedStrip(
      clXY: IndexedSeq[XY], halfW: Double, widthM: Double, compat: Boolean): Option[Seq[XY]] = {
    if (clXY.length < 2) return None

    // per-segment unit directions + left normals, skipping degenerate
    // zero-length edges (reference :617-627)
    val dirIdx = clXY.indices.dropRight(1).flatMap { i =>
      unitDir(clXY(i + 1).x - clXY(i).x, clXY(i + 1).y - clXY(i).y).map(i -> _)
    }
    if (dirIdx.isEmpty) return None
    val validIdx = dirIdx.map(_._1)
    val dirs = dirIdx.map(_._2)
    def normal(dir: XY) = XY(-dir.y, dir.x)

    val miterLimit = 6.0
    val left = scala.collection.mutable.ArrayBuffer[XY]()
    val right = scala.collection.mutable.ArrayBuffer[XY]()

    // start caps from the first valid segment (:640-646)
    val p0 = clXY(validIdx.head)
    val n0 = normal(dirs.head)
    left += XY(p0.x + n0.x * halfW, p0.y + n0.y * halfW)
    right += XY(p0.x - n0.x * halfW, p0.y - n0.y * halfW)

    var k = 1
    while (k < dirs.length) {
      val pi = clXY(validIdx(k))
      val dPrev = dirs(k - 1); val dCurr = dirs(k)
      val nPrev = normal(dPrev); val nCurr = normal(dCurr)

      def joinSide(sign: Double): Seq[XY] = {
        val jp = XY(pi.x + sign * nPrev.x * halfW, pi.y + sign * nPrev.y * halfW)
        val jc = XY(pi.x + sign * nCurr.x * halfW, pi.y + sign * nCurr.y * halfW)
        lineIntersection(jp, dPrev, jc, dCurr) match {
          case Some(cand)
              if math.hypot(cand.x - pi.x, cand.y - pi.y) <= miterLimit * halfW =>
            Seq(cand) // miter
          case _ => Seq(jp, jc) // bevel (:672-678)
        }
      }

      val lj = joinSide(+1.0)
      val rj = joinSide(-1.0)
      if (compat) {
        // reference :680-686: the first join point REPLACES the previous
        // boundary point (consecutive miters collapse; start cap lost)
        left(left.length - 1) = lj.head
        if (lj.length > 1) left += lj(1)
        right(right.length - 1) = rj.head
        if (rj.length > 1) right += rj(1)
      } else {
        left ++= lj
        right ++= rj
      }
      k += 1
    }

    // end caps from the last valid segment (:688-693)
    val pEnd = clXY(validIdx.last + 1)
    val nLast = normal(dirs.last)
    left += XY(pEnd.x + nLast.x * halfW, pEnd.y + nLast.y * halfW)
    right += XY(pEnd.x - nLast.x * halfW, pEnd.y - nLast.y * halfW)

    // left boundary forward, right boundary backwards (:696)
    val ring = (left ++ right.reverse).toSeq
    if (looksZigzag(ring, widthM)) None
    else if (ring.head != ring.last) Some(ring :+ ring.head)
    else Some(ring)
  }

  /** Median of the first ≤20 edge lengths ≈ corridor width ⇒ the ring
    * alternates sides — broken polygon, use the rectangle (:698-711). */
  private def looksZigzag(ring: Seq[XY], widthM: Double): Boolean = {
    val sample = math.min(20, ring.length - 1)
    if (sample < 4) return false
    val dists = (0 until sample).map { i =>
      math.hypot(ring(i + 1).x - ring(i).x, ring(i + 1).y - ring(i).y)
    }.sorted
    val med =
      if (dists.length % 2 == 1) dists(dists.length / 2)
      else (dists(dists.length / 2 - 1) + dists(dists.length / 2)) / 2.0
    med > 0.5 * widthM && med < 3.0 * widthM
  }
}
