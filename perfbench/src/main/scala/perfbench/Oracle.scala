package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Reference computations made apart from the program under test: no
  * `graft.*` import. Each output check compares the program's answer with
  * one of these. */
object Oracle {

  /** One ring in degrees; `unwrap` marks a ring with an edge wider than
    * 180 deg of longitude, whose negative longitudes (and those of every
    * tested point) are shifted by +360 so the ring is planar again. */
  final class Ring(val lat: Array[Double], val lng: Array[Double], val unwrap: Boolean) {
    val (minLat, maxLat, minLng, maxLng) =
      (lat.min, lat.max, lng.min, lng.max)

    /** Planar even-odd ray cast. */
    def contains(pLat: Double, pLng0: Double): Boolean = {
      val pLng = if (unwrap && pLng0 < 0) pLng0 + 360.0 else pLng0
      if (pLat < minLat || pLat > maxLat || pLng < minLng || pLng > maxLng) return false
      var inside = false
      var j = lat.length - 1
      var i = 0
      while (i < lat.length) {
        if ((lat(i) > pLat) != (lat(j) > pLat)) {
          val x = (lng(j) - lng(i)) * (pLat - lat(i)) / (lat(j) - lat(i)) + lng(i)
          if (pLng < x) inside = !inside
        }
        j = i
        i += 1
      }
      inside
    }
  }

  final class Polygon(val outer: Ring, val holes: Seq[Ring]) {
    def contains(pLat: Double, pLng: Double): Boolean =
      outer.contains(pLat, pLng) && !holes.exists(_.contains(pLat, pLng))
  }

  private def ring(coords: JsonNode): Ring = {
    var pts = (0 until coords.size).map(i => (coords.get(i).get(1).asDouble, coords.get(i).get(0).asDouble))
    if (pts.size > 1 && pts.head == pts.last) pts = pts.init
    val lats = pts.map(_._1).toArray
    val lngs = pts.map(_._2).toArray
    val wide = lngs.indices.exists(i => Math.abs(lngs(i) - lngs((i + 1) % lngs.length)) > 180.0)
    new Ring(lats, if (wide) lngs.map(x => if (x < 0) x + 360.0 else x) else lngs, wide)
  }

  /** Polygons of a GeoJSON Polygon / MultiPolygon / Feature document. */
  def parseGeoJson(text: String): Seq[Polygon] = {
    def geometry(n: JsonNode): JsonNode =
      if (n.has("geometry")) n.get("geometry") else n
    val g = geometry(new ObjectMapper().readTree(text))
    def poly(rings: JsonNode): Polygon =
      new Polygon(ring(rings.get(0)), (1 until rings.size).map(i => ring(rings.get(i))))
    val coords = g.get("coordinates")
    g.get("type").asText match {
      case "Polygon" => Seq(poly(coords))
      case "MultiPolygon" => (0 until coords.size).map(i => poly(coords.get(i)))
      case t => throw new IllegalArgumentException(s"unsupported GeoJSON type $t")
    }
  }

  /** Points inside each open axis-aligned rectangle (id, south, west,
    * north, east); generated points never sit on an edge, so the boundary
    * convention does not matter. */
  def rectCounts(rects: Seq[(Long, Double, Double, Double, Double)],
                 lats: Array[Double], lngs: Array[Double]): Map[Long, Long] = {
    val (s, w, n, e) = (rects.map(_._2).toArray, rects.map(_._3).toArray,
      rects.map(_._4).toArray, rects.map(_._5).toArray)
    val counts = new Array[Long](rects.length)
    var i = 0
    while (i < lats.length) {
      var r = 0
      while (r < counts.length) {
        if (lats(i) > s(r) && lats(i) < n(r) && lngs(i) > w(r) && lngs(i) < e(r)) counts(r) += 1
        r += 1
      }
      i += 1
    }
    rects.indices.map(r => rects(r)._1 -> counts(r)).toMap
  }

  /** Radius of the H3 authalic sphere, km. */
  val EarthRadiusKm = 6371.007180918475

  /** Haversine great-circle distance in metres. */
  def haversineM(lat1: Double, lng1: Double, lat2: Double, lng2: Double): Double = {
    val (p1, p2) = (Math.toRadians(lat1), Math.toRadians(lat2))
    val dp = p2 - p1
    val dl = Math.toRadians(lng2 - lng1)
    val a = Math.pow(Math.sin(dp / 2), 2) +
      Math.cos(p1) * Math.cos(p2) * Math.pow(Math.sin(dl / 2), 2)
    2 * EarthRadiusKm * 1000.0 * Math.asin(Math.min(1.0, Math.sqrt(a)))
  }

  /** The k smallest haversine distances from (qLat, qLng) over a corpus. */
  def topKDistances(qLat: Double, qLng: Double, lats: Array[Double],
                    lngs: Array[Double], k: Int): Array[Double] = {
    val heap = new java.util.PriorityQueue[java.lang.Double](k + 1,
      java.util.Collections.reverseOrder[java.lang.Double]())
    var i = 0
    while (i < lats.length) {
      val d = haversineM(qLat, qLng, lats(i), lngs(i))
      if (heap.size < k) heap.add(d)
      else if (d < heap.peek) { heap.poll(); heap.add(d) }
      i += 1
    }
    heap.toArray.map(_.asInstanceOf[java.lang.Double].doubleValue).sorted
  }

  // ---- H3 bit layout ----------------------------------------------------
  // bits 52..55: resolution; bits 0..44: fifteen 3-bit digits, digit r at
  // bits 3*(15-r) .. 3*(15-r)+2; unused digits are all ones (7).

  def resolution(cell: Long): Int = ((cell >>> 52) & 0xf).toInt

  /** Cells per parent at `res`. */
  def parentCounts(cells: Array[Long], res: Int): Map[Long, Long] = {
    val m = new java.util.HashMap[Long, Long]()
    cells.foreach(c => m.merge(parent(c, res), 1L, (a: Long, b: Long) => a + b))
    import scala.jdk.CollectionConverters._
    m.asScala.toMap
  }

  /** Parent of `cell` at `res`, from the bit layout alone. */
  def parent(cell: Long, res: Int): Long = {
    val r = resolution(cell)
    require(res <= r, s"parent res $res above cell res $r")
    var out = (cell & ~(0xfL << 52)) | (res.toLong << 52)
    var d = res + 1
    while (d <= 15) {
      out |= 7L << (3 * (15 - d))
      d += 1
    }
    out
  }
}
