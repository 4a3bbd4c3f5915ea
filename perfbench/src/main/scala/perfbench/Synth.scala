package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The benchmark's own input generator. Every point is a pure function of
  * its id, written twice: as Spark SQL (executor side, so generation is a
  * codegen scan and not driver serialization) and as plain Scala (driver
  * side, for the independent checks). `ChecksSpec` pins the two together.
  *
  * Mix, by `id % 100`:
  *  - 0..79: city clusters of +-0.2 deg around 40 cities; two fifths of
  *    them land in the 4 Paris-region cities (hot res-9 cells);
  *  - 80..94: uniform on the sphere;
  *  - 95..99: +-0.001 deg strips either side of the antimeridian.
  *
  * The arithmetic stays inside signed 64-bit range for every id below
  * 2^33, so the SQL form runs unchanged under ANSI mode. */
object Synth {

  val CityLat: Array[Double] = Array(
    48.8566, 48.8666, 48.8466, 48.8766,
    40.7128, 34.0522, 51.5074, 35.6762, 19.4326, -23.5505,
    55.7558, 39.9042, 28.6139, -33.8688, 37.7749, 41.8781,
    52.5200, 45.4642, 40.4168, 59.3293, 50.0755, 47.4979,
    38.7223, 53.3498, 59.9139, 60.1699, 64.1466, -34.6037,
    -12.0464, 4.7110, 31.2304, 22.3193, 1.3521, -6.2088,
    13.7563, 14.5995, 30.0444, 6.5244, -1.2921, -26.2041)

  val CityLng: Array[Double] = Array(
    2.3522, 2.3622, 2.3422, 2.3722,
    -74.0060, -118.2437, -0.1278, 139.6503, -99.1332, -46.6333,
    37.6173, 116.4074, 77.2090, 151.2093, -122.4194, -87.6298,
    13.4050, 9.1900, -3.7038, 18.0686, 14.4378, 19.0402,
    -9.1393, -6.2603, 10.7522, 24.9384, -21.9426, -58.3816,
    -77.0428, -74.0721, 121.4737, 114.1694, 103.8198, 106.8456,
    100.5018, 120.9842, 31.2357, 3.3792, 36.8219, 28.0473)

  private val Mod = 2147483648L

  /** First id of a seed's id range: spreads seeds over [0, 2^31). */
  def idOffset(seed: Long): Long = Math.floorMod(seed * 2654435761L, Mod)

  // ---- Scala form -------------------------------------------------------

  def u1(id: Long): Double =
    (((id * 1103515245L + 12345L) % Mod) * 1103515245L + 12345L) % Mod / Mod.toDouble

  def u2(id: Long): Double =
    (((id * 69069L + 12345L) % Mod) * 69069L + 1L) % Mod / Mod.toDouble

  def city(id: Long): Int =
    if (id % 5 < 2) (id % 4).toInt else 4 + ((id / 5) % 36).toInt

  def lat(id: Long): Double = {
    val m = id % 100
    if (m < 80) CityLat(city(id)) + (u1(id) - 0.5) * 0.4
    else if (m < 95) Math.toDegrees(Math.asin(2 * u1(id) - 1))
    else (u1(id) - 0.5) * 160.0
  }

  def lng(id: Long): Double = {
    val m = id % 100
    if (m < 80) CityLng(city(id)) + (u2(id) - 0.5) * 0.4
    else if (m < 95) u2(id) * 360.0 - 180.0
    else if (id % 2 == 0) 179.999 - u2(id) * 0.002
    else -179.999 + u2(id) * 0.002
  }

  // ---- SQL form (same arithmetic, same evaluation order) ----------------

  private def u1Sql(id: String) =
    s"((((($id * 1103515245 + 12345) % $Mod) * 1103515245 + 12345) % $Mod) / CAST($Mod AS DOUBLE))"
  private def u2Sql(id: String) =
    s"((((($id * 69069 + 12345) % $Mod) * 69069 + 1) % $Mod) / CAST($Mod AS DOUBLE))"
  private def citySql(id: String) =
    s"(CASE WHEN $id % 5 < 2 THEN CAST($id % 4 AS INT) ELSE 4 + CAST(($id DIV 5) % 36 AS INT) END)"
  private def arr(v: Array[Double]) = v.map(d => s"CAST($d AS DOUBLE)").mkString("array(", ", ", ")")

  def latSql(id: String): String =
    s"""(CASE
      WHEN $id % 100 < 80 THEN element_at(${arr(CityLat)}, ${citySql(id)} + 1) + (${u1Sql(id)} - 0.5) * 0.4
      WHEN $id % 100 < 95 THEN degrees(asin(2 * ${u1Sql(id)} - 1))
      ELSE (${u1Sql(id)} - 0.5) * 160.0
    END)"""

  def lngSql(id: String): String =
    s"""(CASE
      WHEN $id % 100 < 80 THEN element_at(${arr(CityLng)}, ${citySql(id)} + 1) + (${u2Sql(id)} - 0.5) * 0.4
      WHEN $id % 100 < 95 THEN ${u2Sql(id)} * 360.0 - 180.0
      WHEN $id % 2 = 0 THEN 179.999 - ${u2Sql(id)} * 0.002
      ELSE -179.999 + ${u2Sql(id)} * 0.002
    END)"""

  /** Points `id in [from, from + n)` with columns id, lat, lng. */
  def points(spark: SparkSession, from: Long, n: Long, parts: Int): DataFrame =
    spark.range(from, from + n, 1, parts)
      .selectExpr("id", s"${latSql("id")} AS lat", s"${lngSql("id")} AS lng")

  // ---- other inputs -----------------------------------------------------

  /** 200 geofence rectangles of 0.1 x 0.1 deg: (id, south, west, north, east). */
  val Rects: IndexedSeq[(Long, Double, Double, Double, Double)] =
    (0 until 200).map { i =>
      val cLat = CityLat(i % 40) + (i / 40) * 0.02
      val cLng = CityLng(i % 40) + (i / 40) * 0.02
      (i.toLong, cLat - 0.05, cLng - 0.05, cLat + 0.05, cLng + 0.05)
    }

  def rectGeoJson(r: (Long, Double, Double, Double, Double)): String = {
    val (_, s, w, n, e) = r
    s"""{"type":"Polygon","coordinates":[[[$w,$s],[$e,$s],[$e,$n],[$w,$n],[$w,$s]]]}"""
  }

  /** A localized 200-query kNN batch: a 20 x 10 grid of 0.002 deg steps
    * around a Paris-region centre that the seed and batch pick. */
  def localQueries(seed: Long, batch: Int): IndexedSeq[(Long, Double, Double)] = {
    val h = idOffset(seed * 1009 + batch)
    val cLat = 48.8566 + (u1(h) - 0.5) * 0.2
    val cLng = 2.3522 + (u2(h) - 0.5) * 0.2
    (0 until 200).map { i =>
      (i.toLong, cLat + (i / 20 - 4.5) * 0.002, cLng + (i % 20 - 9.5) * 0.002)
    }
  }

  /** A dispersed 200-query batch drawn from the point mix itself. */
  def globalQueries(seed: Long, batch: Int): IndexedSeq[(Long, Double, Double)] = {
    val from = idOffset(seed * 7919 + 1000003L * (batch + 1))
    (0 until 200).map(i => (i.toLong, lat(from + i), lng(from + i)))
  }
}
