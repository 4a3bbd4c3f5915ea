package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** Each output check must pass on the right answer and fail on a
  * deliberately wrong one: a check that cannot fail shows nothing. */
class ChecksSpec extends AnyFunSuite {

  private val ids = (1000L until 3000L).toArray
  private val lats = ids.map(Synth.lat)
  private val lngs = ids.map(Synth.lng)

  test("the SQL and Scala forms of the generator agree") {
    val spark = org.apache.spark.sql.SparkSession.builder().master("local[1]")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      val got = Synth.points(spark, ids.head, ids.length, 2).collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
      assert(got.toSeq == ids.indices.map(i => (ids(i), lats(i), lngs(i))))
    } finally spark.stop()
  }

  test("the point mix has its city, uniform and antimeridian shares") {
    val strip = lngs.count(x => math.abs(x) > 179.99)
    assert(strip == ids.length / 20)
    assert(ids.count(i => i % 100 < 80 && Synth.city(i) < 4) == ids.length * 32 / 100)
  }

  test("PIP join rows: one joined row dropped fails") {
    val paris = Oracle.parseGeoJson(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("shapes/Paris.geojson")), "UTF-8"))
    val joined = ids.indices.filter(i => paris.exists(_.contains(lats(i), lngs(i)))).map(i => (ids(i), 1L))
    assert(joined.nonEmpty)
    assert(Checks.rows("pip", joined, joined.reverse).ok)
    assert(!Checks.rows("pip", joined, joined.tail).ok)
  }

  test("ray cast: antimeridian rings are unwrapped, holes are excluded") {
    val tm = Oracle.parseGeoJson("""{"type":"Polygon","coordinates":[[[179,-1],[-179,-1],[-179,1],[179,1],[179,-1]]]}""").head
    assert(tm.contains(0, 179.5) && tm.contains(0, -179.5) && !tm.contains(0, 0))
    val holed = Oracle.parseGeoJson("""{"type":"Polygon","coordinates":[[[0,0],[10,0],[10,10],[0,10],[0,0]],[[4,4],[6,4],[6,6],[4,6],[4,4]]]}""").head
    assert(holed.contains(1, 1) && !holed.contains(5, 5) && !holed.contains(11, 5))
  }

  test("geofence counts: one count off by one fails") {
    val want = Oracle.rectCounts(Synth.Rects, lats, lngs)
    assert(want.values.sum > 0)
    val k = want.find(_._2 > 0).get._1
    assert(Checks.counts("fence", want, want).ok)
    assert(!Checks.counts("fence", want, want.updated(k, want(k) - 1)).ok)
  }

  test("bit-layout parents agree with the cell's own digits") {
    // 8928308280fffff is res 9; its res-5 parent is 85283083fffffff.
    assert(Oracle.parent(java.lang.Long.parseUnsignedLong("8928308280fffff", 16), 5) ==
      java.lang.Long.parseUnsignedLong("85283083fffffff", 16))
  }

  test("pyramid tiles: one tile count off by one fails, and so does a level that misses N") {
    val cells = Array(0x8928308280fffffL, 0x8928308280bffffL, 0x89283082807ffffL)
    val want = Map(5 -> Oracle.parentCounts(cells, 5), 3 -> Oracle.parentCounts(cells, 3))
    assert(Checks.pyramid("tiles", 3, want, want).ok)
    val (tile, c) = want(5).head
    assert(!Checks.pyramid("tiles", 3, want, want.updated(5, want(5).updated(tile, c + 1))).ok)
    assert(!Checks.pyramid("tiles", 4, want, want).ok)
  }

  test("kNN distances: one perturbed distance fails") {
    val want = Map(7L -> Oracle.topKDistances(48.85, 2.35, lats, lngs, 10))
    assert(Checks.distances("knn", want, want, 1e-3).ok)
    val bad = want(7L).clone()
    bad(4) += 0.01
    assert(!Checks.distances("knn", want, Map(7L -> bad), 1e-3).ok)
    assert(!Checks.distances("knn", want, Map(7L -> want(7L).tail), 1e-3).ok)
  }

  test("haversine on the authalic sphere: a quarter meridian") {
    assert(math.abs(Oracle.haversineM(0, 0, 90, 0) - math.Pi / 2 * Oracle.EarthRadiusKm * 1000) < 1e-6)
  }

  test("scans: one row missing fails, and so does a wrong closed form") {
    val rows = ids.toSeq
    assert(Checks.rows("scan", rows, rows).ok)
    assert(!Checks.rows("scan", rows, rows.init).ok)
    assert(!Checks.equal("count", rows.length.toLong, rows.length - 1L).ok)
  }
}
