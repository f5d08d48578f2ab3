package graft.serve

import graft.core.Geom
import graft.ops.FeatureCollection
import graft.sql.SparkTestBase

/** Plotting surface parity (plotting.py): head-200 rule, envelope
  * fit_bounds in (lat, lon) order, per-feature style injection, empty
  * contract, raster tile-layer wiring — all on the emitted HTML string. */
class PlotSpec extends SparkTestBase {
  import spark.implicits._

  private def fcOf(rows: Seq[(Array[Byte], String)]): FeatureCollection =
    new FeatureCollection(rows.toDF("geom", "properties"))

  private val pts = Seq(
    (Geom.toWkb(Geom.GPoint(10.5, 20.25)), """{"name": "a"}"""),
    (Geom.toWkb(Geom.GPoint(-3.0, 4.0)), """{"name": "b"}"""),
    (Geom.toWkb(Geom.polygon((0.0, 0.0), (2.0, 0.0), (2.0, 2.0), (0.0, 2.0))), "{}"))

  test("simple_plot: inline GeoJSON layer + envelope fitBounds in (lat, lon) order") {
    val html = Plot.simplePlot(fcOf(pts))
    assert(html.contains("leaflet@1.9.4") && html.contains("cartocdn"))
    assert(html.contains(""""name": "a"""") || html.contains(""""name":"a""""))
    // envelope of the three geometries: x [-3, 10.5], y [0, 20.25]
    assert(html.contains("fitBounds([[0.0, -3.0], [20.25, 10.5]])"), html)
    // embedded document round-trips through the engine's own GeoJSON codec
    val json = Plot.featureCollectionJson(fcOf(pts))
    val GeomRe = """"geometry": (\{[^}]*\})""".r
    val geoms = GeomRe.findAllMatchIn(json).map(_.group(1)).toSeq
    assert(geoms.size === 3)
    assert(Geom.fromGeoJson(geoms.head).bbox.xmin === 10.5)
  }

  test("head-200: a 250-feature collection plots exactly 200 features") {
    val many = (0 until 250).map(i =>
      (Geom.toWkb(Geom.GPoint(i.toDouble / 10, 0.0)), s"""{"i": $i}"""))
    val json = Plot.featureCollectionJson(fcOf(many))
    assert(""""type": "Feature"""".r.findAllIn(json).size === Plot.SimplePlotMaxRows)
    // the cap is context-overridable (GraftContext = TelluricContext parity)
    val html = graft.core.GraftContext.scoped("plot.max_rows" -> 3) {
      Plot.simplePlot(fcOf(many))
    }
    assert(""""type": "Feature"""".r.findAllIn(html).size === 3)
  }

  test("style_element: computed style merges into each feature's properties") {
    val styled = Plot.featureCollectionJson(fcOf(pts), styleFor =
      p => if (p.contains(""""name": "a"""")) """{"color": "red"}""" else """{"color": "gray"}""")
    assert(styled.contains(""""name": "a", "style": {"color": "red"}"""))
    assert(styled.contains(""""properties": {"style": {"color": "gray"}}"""))
    // still one style per feature, geometry untouched
    assert(""""style"""".r.findAllIn(styled).size === 3)
    // NESTED properties survive intact (the reason styles merge at
    // emission, not via a post-hoc regex over the document)
    val nested = Seq((Geom.toWkb(Geom.GPoint(1.0, 2.0)),
      """{"meta": {"x": 1}, "name": "n"}"""))
    val s2 = Plot.featureCollectionJson(fcOf(nested), styleFor = _ => """{"w": 2}""")
    assert(s2.contains(""""meta": {"x": 1}, "name": "n", "style": {"w": 2}}"""))
  }

  test("empty collection: bare map with the empty marker, no layer (plotting.py:55-57)") {
    val html = Plot.simplePlot(fcOf(Seq.empty))
    assert(html.contains("empty geometry") && !html.contains("L.geoJSON"))
  }

  test("raster plot emits the engine tile-server layer template") {
    val html = Plot.rasterPlot("http://localhost:8123", "r1", (1.0, 2.0, 3.0, 4.0))
    assert(html.contains("http://localhost:8123/r1/{x}/{y}/{z}.png"))
    assert(html.contains("fitBounds([[2.0, 1.0], [4.0, 3.0]])"))
  }
}
