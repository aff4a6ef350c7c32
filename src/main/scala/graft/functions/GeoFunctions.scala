package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Geometry expression family — the engine replacement for the PostGIS
  * scalar functions the reference delegates to the database
  * (`ST_AsGeoJSON`/`ST_AsKML`/`ST_Envelope`,
  * `/root/reference/src/from-ground-up.js:73-90`) and for its client-side
  * KML geometry renderer (`Geometry` ctor, `:386-447`).
  *
  * Physical model: one uniform rank-4 coordinates array
  * `ARRAY<ARRAY<ARRAY<ARRAY<DOUBLE>>>>` tagged by `kind`:
  *  - Point        → coordinates(0)(0)(0) = [x, y]
  *  - LineString   → coordinates(0)(0)   = [[x,y], ...]
  *  - Polygon      → coordinates(0)      = rings (outer first, inner after —
  *                    the reference's outerBoundaryIs/innerBoundaryIs split,
  *                    `src/from-ground-up.js:399-431`)
  *  - MultiPolygon → coordinates          = polygons
  *
  * One physical type means geometry columns union/shuffle/group cleanly
  * (Spark can group by array columns), and every function below is a
  * composition of codegen'd built-ins (`transform`/`flatten`/`concat`) —
  * no UDFs, so geometry-heavy scans stay inside WholeStageCodegen.
  */
object GeoFunctions {

  val coordinatesType: ArrayType =
    ArrayType(ArrayType(ArrayType(ArrayType(DoubleType))))

  val geometryType: StructType = StructType(Seq(
    StructField("kind", StringType),
    StructField("coordinates", coordinatesType)))

  /** bbox struct produced by [[st_envelope]]. */
  val envelopeType: StructType = StructType(Seq(
    StructField("xmin", DoubleType), StructField("ymin", DoubleType),
    StructField("xmax", DoubleType), StructField("ymax", DoubleType)))

  // -- constructors -----------------------------------------------------------

  /** Point geometry from x/y columns. */
  def st_point(x: Column, y: Column): Column =
    struct(
      lit("Point").as("kind"),
      array(array(array(array(x.cast("double"), y.cast("double")))))
        .as("coordinates"))

  /** LineString from an ARRAY<ARRAY<DOUBLE>> of [x,y] pairs. */
  def st_linestring(points: Column): Column =
    struct(lit("LineString").as("kind"), array(array(points)).as("coordinates"))

  // -- accessors --------------------------------------------------------------

  private def kind(g: Column) = g.getField("kind")
  private def coords(g: Column) = g.getField("coordinates")

  /** All vertices of any geometry as ARRAY<ARRAY<DOUBLE>> ([x,y] pairs). */
  def st_points(g: Column): Column = flatten(flatten(coords(g)))

  def st_x(g: Column): Column = element_at(element_at(st_points(g), 1), 1)
  def st_y(g: Column): Column = element_at(element_at(st_points(g), 1), 2)

  /** Number of vertices. */
  def st_npoints(g: Column): Column = size(st_points(g))

  // -- serialization ----------------------------------------------------------

  /** GeoJSON text of the geometry — the engine's `ST_AsGeoJSON`
    * (reference delegates to PostGIS, `src/from-ground-up.js:80`).
    * Emits coordinates at the GeoJSON-correct nesting depth per kind. */
  def st_asgeojson(g: Column): Column = {
    def doc(coordsJson: Column): Column =
      concat(lit("""{"type":""""), kind(g), lit("""","coordinates":"""),
        coordsJson, lit("}"))
    when(kind(g) === "Point",
        doc(to_json(element_at(element_at(element_at(coords(g), 1), 1), 1))))
      .when(kind(g) === "LineString",
        doc(to_json(element_at(element_at(coords(g), 1), 1))))
      .when(kind(g) === "Polygon", doc(to_json(element_at(coords(g), 1))))
      .when(kind(g) === "MultiPolygon", doc(to_json(coords(g))))
      .otherwise(lit(null).cast("string"))
  }

  /** The one envelope pass: a single `aggregate` over `st_points(g)` keeps
    * a running (xmin, ymin, xmax, ymax) struct, null-initialised, with
    * `least`/`greatest` as the merge (both skip nulls and keep the first of
    * equal values, as `array_min`/`array_max` do), and `finish` renders the
    * caller's result from the final struct. Every envelope the engine
    * computes reads the vertices this once per row. */
  private[graft] def envelopeWith(g: Column)(finish: Column => Column): Column = {
    val empty = struct(envelopeType.map(f => lit(null).cast(DoubleType).as(f.name)): _*)
    aggregate(st_points(g), empty, (e, p) => struct(
        least(e.getField("xmin"), element_at(p, 1)).as("xmin"),
        least(e.getField("ymin"), element_at(p, 2)).as("ymin"),
        greatest(e.getField("xmax"), element_at(p, 1)).as("xmax"),
        greatest(e.getField("ymax"), element_at(p, 2)).as("ymax")),
      finish)
  }

  /** Envelope/bbox of any geometry — the engine's `ST_Envelope`
    * (`src/from-ground-up.js:87`): the [[envelopeWith]] fold, pure per-row
    * compute, no shuffle. An empty vertex list gives four null fields; a
    * null geometry gives a null envelope. */
  def st_envelope(g: Column): Column = envelopeWith(g)(identity)

  /** Envelope rendered as a closed GeoJSON Polygon ring (PostGIS-style
    * ST_Envelope output geometry): the same fold, the ring rendered from
    * its final struct. */
  def st_envelope_polygon(g: Column): Column = {
    def p(e: Column, x: String, y: String) = array(e.getField(x), e.getField(y))
    val rings = envelopeWith(g)(e => array(array(array(
      p(e, "xmin", "ymin"), p(e, "xmax", "ymin"), p(e, "xmax", "ymax"),
      p(e, "xmin", "ymax"), p(e, "xmin", "ymin")))))
    struct(lit("Polygon").as("kind"), rings.as("coordinates"))
  }

  // -- KML rendering (the reference's Geometry ctor, FGU:386-447) -------------

  private def kmlCoord(pt: Column): Column =
    concat(element_at(pt, 1).cast("string"), lit(","),
      element_at(pt, 2).cast("string"))

  private def kmlCoordList(pts: Column): Column =
    array_join(transform(pts, kmlCoord _), " ")

  private def kmlRing(ring: Column, tag: String): Column =
    concat(lit(s"<$tag><LinearRing><coordinates>"), kmlCoordList(ring),
      lit(s"</coordinates></LinearRing></$tag>"))

  private def kmlPolygon(rings: Column): Column = {
    // outer ring first; remaining rings are holes
    // (outerBoundaryIs / innerBoundaryIs, src/from-ground-up.js:399-431).
    val outer = kmlRing(element_at(rings, 1), "outerBoundaryIs")
    val inners = array_join(
      transform(slice(rings, 2, 1000000), r => kmlRing(r, "innerBoundaryIs")),
      "")
    concat(lit("<Polygon>"), outer, inners, lit("</Polygon>"))
  }

  /** KML fragment of the geometry — the engine's `ST_AsKML`
    * (reference: PostGIS `ST_AsKML` at `src/from-ground-up.js:73-79` +
    * client-side re-render `:386-447`). MultiPolygon becomes MultiGeometry
    * of Polygons, matching `:433-440` (which rejects non-polygon members). */
  def st_askml(g: Column): Column =
    when(kind(g) === "Point",
        concat(lit("<Point><coordinates>"),
          kmlCoord(element_at(element_at(element_at(coords(g), 1), 1), 1)),
          lit("</coordinates></Point>")))
      .when(kind(g) === "LineString",
        concat(lit("<LineString><coordinates>"),
          kmlCoordList(element_at(element_at(coords(g), 1), 1)),
          lit("</coordinates></LineString>")))
      .when(kind(g) === "Polygon", kmlPolygon(element_at(coords(g), 1)))
      .when(kind(g) === "MultiPolygon",
        concat(lit("<MultiGeometry>"),
          array_join(transform(coords(g), kmlPolygon _), ""),
          lit("</MultiGeometry>")))
      .otherwise(lit(null).cast("string"))

  /** Parse a KML geometry fragment back into the engine struct — the KML
    * *source* mirroring [[st_askml]] (F6: the reference xml-parses
    * `ST_AsKML` output into a geometry object, `src/from-ground-up.js:
    * 451-455` via fast-xml-parser). Accepts the canonical `ST_AsKML`
    * dialect this engine and PostGIS emit — Point/LineString/Polygon
    * (outerBoundaryIs + any innerBoundaryIs holes)/MultiGeometry-of-
    * Polygons; a `x,y,z` altitude term is dropped. Pure regex + HOF
    * composition of built-ins (no UDF, no XML library), inverse of
    * [[st_askml]] by the GeoFunctionsSpec round-trip property. */
  def st_geomfromkml(s: Column): Column = {
    // "x1,y1[,z1] x2,y2[,z2] ..." → ARRAY<ARRAY<DOUBLE>> of [x, y]
    def parsePts(cs: Column): Column =
      transform(split(trim(cs), "\\s+"),
        p => slice(transform(split(p, ","), c => c.cast("double")), 1, 2))
    def polygonRings(body: Column): Column = {
      val outer = regexp_extract(body,
        "<outerBoundaryIs><LinearRing><coordinates>(.*?)</coordinates>", 1)
      val inners = regexp_extract_all(body,
        lit("<innerBoundaryIs><LinearRing><coordinates>(.*?)</coordinates>"),
        lit(1))
      concat(array(parsePts(outer)), transform(inners, parsePts _))
    }
    val pointCs = regexp_extract(s,
      "<Point><coordinates>(.*?)</coordinates>", 1)
    val lineCs = regexp_extract(s,
      "<LineString><coordinates>(.*?)</coordinates>", 1)
    val polys = regexp_extract_all(s, lit("<Polygon>(.*?)</Polygon>"), lit(1))
    when(s.startsWith("<Point>"),
        struct(lit("Point").as("kind"),
          array(array(array(element_at(parsePts(pointCs), 1))))
            .as("coordinates")))
      .when(s.startsWith("<LineString>"),
        struct(lit("LineString").as("kind"),
          array(array(parsePts(lineCs))).as("coordinates")))
      .when(s.startsWith("<Polygon>"),
        struct(lit("Polygon").as("kind"),
          array(polygonRings(s)).as("coordinates")))
      .when(s.startsWith("<MultiGeometry>"),
        struct(lit("MultiPolygon").as("kind"),
          transform(polys, polygonRings _).as("coordinates")))
      .otherwise(lit(null).cast(geometryType))
  }

  /** Parse a GeoJSON geometry string into the engine struct — the engine
    * form of the reference's `JSON.parse(geometry)`
    * (`src/from-ground-up.js:188`). Accepts Point/LineString/Polygon/
    * MultiPolygon by re-nesting each to rank 4. */
  def st_geomfromgeojson(s: Column): Column = {
    val asMulti = from_json(s, StructType(Seq(
      StructField("type", StringType),
      StructField("coordinates", coordinatesType))))
    val asPoly = from_json(s, StructType(Seq(
      StructField("type", StringType),
      StructField("coordinates", ArrayType(ArrayType(ArrayType(DoubleType)))))))
    val asLine = from_json(s, StructType(Seq(
      StructField("type", StringType),
      StructField("coordinates", ArrayType(ArrayType(DoubleType))))))
    val asPoint = from_json(s, StructType(Seq(
      StructField("type", StringType),
      StructField("coordinates", ArrayType(DoubleType)))))
    val t = get_json_object(s, "$.type")
    when(t === "Point",
        struct(lit("Point").as("kind"),
          array(array(array(asPoint.getField("coordinates")))).as("coordinates")))
      .when(t === "LineString",
        struct(lit("LineString").as("kind"),
          array(array(asLine.getField("coordinates"))).as("coordinates")))
      .when(t === "Polygon",
        struct(lit("Polygon").as("kind"),
          array(asPoly.getField("coordinates")).as("coordinates")))
      .when(t === "MultiPolygon",
        struct(lit("MultiPolygon").as("kind"),
          asMulti.getField("coordinates").as("coordinates")))
      .otherwise(lit(null).cast(geometryType))
  }
}
