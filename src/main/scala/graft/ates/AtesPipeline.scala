package graft.ates

import scala.collection.immutable.SortedMap

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import graft.functions.GeoFunctions._
import graft.operators.Warnify
import graft.plans.BoundLong

/** The reference's three entry points (SURVEY §3 EP1-EP3), rebuilt as Spark
  * plans over the 7 ATES relations:
  *
  *  - [[featureCollection]] — EP2, `get_geojson`
  *    (`/root/reference/src/from-ground-up.js:302-369`)
  *  - [[kmlDocument]]/[[graft.sinks.KmzSink]] — EP1, `getKML`/`makeKMZStream`
  *    (`:635-925`, `:933-974`)
  *  - `geoJsonFeatures(tables, None)` — EP3, `getGeoJSONLD`
  *    (`src/mapboxing.js:171-334`; full scans, no WHERE, `:172-226`)
  *
  * Each of the six layers is defined once, in `layers`: its table, its
  * folder names, its GeoJSON properties and bbox flag, and its placemark.
  * Both formats are built from that list, and a layer's position in it is
  * its section in both documents (the reference's query-array index,
  * FGU:303-357).
  *
  * Execution shape: the reference runs 6 SQL queries concurrently
  * (`Promise.all`, FGU:285) then post-processes rows one at a time in JS;
  * here each layer is one declarative branch (scan → filter → project →
  * feature/placemark string column), the decision-points branch inserts the
  * warnify aggregation, and a document is the union of its branches: one
  * logical plan run by one action, filtered by `area_id = k` with `k` a
  * bound parameter, so every area reuses one set of compiled classes. The
  * per-area result is O(10²) rows, so it is ordered by (section, id) and
  * grouped into the document's sections on the driver rather than by a
  * distributed sort per request.
  */
object AtesPipeline {

  /** A layer's rows as one format renders them, from the tables and the
    * layer's scoped rows. */
  private type Rows = (Map[String, DataFrame], DataFrame) => DataFrame

  /** One ATES layer: its table, its folder names in English and French
    * (FGU:40-57, duplicated MBX:18-35), its GeoJSON properties and whether
    * its feature hoists a bounding box (FGU:196-199), and its placemark
    * (fields and style). Only decision points reshape their rows, each
    * format with its own warnify flavour. */
  private final case class Layer(table: String, en: String, fr: String,
      properties: Seq[Column], bbox: Boolean, placemark: Column,
      geoJsonRows: Rows = (_, df) => df, kmlRows: Rows = (_, df) => df)

  /** The six layers in query order (GeoJSON FGU:303-357, KML folders
    * FGU:865-922). */
  private val layers: Seq[Layer] = Seq(
    Layer("areas_vw", "Area", "Régions",
      Seq(col("id"), col("name")), bbox = true,
      placemark(styleFor("areas_vw"), name = col("name"))),
    Layer("points_of_interest", "Points of Interest", "Points d'intérêt",
      Seq(col("id"), col("area_id"), col("name"), normType(col("type")).as("type"),
        col("comments")), bbox = false,
      placemark(styleFor("points_of_interest", col("type"), Styles.poiStyleByType),
        name = col("name"), comments = col("comments"), typ = col("type"))),
    Layer("access_roads", "Access Roads", "Routes d'accès",
      Seq(col("id"), col("area_id"), col("description")), bbox = false,
      placemark(styleFor("access_roads"), comments = col("description"))),
    Layer("avalanche_paths", "Avalanche Paths", "Couloirs d'avalanche",
      Seq(col("id"), col("area_id"), col("name")), bbox = false,
      placemark(styleFor("avalanche_paths"), name = col("name"))),
    // decision_points ⋈ warnings → warnify (FGU:287-289, :327-347). The
    // warnings side is a per-point detail table: broadcast the smaller
    // side; at 100 TB this is the one branch that shuffles (by geometry).
    Layer("decision_points", "Decision Points", "point de décision",
      Seq(col("id"), col("name"), col("area_id"), col("comments"), col("warnings")),
      bbox = false,
      placemark(styleFor("decision_points"), name = col("name"),
        description = col("description")),
      geoJsonRows = (tables, dp) => Warnify.geoJson(withWarnings(tables, dp),
          geom = col("dp.geom"), typeCol = normType(col("dpw.type")),
          warning = col("dpw.warning"), carry = Seq("id", "name", "area_id", "comments"))
        .withColumnRenamed("geometry", "geom"),
      kmlRows = (tables, dp) => Warnify.kml(withWarnings(tables, dp),
          geom = col("dp.geom"), typeCol = col("dpw.type"),
          warning = col("dpw.warning"), idCol = col("dp.id"))
        .withColumnRenamed("geometry", "geom")),
    Layer("zones", "Zones", "Zones",
      Seq(col("id"), col("area_id"), col("class_code"), col("comments")), bbox = true,
      placemark(styleFor("zones", col("class_code"), Styles.zoneStyleByClass),
        comments = col("comments"), classCode = col("class_code").cast("string"))))

  private val byTable: Map[String, Layer] = layers.map(l => l.table -> l).toMap

  /** Bilingual display names (FGU:40-57, duplicated MBX:18-35). */
  def displayName(table: String, lang: String): String =
    byTable.get(table).fold(table)(l => if (lang == "fr") l.fr else l.en)

  /** XML text-node escape for KML fields. */
  private def xmlEscape(c: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(c, "&", "&amp;"), "<", "&lt;"),
      ">", "&gt;")

  /** One table's rows for one area, or every row for `None`. `areas_vw` is
    * keyed by its own id, every other table by `area_id`. The area is a
    * [[BoundLong]], not a literal, so every area's document compiles to the
    * same generated code. */
  private def scoped(tables: Map[String, DataFrame], table: String,
      areaId: Option[Long]): DataFrame = {
    val key = if (table == "areas_vw") "id" else "area_id"
    areaId.fold(tables(table))(a =>
      tables(table).filter(col(key) === ColumnBridge.column(BoundLong(a))))
  }

  /** decision_points ⋈ decision_points_warnings (FGU:327-347), aliased
    * `dp`/`dpw`: the input of both warnify flavours. */
  private def withWarnings(tables: Map[String, DataFrame], dp: DataFrame): DataFrame =
    dp.alias("dp").join(tables("decision_points_warnings").alias("dpw"),
      col("dpw.decision_point_id") === col("dp.id"), "inner")

  /** Runs a (section, id, text) frame as one action and returns each
    * section's texts in id order (nulls first, Spark's ascending order). */
  private def sections(df: DataFrame): SortedMap[Int, Seq[String]] =
    df.collect().toSeq
      .sortBy(r => (r.getInt(0), Option.when(!r.isNullAt(1))(r.getLong(1))))
      .groupMap(_.getInt(0))(_.getString(2))
      .to(SortedMap)

  // -------------------------------------------------------------------------
  // GeoJSON side (EP2/EP3)
  // -------------------------------------------------------------------------

  /** Feature JSON column (FGU:185-207): geometry embedded unescaped,
    * optional hoisted bounding_box (FGU:196-199), `properties.type`
    * normalized (FGU:201-202), provenance `table` tag (FGU:206). Nulls kept
    * in properties like `JSON.stringify` does. */
  private def featureJson(table: String, propCols: Seq[Column],
      withBbox: Boolean): Column = {
    val props = to_json(
      struct(propCols :+ lit(table).as("table"): _*),
      Map("ignoreNullFields" -> "false"))
    val bbox =
      if (withBbox)
        concat(lit(""""bounding_box":"""),
          st_asgeojson(st_envelope_polygon(col("geom"))), lit(","))
      else lit("")
    concat(lit("""{"type":"Feature","geometry":"""), st_asgeojson(col("geom")),
      lit(","), bbox, lit(""""properties":"""), props, lit("}"))
  }

  private def normType(c: Column): Column = lower(regexp_replace(c, " ", "-"))

  /** The 6-layer GeoJSON feature set. Pass `areaId = None` for the
    * mapboxing full-scan variant (MBX:172-226). Returns (qidx, table, id,
    * feature-JSON string), `qidx` the layer's position. */
  def geoJsonFeatures(tables: Map[String, DataFrame],
      areaId: Option[Long]): DataFrame =
    layers.zipWithIndex.map { case (l, i) =>
      l.geoJsonRows(tables, scoped(tables, l.table, areaId))
        .select(lit(i).as("qidx"), lit(l.table).as("table"), col("id"),
          featureJson(l.table, l.properties, l.bbox).as("feature"))
    }.reduce(_.unionByName(_))

  /** EP2: the single FeatureCollection document (FGU:212-215, :291-294,
    * :362-368), features in (qidx, id) order — the engine form of the
    * reference's query-array-then-row order. */
  def featureCollection(tables: Map[String, DataFrame], areaId: Long): String = {
    val feats = sections(geoJsonFeatures(tables, Some(areaId))
      .select(col("qidx"), col("id"), col("feature"))).values.flatten
    s"""{"type":"FeatureCollection","features":[${feats.mkString(",")}]}"""
  }

  // -------------------------------------------------------------------------
  // KML side (EP1)
  // -------------------------------------------------------------------------

  /** Placemark fragment column (FGU:791-861): ordered children —
    * geometry, name?, description(comments)?, description(description)?,
    * description(type)?, ExtendedData(class_code)?, styleUrl. */
  private def placemark(style: Column,
      name: Column = lit(null).cast("string"),
      comments: Column = lit(null).cast("string"),
      description: Column = lit(null).cast("string"),
      typ: Column = lit(null).cast("string"),
      classCode: Column = lit(null).cast("string")): Column = {

    def opt(c: Column, render: Column): Column =
      when(c.isNotNull, render).otherwise(lit(""))

    concat(
      lit("<Placemark>"),
      st_askml(col("geom")),
      opt(name, concat(lit("<name>"), xmlEscape(name), lit("</name>"))),
      opt(comments,
        concat(lit("<description>"), xmlEscape(comments), lit("</description>"))),
      opt(description,
        // HTML popups (warnify) are entity-escaped text in the XML, like the
        // reference's xml() pickling does to {description} (FGU:816-818).
        concat(lit("<description>"), xmlEscape(description), lit("</description>"))),
      opt(typ, concat(lit("<description>"), xmlEscape(typ), lit("</description>"))),
      opt(classCode,
        concat(lit("<ExtendedData><class_code>"), classCode,
          lit("</class_code></ExtendedData>"))),
      lit("""<styleUrl>#"""), style, lit("</styleUrl>"),
      lit("</Placemark>"))
  }

  /** A layer's style id (FGU:844-858): the id `byKey` gives the row's `key`,
    * else the table's catalog default — the literal-dimension lookup join
    * of SURVEY §2.3 J4. */
  private def styleFor(table: String, key: Column = lit(null),
      byKey: Map[_, String] = Map.empty[Any, String]): Column =
    coalesce(
      byKey.foldLeft(lit(null).cast("string")) { case (acc, (k, v)) =>
        when(key === k, lit(v)).otherwise(acc) },
      lit(Styles.tableStyle(table)))

  /** Per-layer placemark DataFrames in folder order (KML query set
    * FGU:865-922), each (id, placemark-string). */
  def kmlPlacemarks(tables: Map[String, DataFrame], areaId: Long)
      : Seq[(String, DataFrame)] =
    layers.map(l => l.table ->
      l.kmlRows(tables, scoped(tables, l.table, Some(areaId)))
        .select(col("id"), l.placemark.as("pm")))

  /** EP1: assemble the full KML document string (newDocument/newFolder
    * FGU:579-600; doc name = areas_vw first row name, FGU:610-612). The
    * reference appends Document `<name>` after folders and styles — we emit
    * name first (valid-KML order; content identical). */
  def kmlDocument(tables: Map[String, DataFrame], areaId: Long,
      lang: String = "en", iconNumber: Int = 11,
      iconDir: String = "files"): String =
    kmlDocumentAndKnown(tables, areaId, lang, iconNumber, iconDir)._1

  /** [[kmlDocument]], and whether `areas_vw` has a row for the area. The
    * six folders and the doc name are one union, sections 0-5 and -1, run
    * as one action; an unknown area is one whose doc-name section is
    * empty (its document has an empty name and empty folders). */
  private[ates] def kmlDocumentAndKnown(tables: Map[String, DataFrame],
      areaId: Long, lang: String, iconNumber: Int = 11,
      iconDir: String = "files"): (String, Boolean) = {

    val docName = scoped(tables, "areas_vw", Some(areaId))
      .select(lit(-1).as("section"), col("id"), xmlEscape(col("name")))
    val texts = sections(kmlPlacemarks(tables, areaId).zipWithIndex.foldLeft(docName) {
      case (doc, ((_, df), i)) =>
        doc.union(df.select(lit(i).as("section"), col("id"), col("pm")))
    })
    def section(i: Int) = texts.getOrElse(i, Nil)
    val name = section(-1).headOption

    val folders = layers.zipWithIndex.map { case (l, i) =>
      s"<Folder><name>${displayName(l.table, lang)}</name>${section(i).mkString}</Folder>"
    }.mkString

    val styles = Styles.all(iconDir, iconNumber).mkString

    (s"""<?xml version="1.0" encoding="UTF-8"?>""" +
      """<kml xmlns="http://www.opengis.net/kml/2.2"""" +
      """ xmlns:gx="http://www.google.com/kml/ext/2.2">""" +
      s"<Document><name>${name.getOrElse("")}</name>$styles$folders</Document></kml>",
      name.isDefined)
  }
}
