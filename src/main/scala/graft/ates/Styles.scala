package graft.ates

/** KML style catalog — the engine form of the reference's style layer
  * (`/root/reference/src/from-ground-up.js:644-787`): a dimension lookup
  * table (table [× type | × class_code] → style id) plus the rendered
  * `<Style>` header blocks.
  *
  * Colors are authored rrggbbaa (as in the reference, `:712-787`) and
  * converted to KML's aabbggrr by **byte-pair** reversal — the intended
  * semantics of the reference's char-wise string reverse (`:685-694`), which
  * for e.g. `ffc107ff` yields `ff701cff` instead of the correct `ff07c1ff`;
  * SURVEY §2.8 F2 records the quirk and the engine implements the intent.
  */
object Styles {

  val LineWidth = 3
  val PoiColor = "000000ff"
  val FullTransparent = "00000000"
  val DpColor = "ffc107ff"

  /** rrggbbaa → aabbggrr. */
  def kmlColor(rgba: String): String = {
    require(rgba.length == 8, s"expected 8 hex chars, got '$rgba'")
    rgba.grouped(2).toSeq.reverse.mkString
  }

  /** Style-id lookup (FGU:644-664). */
  val zoneStyleByClass: Map[Int, String] = Map(
    1 -> "zone_green_style", 2 -> "zone_blue_style", 3 -> "zone_black_style")
  val poiStyleByType: Map[String, String] = Map(
    "Other" -> "point_of_interest_other_styles",
    "Parking" -> "point_of_interest_parking_styles",
    "Rescue Cache" -> "point_of_interest_rescue_cache_styles",
    "Cabin" -> "point_of_interest_cabin_styles",
    "Destination" -> "point_of_interest_destination_styles",
    "Lake" -> "point_of_interest_lake_styles",
    "Mountain" -> "point_of_interest_mountain_styles")
  /** Each table's default style id. Tables styled per type or per class
    * get a defined catalog default too: the reference's fallback would emit
    * an unresolvable styleUrl for an unknown type. */
  val tableStyle: Map[String, String] = Map(
    "areas_vw" -> "area_styles",
    "points_of_interest" -> "point_of_interest_other_styles",
    "access_roads" -> "access_road_styles",
    "avalanche_paths" -> "avalanche_path_styles",
    "decision_points" -> "decision_point_styles",
    "zones" -> "area_styles")

  /** Icon href template (FGU:673-678). */
  def iconHref(iconDir: String, iconNumber: Int, icon: String): String =
    s"$iconDir-$iconNumber/new-$icon-$iconNumber.png"

  private def polyStyle(id: String, rgba: String): String =
    s"""<Style id="$id"><PolyStyle><color>${kmlColor(rgba)}</color></PolyStyle></Style>"""

  private def lineStyle(id: String, rgba: String, extra: String = ""): String =
    s"""<Style id="$id"><LineStyle><width>$LineWidth</width><color>${kmlColor(rgba)}</color>$extra</LineStyle></Style>"""

  private def iconStyle(id: String, rgba: String, href: String): String =
    s"""<Style id="$id"><IconStyle><color>${kmlColor(rgba)}</color><Icon><href>$href</href></Icon></IconStyle></Style>"""

  /** All `<Style>` header blocks, flattened in catalog order (FGU:772-786).
    * POI icon names per type: FGU:746-769. */
  def all(iconDir: String = "files", iconNumber: Int = 11): Seq[String] = {
    def href(icon: String) = iconHref(iconDir, iconNumber, icon)
    Seq(
      polyStyle("zone_green_style", "55ff0088"),
      polyStyle("zone_blue_style", "0000ff88"),
      polyStyle("zone_black_style", "00000088"),
      polyStyle("area_styles", FullTransparent),
      lineStyle("access_road_styles", "ffff00ff",
        s"<gx:outerColor>${kmlColor("ff00ff00")}</gx:outerColor><gx:outerWidth>${LineWidth + 5}</gx:outerWidth>"),
      lineStyle("avalanche_path_styles", "ff0000ff"),
      iconStyle("decision_point_styles", DpColor, href("decision-point-icon")),
      iconStyle("point_of_interest_other_styles", PoiColor, href("marker")),
      iconStyle("point_of_interest_parking_styles", PoiColor, href("parking")),
      iconStyle("point_of_interest_rescue_cache_styles", PoiColor, href("blood-bank")),
      iconStyle("point_of_interest_cabin_styles", PoiColor, href("shelter")),
      iconStyle("point_of_interest_destination_styles", PoiColor, href("attraction")),
      iconStyle("point_of_interest_lake_styles", PoiColor, href("water")),
      iconStyle("point_of_interest_mountain_styles", PoiColor, href("mountain")))
  }
}
