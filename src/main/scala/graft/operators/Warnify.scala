package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's core non-SQL operator (SURVEY §2.4 A1/A2): group
  * decision-point warning rows by geometry, bucket the warning texts by type,
  * and re-emit one row per distinct geometry with the buckets attached.
  *
  * Two flavors, matching the two implementations in the reference:
  *  - [[geoJson]] — `/root/reference/src/from-ground-up.js:221-278`
  *    (duplicated `src/mapboxing.js:265-310`): normalized type keys
  *    (`managing-risk`/`concern`), buckets serialized as one JSON string.
  *  - [[kml]] — `/root/reference/src/from-ground-up.js:506-577`: raw type
  *    keys (`Concern`/`Managing risk`), buckets rendered into the HTML
  *    warnings table the KML description popup shows (`:507-529`).
  *
  * Engine semantics vs the reference, decided deliberately (SURVEY §7 risks):
  *  - bucket lists are sorted (the reference preserves DB arrival order,
  *    which is nondeterministic under parallel scan — at any scale beyond
  *    one pg response, "input order" is not a meaningful order);
  *  - carried properties use `max` per group (the reference's last-write-wins
  *    over arrival order, made deterministic).
  *
  * Execution shape: ONE hash aggregation keyed by the geometry struct —
  * Spark supports struct/array group keys directly, so there is no
  * stringify-the-coordinates round-trip (the reference joins coordinates
  * into a ", "-string as its group key, FGU:228-231, and parses it back,
  * FGU:266-277). Partial aggregation runs map-side; the shuffle carries one
  * row per (geometry × partition).
  */
object Warnify {

  /** The grouping both flavours share: one row per distinct geometry, with
    * bucket `i`'s warnings as the sorted list `__b<i>` beside `extra`. */
  private def grouped(df: DataFrame, geom: Column, typeCol: Column,
      warning: Column, buckets: Seq[String], extra: Seq[Column]): DataFrame = {
    val aggs = buckets.zipWithIndex.map { case (b, i) =>
      sort_array(collect_list(when(typeCol === b, warning))).as(s"__b$i")
    } ++ extra
    df.groupBy(geom.as("geometry")).agg(aggs.head, aggs.tail: _*)
  }

  /** GeoJSON flavor. Emits one row per distinct geometry value with
    * `warnings` = `{"managing-risk":[...],"concern":[...]}` (JSON string,
    * key order matching the reference's accumulator init FGU:238-243) plus
    * the carried property columns. */
  def geoJson(
      df: DataFrame,
      geom: Column,
      typeCol: Column,
      warning: Column,
      carry: Seq[String],
      buckets: Seq[String] = Seq("managing-risk", "concern")): DataFrame = {
    val lists = buckets.indices.map(i => s"__b$i")
    grouped(df, geom, typeCol, warning, buckets, carry.map(c => max(col(c)).as(c)))
      .withColumn("warnings", to_json(map(
        buckets.zip(lists).flatMap { case (b, l) => Seq(lit(b), col(l)) }: _*)))
      .drop(lists: _*)
  }

  /** KML flavor: same grouping, but renders the HTML warnings-table
    * description (FGU:507-529) and the fixed placemark fields the KML
    * warnify emits (`name` = "Decision Point", `table` = "decision_points",
    * FGU:566-576). Bucket keys are the raw DB values (FGU:551-554). */
  def kml(
      df: DataFrame,
      geom: Column,
      typeCol: Column,
      warning: Column,
      idCol: Column): DataFrame =
    grouped(df, geom, typeCol, warning, Seq("Concern", "Managing risk"),
        Seq(min(idCol).as("id")))
      .select(
        col("geometry"),
        // stable content id (min source id per geometry) so downstream
        // document assembly orders deterministically — a synthetic id like
        // monotonically_increasing_id() would vary with partitioning
        col("id"),
        lit("Decision Point").as("name"),
        // the popup CSS wrapper (FGU:522-524) around the warnings table
        concat(lit(PopupHeader), warningsTable(col("__b0"), col("__b1")))
          .as("description"),
        lit("decision_points").as("table"))

  /** One checklist row per warning; unescapes `\'` like the reference's
    * toChecklist (FGU:508-515). */
  private def checklist(items: Column, bulletClass: String): Column =
    array_join(
      transform(items, c =>
        concat(
          lit(s"""<tr><td><span class="$bulletClass">&#x2717;</span>"""),
          regexp_replace(c, """\\'""", "'"),
          lit("</td></tr>"))),
      "")

  /** The orange warnings table, markup faithful to the reference's template
    * string (FGU:519) including its stray close/open tags — output-format
    * fidelity, quirks and all, so downstream KML consumers see identical
    * descriptions. */
  private def warningsTable(concernList: Column, riskList: Column): Column =
    concat(
      lit("""<table class="orange-table"><tbody><tr><th class="first">Concern</th></tr>"""),
      checklist(concernList, "red-x"),
      lit("""</tr><tr><tr><th>Managing risk</th></tr>"""),
      checklist(riskList, "green-check"),
      lit("""<tr></tbody></table>"""))

  /** Verbatim popup header from FGU:522-524 (output format, not logic). */
  val PopupHeader: String =
    """<meta http-equiv="Content-Type" content="text/html; charset=iso-8859-1">""" +
      """<style type="text/css"><!--.orange-table {border: 1px solid black; """ +
      """background-color: #FFC000; font-size:9.0pt; padding: 10px 0; width: 333px;} """ +
      """.orange-table td, th { padding: 2px 10px; } .orange-table th { """ +
      """font-weight: bold; border-top: 1px solid black; text-align: left; } """ +
      """.orange-table th.first { border: none; } .green-check { color:#008A00; """ +
      """font-size:larger; display: block; float: left; padding-right: 4px; } """ +
      """.red-x { color: red; font-size: larger; display: block; float: left; """ +
      """padding-right: 4px; } --></style>"""
}
