package graft

import graft.ates.{AtesPipeline, Fixtures}
import graft.sinks.Sinks

/** Runnable end-to-end demo of the reference's three entry points over the
  * deterministic ATES fixtures: writes a GeoJSON FeatureCollection, a KML
  * document, a KMZ archive, per-table GeoJSON-LD dirs, and a tileset recipe
  * into the given output directory (default /tmp/graft_ates_demo).
  *
  * Usage: runMain graft.AtesDemo [outDir] [areaId] [lang]
  */
object AtesDemo {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("/tmp/graft_ates_demo")
    val areaId = args.lift(1).map(_.toLong).getOrElse(357L)
    val lang = args.lift(2).getOrElse("en")

    val spark = GraftSession.get("graft-ates-demo")
    new java.io.File(outDir).mkdirs()
    val tables = Fixtures.tables(spark)

    val geojson = AtesPipeline.featureCollection(tables, areaId)
    Sinks.writeGeoJsonDoc(geojson, s"$outDir/area_$areaId.geojson")

    val kml = AtesPipeline.kmlDocument(tables, areaId, lang)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$outDir/area_$areaId.kml"), kml)
    Sinks.writeKmzFile(kml, s"$outDir/area_$areaId.kmz")

    Sinks.writeGeoJsonLd(AtesPipeline.geoJsonFeatures(tables, None), s"$outDir/ld")

    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$outDir/recipe.json"),
      Sinks.recipeJson(tables.keys.toSeq.sorted, "demo-user", "ates-demo"))

    println(s"[ates-demo] wrote outputs to $outDir:")
    new java.io.File(outDir).listFiles().sortBy(_.getName).foreach { f =>
      println(f"  ${f.getName}%-24s ${if (f.isDirectory) "dir" else s"${f.length} bytes"}")
    }
    spark.stop()
  }
}
