package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import graft.ates.{Fixtures, KmzHttpServer}

/** In-process drive of the S9 HTTP surface (FGU:976-1009 behavior). */
class HttpServerSpec extends SparkSpec {

  test("GET /:lang/:areaId.kmz serves a KMZ attachment; routes validate") {
    val srv = new KmzHttpServer(spark, Fixtures.tables(spark), port = 0)
    val port = srv.start()
    val client = HttpClient.newHttpClient()
    def get(path: String) = client.send(
      HttpRequest.newBuilder(URI.create(s"http://localhost:$port$path")).build(),
      HttpResponse.BodyHandlers.ofByteArray())
    try {
      val ok = get("/en/357.kmz")
      assert(ok.statusCode() == 200)
      assert(ok.headers().firstValue("Content-Disposition").get ==
        "attachment; filename=357.kmz")
      val zin = new java.util.zip.ZipInputStream(
        new java.io.ByteArrayInputStream(ok.body()))
      val entry = zin.getNextEntry
      assert(entry.getName == "doc.kml")
      val kml = new String(zin.readAllBytes(), "UTF-8")
      assert(kml.contains("<name>Test Area</name>"))

      // invalid lang falls back to en (returnIfIn, FGU:963)
      val fallback = get("/zz/357.kmz")
      assert(fallback.statusCode() == 200)

      // help root (FGU:985) and 404 on malformed ids
      assert(new String(get("/").body(), "UTF-8") == "help")
      assert(get("/en/notanumber.kmz").statusCode() == 404)
      // an id past Long.MaxValue matches the route but is a client error
      val tooBig = get("/en/99999999999999999999.kmz")
      assert(tooBig.statusCode() == 400 &&
        new String(tooBig.body(), "UTF-8") == "bad area id")
      // an area with no areas_vw row is unknown, not an empty document
      val unknown = get("/en/999.kmz")
      assert(unknown.statusCode() == 404 &&
        new String(unknown.body(), "UTF-8") == "unknown area")
    } finally srv.stop()
  }

  test("EP1 → S7 → KML-source loop: the served KMZ re-ingests through " +
      "Tables.readKmz with placemark parity against the direct pipeline " +
      "(r11 verdict task 7)") {
    import org.apache.spark.sql.functions._
    val tables = Fixtures.tables(spark)
    val srv = new KmzHttpServer(spark, tables, port = 0)
    val port = srv.start()
    val client = HttpClient.newHttpClient()
    try {
      val resp = client.send(
        HttpRequest.newBuilder(
          URI.create(s"http://localhost:$port/en/357.kmz")).build(),
        HttpResponse.BodyHandlers.ofByteArray())
      assert(resp.statusCode() == 200)
      // land the HTTP body on disk and run it through the engine's OWN
      // KMZ reader — the full serve → zip → parse → feature-rows loop
      val dir = java.nio.file.Files.createTempDirectory("kmz_http")
      java.nio.file.Files.write(dir.resolve("area357.kmz"), resp.body())
      val reread = graft.sources.Tables.readKmz(spark, dir.toString)
      val rows = reread.collect()
      val direct = graft.ates.AtesPipeline.kmlDocument(tables, 357L, "en")
      // placemark parity: every placemark the direct pipeline emits
      // survives the HTTP + zip round trip as one feature row
      val expectedPms = "<Placemark>".r.findAllIn(direct).size
      assert(rows.length == expectedPms && expectedPms > 0,
        s"served-KMZ features diverge: got=${rows.length} " +
          s"expected=$expectedPms")
      assert(rows.forall(_.getAs[String]("doc_name") == "Test Area"))
      // folder provenance and geometry survive the served copy too
      val folders = rows.map(_.getAs[String]("folder")).toSet
      assert(folders.contains("Zones"))
      assert(reread.filter(col("geom").isNull).count() == 0)
    } finally srv.stop()
  }
}
