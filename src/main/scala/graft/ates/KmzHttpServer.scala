package graft.ates

import java.io.ByteArrayOutputStream
import java.net.InetSocketAddress

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sinks.Sinks

/** The reference's HTTP entry point (S9, `kmlExpressAppWrappyThing`,
  * `/root/reference/src/from-ground-up.js:976-1009`): `GET
  * /:lang/:areaId.kmz` → KMZ attachment; `GET /` → help text.
  *
  * A thin shim over the engine (JDK built-in HttpServer, zero deps): route
  * parameters bind to the plan like the reference's prepared-statement
  * `$1` (`area_id` equals a [[graft.plans.BoundLong]]), each request runs
  * the EP1 pipeline, and the zip streams back with the reference's
  * `attachment; filename=<areaId>.kmz` disposition (FGU:994). Input
  * validation mirrors `returnIfIn`: lang ∉ {en, fr} → 'en' (FGU:963). An
  * id that does not fit a Long is a 400; an area with no `areas_vw` row is
  * a 404 (the reference reads `rows[0].name`, FGU:610-612, and has no
  * answer for it); a failure while serving is a 500. Error bodies are
  * fixed messages (the cause goes to stderr, not to the client).
  */
class KmzHttpServer(spark: SparkSession, tables: Map[String, DataFrame],
    port: Int = 0) {

  private val Route = "^/([^/]+)/([0-9]+)\\.kmz$".r
  private val server = HttpServer.create(new InetSocketAddress(port), 0)

  server.createContext("/", (ex: HttpExchange) => {
    try {
      ex.getRequestURI.getPath match {
        case "/" => text(ex, 200, "help")
        case Route(_, areaIdStr) if areaIdStr.toLongOption.isEmpty =>
          text(ex, 400, "bad area id")
        case Route(langRaw, areaIdStr) =>
          val lang = if (Seq("en", "fr").contains(langRaw)) langRaw else "en"
          val areaId = areaIdStr.toLong
          val (kml, known) = AtesPipeline.kmlDocumentAndKnown(tables, areaId, lang)
          if (!known) text(ex, 404, "unknown area")
          else {
            val kmz = new ByteArrayOutputStream()
            Sinks.writeKmz(kml, kmz)
            respond(ex, 200, kmz.toByteArray,
              "Content-Type" -> "application/vnd.google-earth.kmz",
              "Content-Disposition" -> s"attachment; filename=$areaId.kmz")
          }
        case _ => text(ex, 404, "not found")
      }
    } catch {
      case e: Throwable =>
        System.err.println(s"[kmz-http] ${ex.getRequestURI.getPath}: $e")
        text(ex, 500, "internal error")
    }
  })

  private def text(ex: HttpExchange, code: Int, body: String): Unit =
    respond(ex, code, body.getBytes("UTF-8"), "Content-Type" -> "text/plain")

  private def respond(ex: HttpExchange, code: Int, body: Array[Byte],
      headers: (String, String)*): Unit = {
    headers.foreach { case (k, v) => ex.getResponseHeaders.add(k, v) }
    ex.sendResponseHeaders(code, body.length.toLong)
    ex.getResponseBody.write(body)
    ex.close()
  }

  def start(): Int = { server.start(); server.getAddress.getPort }
  def stop(): Unit = server.stop(0)
}

/** CLI: serve the fixture tables — `runMain graft.ates.KmzHttpServerMain [port]`. */
object KmzHttpServerMain {
  def main(args: Array[String]): Unit = {
    val port = args.headOption.map(_.toInt).getOrElse(3000)
    val spark = graft.GraftSession.get("graft-kmz-http")
    val srv = new KmzHttpServer(spark, Fixtures.tables(spark), port)
    val bound = srv.start()
    println(s"[kmz-http] serving on port $bound (GET /:lang/:areaId.kmz)")
    Thread.currentThread().join()
  }
}
