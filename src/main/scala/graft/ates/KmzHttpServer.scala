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
  * validation mirrors `returnIfIn`: lang ∉ {en, fr} → 'en' (FGU:963).
  */
class KmzHttpServer(spark: SparkSession, tables: Map[String, DataFrame],
    port: Int = 0) {

  private val Route = "^/([^/]+)/([0-9]+)\\.kmz$".r
  private val server = HttpServer.create(new InetSocketAddress(port), 0)

  server.createContext("/", (ex: HttpExchange) => {
    try {
      ex.getRequestURI.getPath match {
        case "/" => respond(ex, 200, "help", "text/plain")
        case Route(langRaw, areaIdStr) =>
          val lang = if (Seq("en", "fr").contains(langRaw)) langRaw else "en"
          val areaId = areaIdStr.toLong
          val kml = AtesPipeline.kmlDocument(tables, areaId, lang)
          val bytes = new ByteArrayOutputStream()
          Sinks.writeKmz(kml, bytes)
          ex.getResponseHeaders.add("Content-Type", "application/vnd.google-earth.kmz")
          ex.getResponseHeaders.add("Content-Disposition",
            s"attachment; filename=$areaId.kmz")
          val body = bytes.toByteArray
          ex.sendResponseHeaders(200, body.length.toLong)
          ex.getResponseBody.write(body)
          ex.close()
        case _ => respond(ex, 404, "not found", "text/plain")
      }
    } catch {
      case e: Throwable => respond(ex, 500, s"error: ${e.getMessage}", "text/plain")
    }
  })

  private def respond(ex: HttpExchange, code: Int, body: String,
      contentType: String): Unit = {
    val bytes = body.getBytes("UTF-8")
    ex.getResponseHeaders.add("Content-Type", contentType)
    ex.sendResponseHeaders(code, bytes.length.toLong)
    ex.getResponseBody.write(bytes)
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
