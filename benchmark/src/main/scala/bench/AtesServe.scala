package bench

import java.io.ByteArrayOutputStream
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.zip.ZipInputStream

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.ates.{AtesPipeline, KmzHttpServer}
import graft.sinks.Sinks

/** Per-area serving: a closed loop of 2 clients, each request either a KMZ
  * download over loopback HTTP through [[KmzHttpServer]] (60%, lang en/fr
  * 80/20) or an in-process [[AtesPipeline.featureCollection]] call (40%).
  * The formats follow the fixed pattern KMZ, GeoJSON, KMZ, KMZ, GeoJSON, so
  * every prefix of the sequence holds the 60/40 mix (a window holds about
  * ten requests); area ids follow a Zipf(1.1) law over a seed-shuffled
  * area order. */
final class AtesServe(conf: Main.Conf) extends Workload {
  import AtesServe.Req

  final class State(val tables: Map[String, DataFrame], val server: KmzHttpServer,
      val port: Int)

  val Clients = 2
  private val exp = Main.expected(conf)
  private val areas = exp.get("areas").asInt
  private val features: Map[Long, Int] = exp.get("features_per_area").properties().asScala
    .map(e => e.getKey.toLong -> e.getValue.asInt).toMap
  private val json = new ObjectMapper()
  private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()

  /** The seed's request sequence; windows consume it in order. */
  private val reqs: Array[Req] = {
    val rng = new java.util.SplittableRandom(conf.seed)
    val order = scala.util.Random.javaRandomToRandom(new java.util.Random(conf.seed))
      .shuffle((1L to areas.toLong).toVector)
    val cdf = (1 to areas).map(k => 1.0 / math.pow(k, 1.1)).scanLeft(0.0)(_ + _).tail
    val total = cdf.last
    Array.tabulate(1 << 17) { i =>
      val kmz = i % 5 != 1 && i % 5 != 4
      val lang = if (rng.nextDouble() < 0.8) "en" else "fr"
      val u = rng.nextDouble() * total
      val rank = cdf.search(u).insertionPoint.min(areas - 1)
      Req(kmz, lang, order(rank))
    }
  }
  private val cursor = new java.util.concurrent.atomic.AtomicLong(0)
  private def nextReq(): Req = reqs((cursor.getAndIncrement() % reqs.length).toInt)

  override def settles: Boolean = true

  def setup(spark: SparkSession): State = {
    val tables = graft.sources.Tables.atesSchemas.keys.map { t =>
      t -> spark.read.parquet(conf.data.resolve(s"$t.parquet").toString)
    }.toMap
    val server = new KmzHttpServer(spark, tables, 0)
    val s = new State(tables, server, server.start())
    // warm-up: each client's first request, one per format, for the
    // hottest area, issued together as the closed loop would
    val hot = reqs(0).area
    val failures = new ConcurrentLinkedQueue[String]()
    val clients = Seq(
      () => kmzFailure(hot, getKmz(s, "en", hot)),
      () => geoJsonFailure(hot, AtesPipeline.featureCollection(tables, hot))
    ).map(req => new Thread(() => req().foreach(failures.add)))
    clients.foreach(_.start())
    clients.foreach(_.join())
    require(failures.isEmpty, s"warm-up check failed: ${failures.peek()}")
    s
  }

  override def teardown(s: State): Unit = s.server.stop()

  def getKmz(s: State, lang: String, area: Long): Array[Byte] = {
    val resp = http.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${s.port}/$lang/$area.kmz")).build(),
      HttpResponse.BodyHandlers.ofByteArray())
    if (resp.statusCode() != 200) throw new IllegalStateException(
      s"GET /$lang/$area.kmz returned ${resp.statusCode()}")
    resp.body()
  }

  /** A KMZ holds exactly one entry, doc.kml, with one Placemark per
    * expected feature of the area. */
  def kmzFailure(area: Long, kmz: Array[Byte]): Option[String] = {
    val zip = new ZipInputStream(new java.io.ByteArrayInputStream(kmz))
    val entries = Iterator.continually(zip.getNextEntry).takeWhile(_ != null)
      .map(e => e.getName -> new String(zip.readAllBytes(), StandardCharsets.UTF_8)).toList
    entries match {
      case List(("doc.kml", kml)) =>
        val n = "<Placemark>".r.findAllMatchIn(kml).size
        if (n == features(area)) None
        else Some(s"area $area: $n placemarks, expected ${features(area)}")
      case other => Some(s"area $area: zip entries ${other.map(_._1)}")
    }
  }

  def geoJsonFailure(area: Long, doc: String): Option[String] = {
    val root = json.readTree(doc)
    val n = root.path("features").size()
    if (root.path("type").asText() == "FeatureCollection" && n == features(area)) None
    else Some(s"area $area: $n GeoJSON features, expected ${features(area)}")
  }

  def window(s: State, seconds: Double, tracer: Option[Tracer]): Window = {
    val kmzMs, geoMs = new ConcurrentLinkedQueue[Double]()
    val failures = new ConcurrentLinkedQueue[String]()
    val delivered = new java.util.concurrent.atomic.AtomicLong(0)
    def traced[T](name: String, id: Long)(body: => T): T =
      tracer.fold(body)(_.span(name, id)(body))
    val wall = Main.closedLoop(Clients, seconds) { i =>
      val r = nextReq()
      traced("op", i) {
        val failure =
          if (r.kmz) {
            val (kmz, ms) = Main.time(traced("http.kmz", i)(getKmz(s, r.lang, r.area)))
            kmzMs.add(ms)
            kmzFailure(r.area, kmz)
          } else {
            val (doc, ms) = Main.time(traced("ates.feature_collection", i)(
              AtesPipeline.featureCollection(s.tables, r.area)))
            geoMs.add(ms)
            geoJsonFailure(r.area, doc)
          }
        failure.fold(delivered.addAndGet(features(r.area)))(f => { failures.add(f); 0L })
      }
    }
    val k = kmzMs.asScala.toSeq
    val g = geoMs.asScala.toSeq
    failures.asScala.take(5).foreach(f => System.err.println(s"[bench] check failed: $f"))
    Window(k ++ g, wall, delivered.get(), k.size + g.size, failures.size, k.size + g.size,
      Map("clients" -> Clients, "areas" -> areas, "world_features" -> exp.get("features").asLong,
        "world_bytes" -> exp.get("bytes").asLong,
        "kmz_requests" -> k.size, "geojson_requests" -> g.size,
        "kmz_p50_ms" -> Main.quantile(k, 0.5), "kmz_p90_ms" -> Main.quantile(k, 0.9),
        "geojson_p50_ms" -> Main.quantile(g, 0.5), "geojson_p90_ms" -> Main.quantile(g, 0.9),
        "serve_rps" -> (k.size + g.size) / wall))
  }

  /** Besides the traced loop's spans, replays KMZ requests one at a time:
    * the HTTP call (with every Spark job it causes attributed to it), then
    * the same document in-process, split into the pipeline's public steps. */
  def layers(s: State, w: Window, tracer: Tracer, seconds: Double): Map[String, Double] = {
    val fc = tracer.named("ates.feature_collection").map(_.ms)
    val probes = scala.collection.mutable.ArrayBuffer.empty[Map[String, Double]]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    while (probes.size < 5 || (System.nanoTime() < deadline && probes.size < 40)) {
      var r = nextReq()
      while (!r.kmz) r = nextReq()
      // the server runs the request's jobs on its own thread: attribute
      // every job that starts meanwhile to the probe span
      val (kmz, httpMs, http) = tracer.span("probe.kmz_http") {
        val id = tracer.current
        tracer.ambient = id
        val (bytes, ms) = Main.time(getKmz(s, r.lang, r.area))
        tracer.drain()
        tracer.ambient = 0L
        (bytes, ms, tracer.byId(id))
      }
      require(kmzFailure(r.area, kmz).isEmpty, s"probe KMZ check failed for area ${r.area}")
      val (kml, docMs) = Main.time(tracer.span("ates.kml_document")(
        AtesPipeline.kmlDocument(s.tables, r.area, r.lang)))
      val out = new ByteArrayOutputStream()
      val (_, zipMs) = Main.time(tracer.span("sinks.write_kmz")(Sinks.writeKmz(kml, out)))
      val (_, pmMs) = Main.time(tracer.span("ates.kml_placemarks") {
        AtesPipeline.kmlPlacemarks(s.tables, r.area).foreach { case (_, df) =>
          val ordered = df.orderBy(col("id")).select(col("pm"))
          tracer.span("spark.plan")(ordered.queryExecution.executedPlan)
          ordered.collect()
        }
      })
      val (_, nameMs) = Main.time(tracer.span("ates.doc_name")(
        s.tables("areas_vw").filter(col("id") === r.area).select(col("name")).collect()))
      probes += Map(
        "ates.kml_placemarks_ms" -> pmMs, "ates.doc_name_ms" -> nameMs,
        "sinks.write_kmz_ms" -> zipMs,
        "sinks.kmz_bytes_per_kml_byte" ->
          out.size.toDouble / kml.getBytes(StandardCharsets.UTF_8).length,
        "http.overhead_ms" -> (httpMs - docMs - zipMs),
        "kmz.jobs_per_request" -> http.counts.jobs.sum.toDouble,
        "kmz.tasks_per_request" -> http.counts.tasks.sum.toDouble,
        "kmz.codegen_compiles_per_request" -> http.gauges.compiles.toDouble,
        "kmz.rows_scanned_per_request" -> http.counts.rowsIn.sum.toDouble)
    }
    val plans = tracer.named("spark.plan").map(_.ms).sum / probes.size
    probes.head.keys.map(k => k -> Main.median(probes.map(_(k)).toSeq)).toMap ++ Map(
      "ates.feature_collection_ms" -> Main.median(fc),
      "spark.plan_ms_per_request" -> plans, "spark.plan_ms" -> plans)
  }
}

object AtesServe {
  final case class Req(kmz: Boolean, lang: String, area: Long)
}
