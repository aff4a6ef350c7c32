package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Source layer: named-table access over the test corpus plus the schema
  * registry for both table families the engine serves.
  *
  * The reference's source layer is a parametrized SQL scan per named table
  * (`/root/reference/src/from-ground-up.js:84-90`, executed at `:149-163`);
  * here a "scan" is `spark.read.parquet` (columnar, vectorized, with
  * predicate/projection pushdown handled by the parquet DataSource), and the
  * declared per-query column lists of the reference
  * (`src/from-ground-up.js:303-357`) become plain `.select`s that Catalyst
  * prunes down to the file footer level.
  *
  * At 100 TB the same entry point serves partitioned/bucketed parquet or any
  * DataSource V2 table; nothing below assumes file sizes.
  */
object Tables {

  /** TPC-H-ish driver corpus table names (TESTDATA.md). */
  val corpus: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** Read one corpus table from a scale-factor directory, normalizing
    * `events.ts` to TimestampType regardless of the on-disk physical type
    * (the corpus has shipped it in multiple shapes over time):
    *
    *  - TIMESTAMP(NANOS) → with `spark.sql.legacy.parquet.nanosAsLong` it
    *    arrives as long nanoseconds and is converted via integer division
    *    (never a double path, since ns-since-epoch > 2^53);
    *  - `timestamp[us]` with no timezone → Spark reads TIMESTAMP_NTZ; the
    *    session timezone is pinned UTC ([[graft.GraftSession]]), so a plain
    *    cast to TimestampType is instant-preserving;
    *  - TimestampType → passthrough. */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = loadRaw(spark, sfDir, name)
    if (name == "events") normalizeEventTs(df) else df
  }

  /** ts-normalization arm shared by the batch and streaming readers. */
  def normalizeEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case Some(TimestampNTZType) =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
  }

  /** The uncorrected read (streaming uses it to probe the on-disk schema). */
  def loadRaw(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** S1 — live-database scan, the engine form of the reference's pg
    * prepared-statement source (`/root/reference/src/from-ground-up.js:
    * 149-163`). Filters and projections on the returned frame push down
    * over JDBC (Catalyst emits them into the remote query); `partitionCol`
    * + bounds split the scan into `numPartitions` parallel range reads —
    * the knob that matters on a large table. */
  def readJdbc(spark: SparkSession, url: String, table: String,
      props: java.util.Properties = new java.util.Properties(),
      partitionCol: Option[String] = None,
      lowerBound: Long = 0, upperBound: Long = 0,
      numPartitions: Int = 1): DataFrame = {
    val r = spark.read.format("jdbc")
      .option("url", url).option("dbtable", table)
    val withPart = partitionCol.fold(r)(c =>
      r.option("partitionColumn", c)
        .option("lowerBound", lowerBound).option("upperBound", upperBound)
        .option("numPartitions", numPartitions))
    props.forEach((k, v) => withPart.option(k.toString, v.toString))
    withPart.load()
  }

  /** S3 — JSON source (the reference's fixture-file generator,
    * `/root/reference/test/testy_stuff.js:3-16`): JSON-lines by default,
    * `multiLine` for whole-array documents. */
  def readJson(spark: SparkSession, path: String,
      schema: Option[StructType] = None, multiLine: Boolean = false): DataFrame = {
    val r = spark.read.option("multiLine", multiLine)
    schema.fold(r)(r.schema).json(path)
  }

  /** CSV source with header/schema handling (declared source surface). */
  def readCsv(spark: SparkSession, path: String,
      schema: Option[StructType] = None, header: Boolean = true,
      delimiter: String = ","): DataFrame = {
    val r = spark.read.option("header", header).option("delimiter", delimiter)
    schema.fold(r.option("inferSchema", true))(r.schema).csv(path)
  }

  /** ORC source (declared source surface) — columnar like parquet, with the
    * same vectorized reader + pushdown path; interchange format for
    * Hive-era lakes. */
  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** KML file source — ingests the engine's (and the reference's) own KML
    * *output* dialect back as feature rows, closing the EP1 loop: document →
    * folders → placemarks, one row per placemark. `wholetext` scan (one
    * task per document — KML is a per-area artifact, not a big-data file),
    * then the whole parse is codegen'd regexp/HOF columns ending in
    * [[graft.functions.GeoFunctions.st_geomfromkml]]; top-level placemarks
    * outside a `<Folder>` are not part of this dialect and are ignored.
    *
    * Output: (doc_name, folder, name, descriptions ARRAY<STRING> in
    * document order, style, warnings, class_code, geom). Optional fields
    * are null when absent; XML entities are unescaped. */
  def readKml(spark: SparkSession, path: String): DataFrame =
    kmlFeatures(spark.read.option("wholetext", "true").text(path)
      .select(org.apache.spark.sql.functions.col("value").as("kml")))

  /** KMZ source: unzip `*.kml` from each archive (S7's inverse), then the
    * [[readKml]] parse. Archives stream through `binaryFile` rows — the
    * unzip is the only non-Column step (java.util.zip has no expression
    * form), one call per archive, before the distributed parse. */
  def readKmz(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    // Only *.kmz: a stray non-zip file in the directory would otherwise
    // fail the whole job from ZipInputStream mid-task rather than being
    // excluded at plan time (readKml's text source is similarly scoped).
    val docs = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.kmz").load(path)
      .select(org.apache.spark.sql.functions.col("content"))
      .as[Array[Byte]]
      .map(unzipFirstKml)
      .toDF("kml")
    kmlFeatures(docs)
  }

  private def unzipFirstKml(bytes: Array[Byte]): String = {
    val zin = new java.util.zip.ZipInputStream(
      new java.io.ByteArrayInputStream(bytes))
    try {
      Iterator.continually(zin.getNextEntry).takeWhile(_ != null)
        .collectFirst { case e if e.getName.endsWith(".kml") =>
          new String(zin.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
        }
        .getOrElse(throw new IllegalArgumentException(
          "KMZ archive contains no .kml entry"))
    } finally zin.close()
  }

  /** The distributed KML parse behind [[readKml]]/[[readKmz]]: a `kml`
    * string column of whole documents → placemark feature rows. */
  def kmlFeatures(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    def unescape(c: org.apache.spark.sql.Column) =
      // inverse of the sink's escape — &amp; last, so escaped entities
      // survive one round-trip unchanged
      regexp_replace(regexp_replace(regexp_replace(c,
        "&lt;", "<"), "&gt;", ">"), "&amp;", "&")
    def optional(c: org.apache.spark.sql.Column) = nullif(c, lit(""))
    val folder = explode(regexp_extract_all(col("kml"),
      lit("(?s)<Folder>(.*?)</Folder>"), lit(1))).as("__folder")
    val pm = explode(regexp_extract_all(col("__folder"),
      lit("(?s)<Placemark>(.*?)</Placemark>"), lit(1))).as("__pm")
    docs
      .select(
        regexp_extract(col("kml"),
          "(?s)<Document[^>]*>\\s*<name>(.*?)</name>", 1).as("doc_name"),
        folder)
      .select(col("doc_name"),
        regexp_extract(col("__folder"), "(?s)<name>(.*?)</name>", 1)
          .as("folder"),
        pm)
      .select(
        optional(unescape(col("doc_name"))).as("doc_name"),
        optional(unescape(col("folder"))).as("folder"),
        optional(unescape(regexp_extract(col("__pm"),
          "(?s)<name>(.*?)</name>", 1))).as("name"),
        transform(
          regexp_extract_all(col("__pm"),
            lit("(?s)<description>(.*?)</description>"), lit(1)),
          unescape _).as("descriptions"),
        optional(regexp_extract(col("__pm"),
          "<styleUrl>#?(.*?)</styleUrl>", 1)).as("style"),
        optional(unescape(regexp_extract(col("__pm"),
          "(?s)<ExtendedData><warnings>(.*?)</warnings>", 1))).as("warnings"),
        optional(regexp_extract(col("__pm"),
          "<ExtendedData><class_code>(.*?)</class_code>", 1)).as("class_code"),
        graft.functions.GeoFunctions.st_geomfromkml(
          regexp_extract(col("__pm"),
            "(?s)(<Point>.*?</Point>|<LineString>.*?</LineString>|" +
              "<Polygon>.*?</Polygon>|<MultiGeometry>.*?</MultiGeometry>)", 1))
          .as("geom"))
  }

  /** Geometry model (SURVEY §1.4): one GeoJSON-shaped tagged struct for the
    * whole ADT the reference dispatches on by key presence
    * (/root/reference/src/from-ground-up.js:442-446) — see
    * [[graft.functions.GeoFunctions]] for the layout contract. */
  val geometryType: StructType = graft.functions.GeoFunctions.geometryType

  /** ATES relational schemas inferred from the reference's query column lists
    * (/root/reference/src/from-ground-up.js:303-357, :865-922). */
  val atesSchemas: Map[String, StructType] = Map(
    "areas_vw" -> StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("name", StringType),
      StructField("geom", geometryType))),
    "points_of_interest" -> StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("area_id", LongType),
      StructField("name", StringType),
      StructField("type", StringType),
      StructField("comments", StringType),
      StructField("geom", geometryType))),
    "access_roads" -> StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("area_id", LongType),
      StructField("description", StringType),
      StructField("geom", geometryType))),
    "avalanche_paths" -> StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("area_id", LongType),
      StructField("name", StringType),
      StructField("geom", geometryType))),
    "decision_points" -> StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("area_id", LongType),
      StructField("name", StringType),
      StructField("comments", StringType),
      StructField("geom", geometryType))),
    "decision_points_warnings" -> StructType(Seq(
      StructField("decision_point_id", LongType, nullable = false),
      StructField("warning", StringType),
      StructField("type", StringType))),
    "zones" -> StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("area_id", LongType),
      StructField("class_code", IntegerType),
      StructField("comments", StringType),
      StructField("geom", geometryType)))
  )
}
