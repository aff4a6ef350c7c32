package graft.operators

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persistent vertex-bucketed edge tables — the on-disk 100 TB graph
  * layout, the structural family's SHARED base (round 17, r16 verdict #3;
  * round 16 materialized it for one gate, GraphBucketingSpec proved the
  * regime on a spec-local temp table).
  *
  * The oriented co-purchase edge frame is written ONCE per corpus as two
  * bucketed-and-sorted copies — one hashed by the source endpoint `s`,
  * one by the target `t` (2× a narrow two-column frame, orders of
  * magnitude smaller than the corpus). Every downstream structural read
  * then starts pre-partitioned on its key: the wedge census joins the two
  * copies with ZERO Exchange below the aggregate (BucketedWedgeSpec
  * asserts it broadcast-disabled), the out-adjacency build groups the
  * s-copy with zero Exchange below ITS aggregate, and the triangle /
  * clustering / k-core gates consume these instead of re-deriving
  * session-local frames — the amortization across MANY structural queries
  * that justifies a persistent layout at all.
  *
  * Bucket count TRACKS CORPUS SIZE ([[bucketsFor]]): one bucket per ~2²⁰
  * oriented edges, clamped to [8, 1024] — at fixture scale the floor
  * holds (8), at a 100 TB co-purchase graph (~10⁹–10¹¹ edges) the count
  * rises so a bucket stays a memory-sized sorted run instead of a
  * many-GB monolith. Both copies of one corpus always get the SAME count
  * (computed once from the same frame), so bucketed joins between them
  * never need a bucket-coalesce shuffle.
  *
  * Lifecycle: the bucket METADATA lives in the session catalog, so a
  * fresh application re-registers (and rewrites) the tables on first
  * use — write-once per (application, corpus), memoized through
  * [[Artifacts.memo]] like every other graph artifact. At 100 TB the
  * application is a long-lived warehouse with a persistent metastore and
  * the write happens exactly once per corpus drop. Table data lands
  * under a PER-APPLICATION subdirectory of java.io.tmpdir, removed by a
  * listener when the application ends (r16 advisor: a long-lived machine
  * running many test JVMs otherwise accumulates every prior run's
  * files; a crash-killed JVM can still strand its directory — the normal
  * tmpdir caveat). Names carry a corpus tag so distinct corpora never
  * alias; the first build per table name is serialized on a per-name
  * monitor (r16 advisor: parallel suites in one JVM could both miss the
  * unguarded tableExists check and race the one-time write).
  */
object BucketedGraph {

  /** Bucket count for an `nEdges`-row oriented edge table: one bucket
    * per ~2²⁰ edges, clamped to [8, 1024]. */
  def bucketsFor(nEdges: Long): Int =
    math.max(8L, math.min(1024L, nEdges >> 20)).toInt

  /** One monitor per table name — the one-time bucketed WRITE must not
    * race itself across parallel suites sharing this JVM. */
  private val writeLocks = new ConcurrentHashMap[String, Object]()

  /** Applications whose cleanup listener is already registered. */
  private val cleanupRegistered =
    ConcurrentHashMap.newKeySet[String]()

  private def tag(dir: String): String =
    dir.replaceAll("[^A-Za-z0-9]", "_").stripPrefix("_").takeRight(32) +
      "_" + Integer.toHexString(dir.hashCode)

  private def appRoot(s: SparkSession): java.nio.file.Path =
    java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft_bucketed",
      s.sparkContext.applicationId)

  private def deleteRecursively(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(f => try java.nio.file.Files.deleteIfExists(f)
          catch { case _: java.io.IOException => () })
    }

  private def registerCleanup(s: SparkSession): Unit =
    if (cleanupRegistered.add(s.sparkContext.applicationId)) {
      val root = appRoot(s)
      s.sparkContext.addSparkListener(new SparkListener {
        override def onApplicationEnd(
            e: SparkListenerApplicationEnd): Unit =
          deleteRecursively(root)
      })
    }

  private def ensure(s: SparkSession, dir: String, key: String): DataFrame = {
    val name = s"graft_bedges_${key}_${tag(dir)}"
    val lock = writeLocks.computeIfAbsent(name, _ => new Object)
    lock.synchronized {
      if (!s.catalog.tableExists(name)) {
        registerCleanup(s)
        val edges = GraphArtifacts.orientedCoPurchaseEdges(s, dir)
        // the frame is a checkpointed leaf — the count is one cached pass
        val buckets = bucketsFor(edges.count())
        val path = appRoot(s).resolve(tag(dir)).resolve(s"edges_$key")
          .toString
        edges.write.mode("overwrite")
          .bucketBy(buckets, key).sortBy(key)
          .option("path", path)
          .saveAsTable(name)
      }
    }
    s.table(name)
  }

  /** The persistent oriented edge table bucketed by source endpoint. */
  def edgesByS(s: SparkSession, dir: String): DataFrame =
    Artifacts.memo(s, dir, "graph:bedges_s")(
      ensure(s, dir, "s"))

  /** The persistent oriented edge table bucketed by target endpoint. */
  def edgesByT(s: SparkSession, dir: String): DataFrame =
    Artifacts.memo(s, dir, "graph:bedges_t")(
      ensure(s, dir, "t"))

  /** Out-adjacency (x, nbrs) of the persistent s-bucketed edge table —
    * nbrs the SORTED out-neighbor array. Because the scan arrives
    * pre-partitioned on `s`, the groupBy plans with ZERO Exchange below
    * the aggregate (BucketedWedgeSpec asserts it): at 100 TB the
    * adjacency build is a per-bucket local fold, never a network pass.
    * Same rows as [[GraphArtifacts.orientedAdjacency]] (both group the
    * identical oriented frame); the triangle twins consume this one so
    * the whole structural family reads the persistent base. */
  def outAdjacency(s: SparkSession, dir: String): DataFrame =
    Artifacts.memo(s, dir, "graph:bedges_adj")(
      edgesByS(s, dir)
        .groupBy(col("s").as("x"))
        .agg(sort_array(collect_list(col("t"))).as("nbrs"))
        .localCheckpoint())
}
