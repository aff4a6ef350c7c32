package graft.operators

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Unified per-(application, corpus) artifact memo (round 16 — the one
  * discipline behind [[GraphArtifacts]], [[StatArtifacts]] and
  * TextOps.mutantClusters, which had grown into three copies of the same
  * ConcurrentHashMap + isStopped + localCheckpoint pattern).
  *
  * An "artifact" is a small build-once frame (edge list, threshold table,
  * cluster labeling) that several gates consume: the session-local stand-in
  * for the write-once table a production pipeline materializes next to the
  * corpus. The first caller pays the build (callers `localCheckpoint` the
  * frame so it is a leaf, not a live plan); later callers read the
  * checkpointed frame.
  *
  * Keying and lifecycle:
  *  - keyed by (applicationId, corpusDir, kind) — distinct corpora and
  *    distinct Spark applications never share state;
  *  - an entry whose owning context has stopped is NOT served; detecting
  *    one triggers a sweep of ALL dead-application entries, so a
  *    long-lived JVM that restarts sessions (test suites) doesn't
  *    accumulate stale frames (r15 advisor);
  *  - the corpus dir is assumed IMMUTABLE for the life of an application:
  *    regenerating a dir in place within one application serves the stale
  *    artifact (the same assumption every localCheckpoint leaf makes).
  */
object Artifacts {

  private val cache =
    new ConcurrentHashMap[(String, String, String), DataFrame]()

  def memo(s: SparkSession, dir: String, kind: String)
      (build: => DataFrame): DataFrame = {
    val key = (s.sparkContext.applicationId, dir, kind)
    val cached = cache.get(key)
    if (cached != null && !cached.sparkSession.sparkContext.isStopped)
      return cached
    // Miss (or a dead entry): sweep everything owned by stopped contexts
    // before building — the map stays bounded by live-application use.
    cache.forEach { (k, v) =>
      if (v.sparkSession.sparkContext.isStopped) cache.remove(k, v)
    }
    val built = build
    cache.put(key, built)
    built
  }
}
