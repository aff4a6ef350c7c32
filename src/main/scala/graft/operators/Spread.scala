package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, UnionExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}

/** The one way to spread a narrow input over the cores in front of a
  * per-document kernel (word n-grams, MinHash signatures, token hashing).
  * A corpus file that is one split runs such a kernel in ONE task, whatever
  * the core count. When the input has fewer partitions than
  * `defaultParallelism`, the spread round-robins it to that many and makes
  * the result a lazy local checkpoint, so every consumer of the spread
  * frame reads one materialization instead of re-running the source (the
  * n-gram overlap and the left-anti of [[Contamination.scrub]], the
  * signatures and the left-anti of [[Dedup.scrubAgainst]], then the pair
  * stage and the final anti-join of a curation pass). An input that
  * already has enough partitions comes back unchanged: no exchange and no
  * checkpoint, so a corpus at scale is never reshuffled or pinned.
  *
  * A checkpoint, not a `persist`: a persist registers in the CacheManager
  * and nothing here could unpersist it, so every pass would pin one more
  * copy of the corpus; a checkpoint's blocks go away with its frame.
  * Under AQE, building the checkpoint runs the round-robin's map stage
  * (one job, over the input's own partitions); the kernels above it run
  * when the caller's action does. */
private[graft] object Spread {

  def apply(df: DataFrame): DataFrame = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    if (partitions(df.queryExecution.executedPlan) >= cores) df
    else df.repartition(cores).localCheckpoint(eager = false)
  }

  /** A count that every core count reads as wide. */
  private val Wide = Int.MaxValue.toLong

  /** The partitions `p` produces, read off the physical plan without
    * starting a job: a plan that holds an exchange is wide, and otherwise
    * the count is its leaves' — file splits, a cached relation's own plan,
    * an RDD's partitions. */
  private[graft] def partitions(p: SparkPlan): Long = p match {
    case _: Exchange | _: ReusedExchangeExec => Wide
    case a: AdaptiveSparkPlanExec => partitions(a.executedPlan)
    case q: QueryStageExec => partitions(q.plan)
    // its own plan, not its RDD: building the RDD of a cached relation
    // runs the exchanges its plan holds
    case c: InMemoryTableScanExec => partitions(c.relation.cachedPlan)
    case u: UnionExec => u.children.map(partitions).sum
    case l: LeafExecNode =>
      (if (l.supportsColumnar) l.executeColumnar() else l.execute())
        .getNumPartitions.toLong
    case other => other.children.map(partitions).max
  }
}
