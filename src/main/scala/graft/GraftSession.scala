package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * The reference (`/root/reference/src/from-ground-up.js:979`) holds a single
  * long-lived pg connection; our equivalent of "the connection" is the
  * SparkSession, configured once for the whole engine:
  *
  *  - `local[32]` in this harness, but every config below is what we would
  *    ship on a 1000-executor cluster: AQE on (runtime re-planning, skew-join
  *    splitting, partition coalescing), shuffle partitions sized to the
  *    parallelism at hand rather than the 200 default, UTC session time zone
  *    for oracle parity.
  *  - At 100 TB the only knobs that change are `shuffle.partitions`
  *    (≈2–3× total cores) and `maxPartitionBytes`; nothing in the engine
  *    code assumes local mode.
  */
object GraftSession {

  def builder(
      master: String = s"local[${defaultCpus}]",
      appName: String = "graft",
      shufflePartitions: Int = defaultCpus): SparkSession.Builder =
    SparkSession
      .builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // pinned, not inherited: Bootstrap's and q_perm_test's long-sum
      // overflow checks rely on ANSI arithmetic raising on overflow
      .config("spark.sql.ansi.enabled", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      // events.parquet carries TIMESTAMP(NANOS), which vanilla Spark rejects;
      // read as long and convert in Tables.load (integer ns→µs division —
      // ns-since-epoch exceeds double's 2^53 mantissa, so no float paths).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)

  def defaultCpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(32)

  /** Get-or-create with graft defaults; safe to call when a session exists. */
  def get(appName: String = "graft"): SparkSession = {
    val s = builder(appName = appName).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
