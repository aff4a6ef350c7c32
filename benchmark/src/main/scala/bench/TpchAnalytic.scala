package bench

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** The 22 TPC-H query shapes from [[SparkEntry.queries]] over generated
  * TPC-H-shaped tables, run as passes (the op) in a seed-permuted order. Each
  * query's rows must match every earlier pass; the first pass's rows are
  * also saved for the DuckDB oracle comparison the runner makes after the
  * process exits (over [[SparkEntry.oracleSql]]). */
final class TpchAnalytic(conf: Main.Conf) extends Workload {
  final class State(val spark: SparkSession)

  private val queries = PerLayer.tpchQueries
  private val defs = SparkEntry.queries
  private val exp = Main.expected(conf)
  private val rowsPerPass = exp.get("rows").properties().asScala.map(_.getValue.asLong).sum
  private val resultDir = conf.work.resolve("tpch-results")
  private val fingerprints = scala.collection.mutable.HashMap.empty[String, Int]
  private var passIndex = 0

  private def query(spark: SparkSession, q: String): DataFrame =
    defs(q)(spark, conf.data.toString)

  def setup(spark: SparkSession): State = {
    // warm-up: the pricing-summary query touches the fact table once
    query(spark, "q1_agg").collect()
    new State(spark)
  }

  /** Row multiset as an order-insensitive fingerprint. */
  private def fingerprint(rows: Array[org.apache.spark.sql.Row]): Int =
    rows.map(_.toString).sorted.toSeq.hashCode

  private def save(s: State, q: String, df: DataFrame, rows: Array[org.apache.spark.sql.Row]): Unit =
    s.spark.createDataFrame(rows.toList.asJava, df.schema).coalesce(1)
      .write.mode("overwrite").parquet(resultDir.resolve(q).toString)

  def window(s: State, seconds: Double, tracer: Option[Tracer]): Window = {
    val perQuery = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    var returned = 0L
    val passMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    var failed = 0L
    Main.passes(seconds) { _ =>
      val order = new scala.util.Random(conf.seed * 1000003L + passIndex).shuffle(queries)
      passIndex += 1
      // a query's time includes building its DataFrame (table reads,
      // analysis), which is part of answering it
      val timed = order.map { q =>
        val ((df, rows), ms) = Main.time(tracer match {
          case None =>
            val df = query(s.spark, q)
            (df, df.collect())
          case Some(t) => t.span(s"tpch.$q") {
            val df = query(s.spark, q)
            t.span("spark.plan")(df.queryExecution.executedPlan)
            (df, df.collect())
          }
        })
        (q, df, rows, ms)
      }
      passMs += timed.map(_._4).sum
      val firstSeen = timed.flatMap { case (q, df, rows, ms) =>
        perQuery += q -> ms
        returned += rows.length
        fingerprints.get(q) match {
          case None =>
            fingerprints(q) = fingerprint(rows)
            Some((q, df, rows))
          case Some(f) =>
            if (f != fingerprint(rows)) {
              System.err.println(s"[bench] check failed: $q rows differ from the first pass")
              failed += 1
            }
            None
        }
      }
      // saved concurrently: 22 small writes are mostly per-job latency
      val pool = java.util.concurrent.Executors.newFixedThreadPool(conf.cpus)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      try Await.result(Future.traverse(firstSeen) { case (q, df, rows) =>
        Future(save(s, q, df, rows)) }, Duration.Inf)
      finally pool.shutdown()
    }
    val oracle = queries.map(q => q -> SparkEntry.oracleSql(q)).toMap
    Files.write(resultDir.resolve("oracle_sql.json"), Json.value(oracle).getBytes(StandardCharsets.UTF_8))
    // the op is a pass: a per-query median would hinge on which two of the
    // 22 unlike queries sit in the middle; each query's time is a layer metric
    Window(passMs.toSeq, passMs.sum / 1000, returned, perQuery.size, failed, passMs.size,
      Map("sf" -> exp.get("sf").asDouble, "rows_per_pass" -> rowsPerPass,
        "tpch_pass_s" -> Main.median(passMs.toSeq) / 1000,
        "query_p50_ms" -> Main.median(perQuery.map(_._2).toSeq)))
  }

  def layers(s: State, w: Window, tracer: Tracer, seconds: Double): Map[String, Double] =
    queries.map(q => s"tpch.${q}_ms" -> Main.median(tracer.named(s"tpch.$q").map(_.ms))).toMap
}
