package bench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one measured window produced. `opsMs` holds one latency per op
  * (a request, a curation pass or a TPC-H pass); `items` counts the work
  * units the ops delivered (features served, documents curated, result
  * rows). */
final case class Window(opsMs: Seq[Double], wallS: Double, items: Long,
    attempted: Long, failed: Long, passes: Long,
    detail: Map[String, Any] = Map.empty)

/** One benchmark workload over its generated inputs. */
trait Workload {
  type State
  /** Table registration and warm-up on a fresh session; timed as set-up. */
  def setup(spark: SparkSession): State
  def teardown(s: State): Unit = ()
  /** Whether to run one untimed, checked round of ops (one pass, or one
    * request per client) between set-up and the measured window, so the
    * window does not start on cold generated code. */
  def settles: Boolean = false
  /** Runs ops until `seconds` have passed; with a tracer, ops open spans. */
  def window(s: State, seconds: Double, tracer: Option[Tracer]): Window
  /** Layer metrics read from a traced window's spans, plus any extra
    * one-at-a-time decomposition the workload needs to attribute time. */
  def layers(s: State, w: Window, tracer: Tracer, seconds: Double): Map[String, Double]
}

object Main {
  final case class Conf(workload: String, seed: Long, seconds: Double, trace: Boolean,
      data: Path, work: Path, cpus: Int, heap: String, out: Path)

  /** Set-up is repeated this many times per run and its median reported. */
  val Setups = 3

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val conf = Conf(a("workload"), a("seed").toLong, a("seconds").toDouble,
      a("trace") == "1", Paths.get(a("data")), Paths.get(a("work")),
      a("cpus").toInt, a("heap"), Paths.get(a("out")))
    val code = try { run(conf); 0 } catch {
      case e: Throwable =>
        e.printStackTrace()
        Files.write(conf.out, Json.obj("error" -> e.toString).getBytes(StandardCharsets.UTF_8))
        1
    }
    // Spark and the HTTP server leave non-daemon threads behind
    System.exit(code)
  }

  def session(conf: Conf): SparkSession = {
    val s = graft.GraftSession.builder(master = s"local[${conf.cpus}]",
        appName = "graft-bench", shufflePartitions = conf.cpus)
      .config("spark.local.dir", conf.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", conf.work.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", conf.work.resolve("tmp").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def workload(conf: Conf): Workload = conf.workload match {
    case "ates_serve" => new AtesServe(conf)
    case "corpus_curate" => new Curate(conf)
    case "tpch_analytic" => new TpchAnalytic(conf)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private val t0 = System.nanoTime()
  def phase(name: String): Unit =
    System.err.println(f"[bench] ${(System.nanoTime() - t0) / 1e9}%.1fs $name")

  def run(conf: Conf): Unit = {
    val w = workload(conf)
    // Set-up: fresh session, registration, warm-up. Every repetition but
    // the last is torn down again.
    val setupS = mutable.ArrayBuffer.empty[Double]
    var state: w.State = null.asInstanceOf[w.State]
    var spark: SparkSession = null
    for (i <- 0 until Setups) {
      val t0 = System.nanoTime()
      spark = session(conf)
      state = w.setup(spark)
      setupS += (System.nanoTime() - t0) / 1e9
      if (i < Setups - 1) { w.teardown(state); spark.stop() }
    }
    phase("set-up done")

    // every window's ops are checked and count as attempted
    val windows = mutable.ArrayBuffer.empty[Window]
    def measure(seconds: Double, tracer: Option[Tracer] = None): Window = {
      val win = w.window(state, seconds, tracer)
      windows += win
      win
    }
    val settle = if (w.settles) Some(measure(0)) else None
    val base = measure(conf.seconds)
    phase("window done")
    val result = mutable.LinkedHashMap[String, Any](
      "e2e" -> endToEnd(base, median(setupS.toSeq)))
    if (conf.trace) {
      // an untraced window right before the traced one is the baseline for
      // the tracing overhead (the first window may still be warming up)
      val untraced = measure(conf.seconds)
      val tracer = new Tracer(spark.sparkContext)
      val g0 = Gauges.now()
      val traced = measure(conf.seconds, Some(tracer))
      result("layers") = layers(conf, w, state, tracer, untraced, traced, Gauges.now() - g0)
      result("traced_detail") = traced.detail
      phase("traced window done")
    }
    w.teardown(state)
    spark.stop()
    result("attempted") = windows.map(_.attempted).sum
    result("failed") = windows.map(_.failed).sum
    result("detail") = mutable.LinkedHashMap[String, Any](
      "workload" -> conf.workload, "seed" -> conf.seed, "cpus" -> conf.cpus,
      "heap" -> conf.heap, "setup_s" -> setupS, "ops" -> base.opsMs.size,
      "passes" -> base.passes, "items" -> base.items, "window_s" -> base.wallS,
      "op_p90_ms" -> quantile(base.opsMs, 0.9), "items_per_s" -> base.items / base.wallS,
      "settle_ms" -> settle.fold(Seq.empty[Double])(_.opsMs), "ops_ms" -> base.opsMs) ++
      base.detail
    Files.write(conf.out, Json.value(result).getBytes(StandardCharsets.UTF_8))
  }

  /** Every declared per-layer metric of a traced window: the Spark-side
    * counts per op (and per pass), then the workload's own layer metrics;
    * 0 where the layer did no work. `gauges` moved during the window. */
  def layers(conf: Conf, w: Workload, state: Any, tracer: Tracer, untraced: Window,
      traced: Window, gauges: Gauges): mutable.LinkedHashMap[String, Double] = {
    tracer.drain()
    // every job lands on exactly one span (its innermost) or none
    val total = new Counts
    tracer.all.foreach(s => total.add(s.counts))
    total.add(tracer.unattributed)
    val ops = traced.opsMs.size.toDouble
    val passes = traced.passes.toDouble
    val plan = tracer.named("spark.plan").map(_.ms).sum
    val generic = Map(
      "spark.jobs_per_request" -> total.jobs.sum / ops,
      "spark.tasks_per_request" -> total.tasks.sum / ops,
      "spark.codegen_compiles_per_request" -> gauges.compiles / ops,
      "spark.codegen_ms_per_request" -> gauges.compileMs / ops,
      "spark.plan_ms_per_request" -> plan / ops,
      "spark.plan_ms" -> plan / passes,
      "sources.rows_scanned_per_row_returned" -> total.rowsIn.sum / traced.items.toDouble,
      "spark.shuffle_bytes_per_request" -> total.shuffleWrite.sum / ops,
      "spark.shuffle_bytes" -> total.shuffleWrite.sum / passes,
      "spark.executor_busy_ratio" -> total.taskRunMs.sum / (traced.wallS * 1000.0 * conf.cpus),
      "trace.overhead_ratio" -> median(traced.opsMs) / median(untraced.opsMs))
    val specific = w.layers(state.asInstanceOf[w.State], traced, tracer, conf.seconds)
    tracer.drain()
    tracer.dump(conf.work.resolve(s"trace-${conf.workload}.jsonl"))
    val out = mutable.LinkedHashMap.empty[String, Double]
    PerLayer.names.foreach(n => out(n) = 0.0)
    (generic ++ specific).foreach { case (k, v) =>
      require(out.contains(k), s"per-layer metric $k is not declared")
      out(k) = v
    }
    out
  }

  def endToEnd(w: Window, setupS: Double): Map[String, Double] = Map(
    "setup_s" -> setupS,
    "op_p50_ms" -> quantile(w.opsMs, 0.5),
    "ops_per_s" -> w.opsMs.size / w.wallS,
    "rss_peak_mb" -> rssPeakMb)

  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted.toIndexedSeq
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def rssPeakMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** Runs `op` in `clients` threads (closed loop) until the deadline, at
    * least once per thread; each call gets a fresh sequence number. */
  def closedLoop(clients: Int, seconds: Double)(op: Long => Unit): Double = {
    val next = new java.util.concurrent.atomic.AtomicLong(0)
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until clients).map { _ =>
      val t = new Thread(() => {
        try do op(next.getAndIncrement()) while (System.nanoTime() < deadline)
        catch { case e: Throwable => errors.add(e) }
      })
      t.start()
      t
    }
    threads.foreach(_.join())
    if (!errors.isEmpty) throw errors.peek()
    (System.nanoTime() - t0) / 1e9
  }

  /** Runs whole passes until the deadline (at least one). */
  def passes(seconds: Double)(pass: Int => Unit): Double = {
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    var i = 0
    while (i == 0 || System.nanoTime() < deadline) { pass(i); i += 1 }
    (System.nanoTime() - t0) / 1e9
  }

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  /** Reads the generator's ground truth. */
  def expected(conf: Conf): com.fasterxml.jackson.databind.JsonNode =
    new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(conf.data.resolve("expected.json").toFile)
}

/** Every per-layer metric the benchmark declares, in a fixed order; a
  * traced run reports all of them (0 where the layer does no work in that
  * workload). */
object PerLayer {
  val tpchQueries: Seq[String] =
    "q1_agg" +: (2 to 22).map(i => s"q_tpch_q$i")

  val names: Seq[String] = Seq(
    "spark.jobs_per_request", "spark.tasks_per_request",
    "spark.codegen_compiles_per_request", "spark.codegen_ms_per_request",
    "spark.plan_ms_per_request", "spark.plan_ms",
    "sources.rows_scanned_per_row_returned",
    "spark.shuffle_bytes_per_request", "spark.shuffle_bytes",
    "spark.executor_busy_ratio", "trace.overhead_ratio",
    "ates.kml_placemarks_ms", "ates.doc_name_ms", "ates.feature_collection_ms",
    "sinks.write_kmz_ms", "sinks.kmz_bytes_per_kml_byte", "http.overhead_ms",
    "kmz.jobs_per_request", "kmz.tasks_per_request",
    "kmz.codegen_compiles_per_request", "kmz.rows_scanned_per_request",
    "operators.sample_s", "operators.scrub_s", "operators.minhash_pairs_s",
    "operators.pack_s", "sinks.jsonl_write_s", "operators.dup_pairs",
    "operators.lsh_bucket_drops", "operators.scrub_dropped",
    "operators.planted_dup_recall") ++ tpchQueries.map(q => s"tpch.${q}_ms")
}
