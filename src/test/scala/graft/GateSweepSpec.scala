package graft

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{ExplainMode, FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** Every gate's per-gate contracts from ONE visit to each gate: one
  * build and one collect at sf0.001, then straight after one build and
  * one collect of the same gate at sf0.1. The pass runs once per JVM, for
  * whichever suite asks first, and it is the suite's only loop over the
  * gates. Per gate, in this order:
  *
  *  1. [[Plan]], BEFORE execution — the `simple` explain of an unexecuted
  *     frame is the initial AQE plan (after `collect` it would show the
  *     final one): no CartesianProduct, no unwaived single-partition
  *     window;
  *  2. one collect, [[Rows]]: rows > 0;
  *  3. [[Cells]]: exact-typed cells below 2⁵³
  *     ([[OutputContract.checkCells]]) on the collected rows;
  *  4. [[Scans]], AFTER execution: the AQE-final reuse-aware fact-scan
  *     walk against [[ScanBudget.allow]];
  *  5. [[Headroom]]: the same gate built at [[HeadroomDir]] (sf0.1), its
  *     exact-typed cells checked against 2⁵³/10. Back to back with the
  *     sf0.001 build, most of the classes it needs are still in Spark's
  *     100-entry codegen cache; a second full sweep after the first
  *     recompiled almost all of them.
  *
  * A gate that throws at sf0.001 is a [[Threw]] violation, not an abort;
  * a throw at sf0.1 is a [[Headroom]] violation only. Each rule is
  * asserted by the suite that owns it — PlanSpec, RelationalSpec,
  * OutputContractSpec (Cells and Headroom), ScanBudgetSpec — and each of
  * those also reports every gate that threw at sf0.001.
  */
object GateSweep {

  sealed trait Rule
  case object Plan extends Rule
  case object Rows extends Rule
  case object Cells extends Rule
  case object Scans extends Rule
  case object Headroom extends Rule
  case object Threw extends Rule

  final case class Violation(rule: Rule, msg: String)

  private val TwoP53 = OutputContract.TwoP53

  /** The largest on-disk corpus (the sf0.1 directory beside the suite's
    * sf0.001 one), where [[Headroom]] is checked: a cell growing ∝sf
    * (sums) or ∝sf² (cross-terms) passes at sf0.001 yet crosses 2⁵³ at
    * the scales the cross-engine parity checks hash, so at sf0.1 an exact
    * cell must stay a decade below the boundary (2⁵³/10). */
  val HeadroomDir: String =
    new java.io.File(new java.io.File(SparkSpec.sf).getParentFile, "sf0.1")
      .getPath

  /** Own cloned session: newSession() shares the context and catalog but
    * owns its SQLConf, so a conf another suite left behind (several
    * toggle autoBroadcastJoinThreshold on the shared session) cannot
    * change what is planned here. Gates built on memoized artifact frames
    * keep the ORIGINAL session, so the clone can't shield them — a scan
    * violation is therefore re-collected once before it counts: a real
    * class-4 recompute reproduces deterministically, a transient conf
    * window does not. */
  lazy val session: SparkSession = SparkSpec.session.newSession()

  /** Captured CodeGenerator compile failures (janino "Code grows beyond
    * 64 KB" and friends). A failed whole-stage compile silently falls
    * back to interpreted execution — correct results, hot loop 10×
    * slower, invisible to every green test — the r13 verdict caught two
    * such fallbacks in q_media_pipeline's unrolled BMP expressions. The
    * appender is attached for the length of the pass below, so its
    * executions at both scales double as the codegen-health probe;
    * Spark's compile cache never caches FAILURES, so a failing compile
    * re-logs here even if another suite hit it first.
    * [[OutputContractSpec]] asserts it. */
  val codegenFailures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private val capture = new AbstractAppender("graft-codegen-capture", null,
      null, false, Property.EMPTY_ARRAY) {
    override def append(e: LogEvent): Unit = {
      val msg = String.valueOf(e.getMessage.getFormattedMessage)
      if (msg.contains("Failed to compile") || msg.contains("grows beyond"))
        codegenFailures.add(msg.linesIterator.take(2).mkString(" | "))
    }
  }

  private def onCodegenLog(f: LoggerConfig => Unit): Unit = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    f(ctx.getConfiguration.getLoggerConfig(
      "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"))
    ctx.updateLoggers()
  }

  /** `f` with the capture attached to the CodeGenerator logger. */
  private def capturingCodegen[T](f: => T): T = {
    capture.start()
    onCodegenLog(_.addAppender(capture, Level.ERROR, null))
    try f
    finally {
      onCodegenLog(_.removeAppender(capture.getName))
      capture.stop()
    }
  }

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Classes compiled by every [[checkGate]]'s sf0.1 step so far. */
  private val headroomCompileCount = new java.util.concurrent.atomic.AtomicLong

  /** Gates whose global window runs over a PRE-BOUNDED input, where the
    * single partition holds a few dozen rows by construction:
    *  - q_sort_nulls: the window's input is bounded by the pushed literal
    *    predicate o_orderkey < 300 — a fixed ~75 rows at ANY scale factor
    *    (the keyspace below 300 does not grow with data volume), so its
    *    single partition is a deliberate few-dozen-row null-ordering
    *    probe;
    *  - q_tpch_q15: the global-max window runs on the bucket-maxima
    *    survivor frame — ≤1024 rows + global-max ties by construction at
    *    ANY scale (the per-bucket max window upstream is 1024-way
    *    partitioned; that's the stage that sees the supplier-sized frame);
    *  - q_hits (round 17): the max-rescale windows run on the per-round
    *    (nation, raw) frame — ≤25 rows by the nation-dim schema bound at
    *    ANY corpus scale; the inline window replaced a scalar subquery
    *    whose duplication forced one eager checkpoint job per half-step. */
  private val waivedWindows = Set("q_sort_nulls", "q_tpch_q15", "q_hits")

  /** The two generic 100 TB scale-killers, read off the initial plan:
    *  - a CartesianProduct anywhere — every crossJoin in the repo must
    *    ride a broadcast 1-row/dim frame (BroadcastNestedLoopJoin), never
    *    a partitioned cartesian;
    *  - a WindowExec with an empty partition spec sorts the WHOLE input in
    *    one task; it physically plans Window ← Sort ← Exchange
    *    SinglePartition, so flag any SinglePartition exchange with a
    *    Window within the 3 lines above it. */
  def planViolations(g: String, p: String): Seq[String] = {
    val lines = p.linesIterator.toIndexedSeq
    val globalWindow = lines.indices.exists { i =>
      lines(i).contains("Exchange SinglePartition") &&
        (math.max(0, i - 3) until i).exists(j => lines(j).contains("Window"))
    }
    Seq(
      Option.when(p.contains("CartesianProduct"))(
        s"$g plans a CartesianProduct"),
      Option.when(globalWindow && !waivedWindows(g))(
        s"$g plans an unwaived single-partition window")).flatten
  }

  private val facts = Seq("lineitem", "orders", "events", "documents",
    "embeddings")

  private def scans(p: SparkPlan): Seq[String] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case _: ReusedExchangeExec => Seq.empty
    case f: FileSourceScanExec =>
      f.relation.location.rootPaths.map(_.getName.stripSuffix(".parquet"))
    case other =>
      other.children.flatMap(scans) ++ other.subqueries.flatMap(scans)
  }

  /** Budget violations for one executed gate frame — empty when within
    * its classified budgets. */
  def scanViolations(g: String, df: DataFrame): Seq[String] = {
    val counts = scans(df.queryExecution.executedPlan)
      .groupBy(identity).map { case (k, v) => k -> v.size }
      .filter { case (k, v) => facts.contains(k) && v > 1 }
    counts.toSeq.flatMap { case (table, n) =>
      ScanBudget.allow.getOrElse(g, Seq.empty).find(_._1 == table) match {
        case None => Seq(
          s"$g scans $table $n x but is UNCLASSIFIED - either fix the " +
            "redundant recompute (class 4) or add a classified budget")
        case Some((_, budget, _)) if n > budget => Seq(
          s"$g scans $table $n x, over its classified budget of $budget")
        case _ => Seq.empty
      }
    }
  }

  private def threw(what: String, e: Throwable): String =
    s"$what ${e.getClass.getSimpleName}: " +
      String.valueOf(e.getMessage).linesIterator.take(1).mkString.take(200)

  /** Every per-gate rule on one build and one collect of `build(dir)` at
    * sf0.001, then at [[HeadroomDir]], in the order the object doc gives;
    * a scan violation rebuilds and re-collects once before it counts. A
    * throw at either scale is a violation, and what was found before it
    * is kept. */
  def checkGate(g: String, build: String => DataFrame): Seq[Violation] = {
    val found = ArrayBuffer.empty[Violation]
    def add(rule: Rule, msgs: Seq[String]): Unit =
      found ++= msgs.map(Violation(rule, _))
    try {
      val df = build(SparkSpec.sf)
      add(Plan, planViolations(g,
        df.queryExecution.explainString(ExplainMode.fromString("simple"))))
      val rows = df.collect().toSeq
      add(Rows, Option.when(rows.isEmpty)(s"$g returned no rows").toSeq)
      add(Cells, OutputContract.checkCells(g, df.schema, rows, TwoP53)._1)
      if (scanViolations(g, df).nonEmpty) {
        val retry = build(SparkSpec.sf)
        retry.collect()
        add(Scans, scanViolations(g, retry))
      }
    } catch { case NonFatal(e) => add(Threw, Seq(threw(s"$g threw", e))) }
    val before = compiles
    try {
      val df = build(HeadroomDir)
      // rows are by-name: a gate with no exact-typed column is not
      // collected at sf0.1
      add(Headroom, OutputContract.checkCells(g, df.schema,
        df.collect().toSeq, TwoP53 / 10)._1)
    } catch { case NonFatal(e) =>
      add(Headroom, Seq(threw(s"$g threw at sf0.1", e)))
    }
    headroomCompileCount.addAndGet(compiles - before)
    found.toSeq
  }

  /** The one pass over every registered gate, each visited at sf0.001
    * and then at sf0.1 ([[checkGate]]), inside the CodeGenerator capture;
    * it prints how many Spark jobs it started and how many classes its
    * sf0.1 steps compiled. Streaming gates
    * included (round 17): for a streaming gate the frame returned (and
    * checked) here is its DRAINED batch side — the memory-sink readout
    * plus any batch frames the gate joins against it (e.g.
    * q_stream_drift's baseline scan), which is exactly where a silent
    * batch-side class-4 recompute would land; the per-micro-batch source
    * plans are owned by StreamExecution and are pinned separately
    * (StreamingSpec), not reachable from the returned frame. */
  lazy val violations: Seq[Violation] = capturingCodegen {
    val before = headroomCompileCount.get
    val (found, jobs) = SparkSpec.countingJobs {
      SparkEntry.queries.keys.toSeq.sorted.flatMap { g =>
        checkGate(g, SparkEntry.queries(g)(session, _))
      }
    }
    println(s"[gate-pass] ${SparkEntry.queries.size} gates, " +
      s"${found.size} violations, $jobs Spark jobs; the sf0.1 steps " +
      s"compiled ${headroomCompileCount.get - before} classes")
    found
  }

  /** The pass's violations of `rule`, plus every gate that threw at
    * sf0.001. */
  def report(rule: Rule): Seq[String] =
    violations.collect { case Violation(r, m) if r == rule || r == Threw => m }
}

class GateSweepSpec extends SparkSpec {

  test("TPC-H 22: exactly 22 gates, none in the scan allowlist (so each " +
      "scans lineitem and orders at most once)") {
    // Q1 lives under its round-1 flagship name q1_agg
    val gates = "q1_agg" +:
      SparkEntry.queries.keys.filter(_.startsWith("q_tpch")).toSeq.sorted
    assert(SparkEntry.queries.contains("q1_agg") && gates.size == 22,
      s"expected the TPC-H 22, got ${gates.size}")
    val listed = gates.filter(ScanBudget.allow.contains)
    assert(listed.isEmpty, s"TPC-H gates with a multi-scan budget: $listed")
  }

  test("an injected frame breaking every per-gate rule goes red on each " +
      "in one check") {
    import GateSweep._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.DecimalType
    // own session with broadcast off, so the cross join plans as a
    // partitioned CartesianProduct
    val s3 = spark.newSession()
    s3.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val d = s3.read.parquet(s"$sf/documents.parquet")
    val broken = d.select(sum(col("doc_id")).as("a"))
      .crossJoin(d.select(sum(col("n_chars")).as("b")))
      .withColumn("rank", row_number().over(Window.orderBy(col("a"))))
      .withColumn("big",
        lit(OutputContract.TwoP53.bigDecimal).cast(DecimalType(38, 0)))
    val red = checkGate("q_not_a_gate", _ => broken)
    Seq(Plan -> "CartesianProduct", Plan -> "single-partition window",
      Cells -> "big (decimal)", Scans -> "UNCLASSIFIED",
      Headroom -> "big (decimal)").foreach {
      case (rule, msg) =>
        assert(red.exists(v => v.rule == rule && v.msg.contains(msg)),
          s"missing $rule '$msg' in: $red")
    }
    // an empty result cannot also carry a cell, so rows > 0 gets its own
    // frame
    val none = checkGate("q_not_a_gate", _ => broken.filter(lit(false)))
    assert(none.contains(Violation(Rows, "q_not_a_gate returned no rows")),
      s"got: $none")
    // the sf0.1 side alone: a DECIMAL(38,0) cell of 2^53/10 (rounded up
    // to the next integer, so it is not below the bound) is clean at
    // sf0.001's 2^53 but breaks the 10x headroom
    val tenth = s3.range(1).select(
      lit((OutputContract.TwoP53 / 10).setScale(0,
        BigDecimal.RoundingMode.CEILING).bigDecimal)
        .cast(DecimalType(38, 0)).as("big"))
    val atScale = checkGate("q_not_a_gate", _ => tenth)
    assert(atScale ==
      Seq(Violation(Headroom, "q_not_a_gate.big (decimal) = 900719925474100")),
      s"got: $atScale")
    // a throw at sf0.1 is a Headroom violation, not Threw
    val thrownAtScale = checkGate("q_not_a_gate", dir =>
      if (dir == HeadroomDir) throw new IllegalStateException("boom")
      else tenth)
    assert(thrownAtScale == Seq(Violation(Headroom,
      "q_not_a_gate threw at sf0.1 IllegalStateException: boom")))
    // a gate that throws is reported, not an abort, at each scale
    val thrown = checkGate("q_not_a_gate",
      _ => throw new IllegalStateException("boom"))
    assert(thrown == Seq(
      Violation(Threw, "q_not_a_gate threw IllegalStateException: boom"),
      Violation(Headroom,
        "q_not_a_gate threw at sf0.1 IllegalStateException: boom")))
  }
}
