package graft

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** The output-boundary contract (r12 verdict task #2, extended r13→r14):
  * no exact-typed (DECIMAL / non-hash BIGINT) output cell may sit where a
  * decimal→double conversion can round differently across engines — i.e.
  * at or above 2⁵³. Shared by the test suite (the one gate pass,
  * graft.GateSweep, at sf0.001 against 2⁵³ and at sf0.1 against 2⁵³/10)
  * and [[ContractProbe]] (the one-shot per-round probe at the /tmp/sf1
  * decade, recorded in PERF.md).
  */
object OutputContract {

  val TwoP53 = BigDecimal(BigInt(1) << 53)

  /** Declared magnitude-free BIGINT columns: exact int64 cross-engine,
    * each with a reason. Keyed (query, column) so new big-long
    * emissions fail loudly until classified here.
    *  - q_simhash.simhash — a 64-bit fingerprint; magnitude IS the value
    *  - q_scd2_build.valid_to — the open-validity sentinel
    *    Long.MaxValue, emitted literally by both engines
    *  - q_try_arith.{add,mul}_maybe — try_add/try_multiply overflow
    *    probes whose POINT is to sit near the int64 edge
    *  - *_us / valid_from (CDC/SCD2 family) — epoch-MICROSECOND
    *    instants (~1.7×10¹⁵ ≈ 0.19·2⁵³): the magnitude IS the value,
    *    fixed by the calendar (not the corpus — 2⁵³ is year ~2255), and
    *    epoch_us/unix_micros are exact int64 end-to-end on both engines */
  val hashCols: Set[(String, String)] = Set(
    ("q_simhash", "simhash"),
    ("q_corpus_diff", "id_xor"), // bit_xor membership checksum (r14)
    ("q_scd2_build", "valid_to"),
    ("q_try_arith", "add_maybe"),
    ("q_try_arith", "mul_maybe"),
    ("q_cdc_apply", "last_us"),
    ("q_stream_cdc", "last_us"),
    ("q_stream_cdc_ttl", "last_us"),
    ("q_scd2_build", "valid_from"),
    ("q_scd2_asof", "probe_us"),
    ("q_scd2_asof", "since_us"))

  /** One gate's exact-typed cells vs `bound`, read off its collected
    * `rows`: returns (violations, maxCellAbs) — maxCellAbs over the gate's
    * checked cells (None when the gate emits no exact-typed cell). `rows`
    * is by-name: a schema with no exact-typed column never forces it, so
    * a caller that has not collected yet skips running such a gate. */
  def checkCells(name: String, schema: StructType, rows: => Seq[Row],
      bound: BigDecimal): (Seq[String], Option[BigDecimal]) = {
    val checked = schema.fields.zipWithIndex.collect {
      case (f, i) if f.dataType.isInstanceOf[DecimalType] =>
        (f.name, i, "decimal")
      case (f, i) if f.dataType == LongType && !hashCols((name, f.name)) =>
        (f.name, i, "bigint")
    }
    val cells =
      if (checked.isEmpty) Nil
      else for (row <- rows; (cn, i, kind) <- checked
          if !row.isNullAt(i)) yield {
        val v = kind match {
          case "decimal" => BigDecimal(row.getDecimal(i))
          case _ => BigDecimal(row.getLong(i))
        }
        (cn, kind, v)
      }
    (cells.collect { case (cn, kind, v) if v.abs >= bound =>
        s"$name.$cn ($kind) = $v" }.distinct,
      cells.map(_._3.abs).maxOption)
  }
}

/** One-shot contract probe: sweeps every gate at an arbitrary corpus
  * (default the /tmp/sf1 decade-up probe data) and prints the violations
  * plus the gates closest to the 2⁵³ boundary — the per-round evidence
  * PERF.md records so "the contract holds a decade above replay scale"
  * is a measurement, not an extrapolation.
  *
  * Usage: runMain graft.ContractProbe [dir=/tmp/sf1] [boundDiv=1] [name...]
  * (boundDiv divides 2⁵³, e.g. 10 asserts the sf0.1-style headroom rule;
  * trailing name substrings restrict the sweep for iteration.)
  */
object ContractProbe {
  import OutputContract.{TwoP53, checkCells}

  /** Sweep + per-gate max-cell magnitudes (as a fraction of 2⁵³), for the
    * probe's headroom report. A gate that throws at the probe corpus is
    * returned in the third seq (name → error) instead of aborting the
    * sweep — at a decade above the replay envelope an individual data
    * surprise must not hide every other gate's headroom reading. (The
    * test suite does not run this loop: its one gate pass, GateSweep,
    * checks the same contract at sf0.001 and sf0.1.) */
  private def sweep(spark: SparkSession, dir: String, bound: BigDecimal,
      nameFilters: Seq[String])
      : (Seq[String], Seq[(String, Double)], Seq[(String, String)]) = {
    val errs = scala.collection.mutable.ArrayBuffer[(String, String)]()
    val all = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) =>
        nameFilters.isEmpty || nameFilters.exists(n.contains) }
      .map { case (name, fn) =>
      try {
        val df = fn(spark, dir)
        val (v, m) = checkCells(name, df.schema, df.collect().toSeq, bound)
        (v, m.map(x => name -> (x / TwoP53).toDouble))
      } catch { case e: Throwable =>
        val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
          .map(t => s"${t.getClass.getSimpleName}: " +
            String.valueOf(t.getMessage).take(200))
          .mkString(" <- ")
        errs += name -> chain
        (Nil, None)
      }
    }
    (all.flatMap(_._1), all.flatMap(_._2), errs.toSeq)
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/sf1")
    val boundDiv = args.lift(1).map(BigDecimal(_)).getOrElse(BigDecimal(1))
    val nameFilters = args.drop(2).toSeq
    val cpus = GraftSession.defaultCpus
    val spark = GraftSession
      .builder(master = s"local[$cpus]", appName = "graft-contract-probe",
        shufflePartitions = cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val (violations, headroom, errs) =
      sweep(spark, dir, TwoP53 / boundDiv, nameFilters)
    val top = headroom.sortBy(-_._2).take(20)
      .map { case (n, f) => f"$n%-28s ${f}%.6f" }
    println(s"[probe] dir=$dir bound=2^53/${boundDiv} gates=${headroom.length}")
    println(s"[probe] top max-cell / 2^53 fractions:\n  " +
      top.mkString("\n  "))
    if (errs.nonEmpty)
      println(s"[probe] gates erroring at this corpus (${errs.length}):\n  " +
        errs.map { case (n, e) => s"$n: $e" }.mkString("\n  "))
    if (violations.nonEmpty) {
      println(s"[probe] VIOLATIONS (${violations.length}):\n  " +
        violations.take(40).mkString("\n  "))
      spark.stop(); sys.exit(1)
    }
    if (errs.nonEmpty) {
      // A partial sweep is NOT a clean pass: gates that threw at this
      // corpus may hide violations. Exit 2 so automation keying on the
      // exit code can tell "clean" (0) from "incomplete" (2) from
      // "violated" (1).
      println("[probe] contract holds on every gate that ran — " +
        s"INCOMPLETE sweep (${errs.length} gates erred), exiting 2")
      spark.stop(); sys.exit(2)
    }
    println("[probe] contract holds")
    spark.stop()
  }
}
