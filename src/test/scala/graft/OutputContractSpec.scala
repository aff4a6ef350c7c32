package graft

/** Output-boundary contract (the r12 verdict's task #2): every gate's
  * emitted cells must hash identically through ANY engine pair, which
  * means no exact-typed cell may depend on a decimal→double conversion
  * above 2⁵³.
  *
  * Why this boundary: the three r12 hash failures (q_anova_f,
  * q_levene_bf, q_jackknife_ratio) were all VALUE-exact — rows and
  * schema matched and tools/parity.py passed at sf0.01 and sf0.1 — yet
  * the driver's hasher flagged them, because their DECIMAL(38,0) cells
  * sat above 2⁵³ where pyarrow's decimal128→float64 and DuckDB's
  * not-correctly-rounded HUGEINT→DOUBLE can round DIFFERENTLY on the
  * two sides of the compare. BIGINT cells are immune (int64 rides the
  * arrow/pandas path exactly, no double conversion), which is why
  * 64-bit hash/signature columns pass at any magnitude.
  *
  * The contract, per top-level output column:
  *   - DECIMAL (any scale): |v| < 2⁵³ — ALWAYS. A bigger decimal is a
  *     latent cross-engine hash flake even when value-exact; rescale
  *     the emitted unit (exact `div` on both engines) instead.
  *   - BIGINT: |v| < 2⁵³ unless the column is a declared 64-bit
  *     hash/signature/fingerprint (exact int64 end-to-end on both
  *     engines — allowlisted below by (query, column) so a NEW big
  *     long column still trips the spec and forces the author to
  *     classify it).
  *   - DOUBLE/FLOAT: intentional doubles, out of scope (their parity
  *     discipline is the shared-text closing-formula rule).
  *
  * All three tests read the one gate pass ([[GateSweep]]), which visits
  * each gate at sf0.001 and at sf0.1. Arrays/structs are not descended
  * into: no gate emits ARRAY<DECIMAL>, and nested int64 is exact
  * regardless.
  */
class OutputContractSpec extends SparkSpec {

  test("every gate's exact-typed output cells stay below 2^53 at sf0.001") {
    val violations = GateSweep.report(GateSweep.Cells)
    assert(violations.isEmpty,
      s"cells at/above 2^53 — cross-engine hash-fragile; rescale the " +
        s"emitted unit or classify as a 64-bit hash:\n  " +
        violations.take(40).mkString("\n  "))
  }

  /** The r13 verdict's scale-headroom hole: a cell growing ∝sf (sums)
    * or ∝sf² (cross-terms) passes at sf0.001 yet crosses 2⁵³ at the
    * scales the cross-engine parity checks hash. The pass's sf0.1 step
    * checks the LARGEST on-disk corpus with a 10× headroom bound
    * (2⁵³/10): any exact cell that close to the boundary at sf0.1 is one decade of growth
    * from a cross-engine hash flake. (An sf1 probe a decade further up,
    * [[ContractProbe]], is run one-shot per round and recorded in
    * PERF.md; it checks the same [[OutputContract.checkCells]].) A gate
    * that throws at sf0.1 is reported here, and only here. */
  test("every gate's exact-typed output cells keep 10x headroom below " +
      "2^53 at sf0.1 (scale-growth contract)") {
    val violations = GateSweep.report(GateSweep.Headroom)
    assert(violations.isEmpty,
      s"cells above 2^53/10 at sf0.1 (within one decade of the " +
        s"cross-engine hash boundary; rescale the emitted unit), or gates " +
        s"erroring:\n  " + violations.take(40).mkString("\n  "))
  }

  test("no gate trips a CodeGenerator compile failure (silent interpreted " +
      "fallback) across the two full-gate sweeps") {
    // the capture spans the whole pass, at both scales
    GateSweep.violations
    val seen = GateSweep.codegenFailures.toArray(Array.empty[String]).distinct
    assert(seen.isEmpty,
      s"codegen compile failures logged during the sweeps — these plans " +
        s"run interpreted (10x slower hot loops), split the offending " +
        s"expressions:\n  ${seen.take(10).mkString("\n  ")}")
  }
}
