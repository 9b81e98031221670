package graft

/** THE HASH-TWIN PROOF KIT (r13, VERDICT item 7) — the repo's
  * cross-engine verification idioms, unified in one place. No code
  * lives here; this is the map to the four disciplines that let every
  * `SparkEntry.queries` entry be gated by a row/schema/HASH match
  * against an independent DuckDB run of `SparkEntry.oracleSql`, even
  * for operators (sketches, iterative algorithms, streaming folds)
  * that a naive twin could never reproduce bit-for-bit.
  *
  * ==1. Verbatim-splice shared fragments ([[graft.operators.Sketches]])==
  * When both engines must run the SAME nontrivial arithmetic (hash
  * functions, sketch estimators, quantile interpolation), the
  * fragment is written ONCE as an engine-neutral SQL string — plain
  * `%`/`*`/`+` over BIGINT with every intermediate provably < 2⁶³
  * (DuckDB's overflow-checked BIGINT turns a violation into a loud
  * oracle failure, so the bound is itself machine-checked) — and
  * spliced verbatim into the Spark `expr(...)` and the DuckDB twin.
  * The engines cannot drift because there is nothing to keep in sync.
  * Corollaries: no engine-specific operators in shared text (the
  * 62-bit pack is `h1 * 2³¹ + h2`, never a shift), and factor-mod-
  * before-multiply so the bound holds at any scale factor (r13).
  *
  * ==2. The decimal + STRING determinism bridge ([[graft.Det]])==
  * Double summation is order-dependent, so raw double sums flake
  * under partitioning. Fixture measures are exact 2-decimal values,
  * so each row casts EXACTLY to DECIMAL(20,6); the decimal sum is
  * order-free on both engines; one final cast lands in double. The
  * twin's decimal→double hop goes THROUGH A STRING
  * ([[graft.Det.dsumSql]]): DuckDB's direct `CAST(DECIMAL AS DOUBLE)`
  * is not correctly rounded (one-ulp error first seen at sf1
  * magnitudes ≥ 4·10⁹), while its VARCHAR→DOUBLE strtod is — and
  * always agrees with Spark's `BigDecimal.doubleValue`. For measures
  * that cannot go through decimals (stddev, cosine), both sides round
  * to 4 decimals ([[graft.Det.r4]]) — a tolerance DECLARED in the
  * result, not hidden in the compare.
  *
  * ==3. Recursive-CTE / unrolled-iteration twins==
  * Iterative operators (BPE merges, Lloyd's k-means, pointer-jumping
  * label propagation, PageRank supersteps) are oracled by expressing
  * the SAME deterministic iteration in SQL — a recursive CTE where
  * DuckDB's semantics allow (`a_sql_recursive`, BPE), or the fixed
  * iteration count unrolled as a CTE chain (`lloydSql` in AnnOps;
  * PageRank's power steps) with order-replicated float arithmetic.
  * The preconditions are all determinism disciplines: fixed
  * iteration counts, ordered bounded samples, ties broken by id —
  * if the Spark side needs `sortBy` to be reproducible, the twin
  * needs the same `ORDER BY`.
  *
  * ==4. Set-function sketches: oracling the MERGE, not the estimate==
  * A bottom-k sketch (KMV distinct-count, k-sample rank sketch —
  * [[graft.functions.KmvSketch]]) is a pure SET function of its
  * input: row order, partitioning, and merge shape cannot change it.
  * So the twin computes the ONE-SHOT sketch with a window rank, the
  * Spark side computes union-of-daily-sketches, and the HASH MATCH
  * PROVES mergeability (union-of-bottom-k ≡ bottom-k-of-union) —
  * the approximation guarantee is spec-gated, but the sketch bytes
  * are oracled. This is the pattern that moved the last soft rows
  * onto the hard gate in r12.
  *
  * ==Adjacent: the streaming clamp discipline (not an oracle idiom)==
  * Stateful streaming twins cannot be DuckDB-oracled; their gate is
  * batch-fold parity under the WatermarkFuzzSpec simulator plus the
  * watermark-clamp discipline (never arm a timeout at or below the
  * current watermark; resolve already-expired horizons in the data
  * path) — see [[graft.streaming.AsofStream.step]] for the canonical
  * shape every [[graft.streaming.StepProcessor]] operator follows.
  *
  * ==Where the compare happens==
  * [[graft.Verify]] dumps each entry's result as parquet plus
  * `oracle_sql.json`; the driver (and `scripts/oracle_check.py`
  * locally) runs each twin in DuckDB over the same parquet tables,
  * sorts columns by name, and compares row-by-row — which is why
  * every computed column is aliased to the SAME name on both sides,
  * and why every entry ends in a total ORDER BY.
  */
object OracleKit {
  /** Session-conf flag [[graft.Verify]] raises before running the
    * registry under the differential harness (r15, ADVICE r14):
    * entries whose oracle twin PINS a tunable (e.g. j_ann_lsh_topk's
    * 8 hyperplanes) check this flag and refuse a non-default knob
    * instead of silently diverging from the static twin SQL. */
  val HarnessKey = "spark.graft.oracle.harness"
}
