"""Records the golden (count, hash) results of query_mix.

For each input variant (seed mod 3) this runs every query of the mix once
on the seeded tables, cross-checks its row count against the query's
DuckDB oracle SQL (SparkEntry.oracleSql) where one exists, and writes
perfbench/golden/query_mix.tsv. A count that disagrees with DuckDB stops
the recording.

    python3 perfbench/record_golden.py
"""
import glob
import os
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import run  # noqa: E402

VARIANTS = 3


def duckdb_counts(run_dir):
    import duckdb
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for d in glob.glob(os.path.join(run_dir, "data", "*.parquet")):
        t = os.path.basename(d)[:-len(".parquet")]
        con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s/*.parquet')" % (t, d))
    counts = {}
    for f in sorted(glob.glob(os.path.join(run_dir, "oracle", "*.sql"))):
        with open(f) as fh:
            sql = fh.read()
        name = os.path.basename(f)[:-len(".sql")]
        counts[name] = con.execute("SELECT count(*) FROM (%s) q" % sql).fetchone()[0]
    return counts


def main():
    classes = build.build()
    rows = []
    for v in range(VARIANTS):
        run_dir = run.fresh_dir("golden", "v%d" % v)
        out = os.path.join(run_dir, "golden.tsv")
        code, _ = run.jvm(classes, run_dir, "perfbench.Main",
                          ["--workload", "query_mix", "--seed", str(v), "--seconds", "0",
                           "--out", os.path.join(run_dir, "result.json"), "--record", out], 600)
        if code != 0:
            sys.exit("record_golden: variant %d failed, see %s/jvm.err" % (v, run_dir))
        oracle = duckdb_counts(run_dir)
        with open(out) as fh:
            for line in fh.read().split("\n"):
                if not line:
                    continue
                var, name, count, digest = line.split("\t")
                duck = oracle.get(name)
                if duck is not None and duck != int(count):
                    sys.exit("record_golden: %s variant %s: spark %s rows, duckdb %s"
                             % (name, var, count, duck))
                rows.append("\t".join([var, name, count, digest,
                                       "-" if duck is None else str(duck)]))
    with open(run.GOLDEN, "w") as fh:
        fh.write("# query_mix golden results: variant, query, rows, "
                 "bit_xor(xxhash64) of the canonical row, DuckDB oracle rows (- = no oracle)\n")
        fh.write("# recorded by perfbench/record_golden.py\n")
        fh.write("\n".join(rows) + "\n")
    print("wrote %s (%d rows)" % (run.GOLDEN, len(rows)))


if __name__ == "__main__":
    main()
