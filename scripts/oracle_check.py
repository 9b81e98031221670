#!/usr/bin/env python3
"""Local pre-check of SparkEntry queries vs the DuckDB oracle.

Mimics the driver's compare: for each query dir under OUTDIR, load the
Spark-written parquet and run the matching oracle SQL from
oracle_sql.json in DuckDB (tables = views over the sfDir parquet
files), sort columns by name, then compare row-by-row values.

Usage: python3 scripts/oracle_check.py SFDIR OUTDIR [query ...]
"""
import decimal, hashlib, json, math, os, sys

import duckdb
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(v):
    """Mimic the driver's value normalization as closely as observed:
    round-1 evidence (scale-1 Decimal passed, scale-2 Decimal failed,
    dates passed) fits str()-level compare with NO float rounding —
    so be exactly that strict here."""
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, list):
        return "[" + ",".join(norm(x) for x in v) + "]"
    return str(v)


def fp_file(p):
    """Mirror of graft.Verify's content fingerprint: size + MD5 of the
    last 64 KiB (the parquet footer — row counts / column stats change
    with any material regen). Content-based so an mtime/size-preserving
    regen is still caught (ADVICE r9)."""
    size = os.path.getsize(p)
    n = min(65536, size)
    with open(p, "rb") as f:
        f.seek(size - n)
        tail = f.read(n)
    return {"size": size, "tail_md5": hashlib.md5(tail).hexdigest()}


def check_fingerprint(sfdir, outdir):
    """Refuse to report green if the fixtures changed since the Verify
    dump (r8: the driver regenerated /root/testdata between the local
    sweep and round close, and a stale 'green' claim shipped)."""
    fp_path = os.path.join(outdir, "fixtures_fingerprint.json")
    if not os.path.exists(fp_path):
        print("WARN  no fixtures_fingerprint.json in outdir "
              "(old Verify dump?) — cannot prove fixtures unchanged")
        return True
    recorded = json.load(open(fp_path))
    if not recorded:
        print(f"WARN  empty fixture fingerprint map — nothing under "
              f"the dump-time sfdir matched *.parquet; drift guard is "
              f"toothless for this sweep")
        return True
    ok = True
    for name, fp in sorted(recorded.items()):
        p = os.path.join(sfdir, name)
        if not os.path.exists(p):
            print(f"FIXTURE DRIFT {name}: file gone since the dump")
            ok = False
            continue
        if "tail_md5" not in fp:  # pre-r10 dump: mtime+size form
            st = os.stat(p)
            now = {"mtime_ms": st.st_mtime_ns // 1_000_000,
                   "size": st.st_size}
        else:
            now = fp_file(p)
        if now != fp:
            print(f"FIXTURE DRIFT {name}: dump-time {fp} vs now {now} "
                  "— re-run graft.Verify before trusting this sweep")
            ok = False
    return ok


def duck_mem():
    """DuckDB's memory cap: $DUCK_MEM if set, else about 60% of the
    machine's MemTotal, so the cap never exceeds the machine."""
    if "DUCK_MEM" in os.environ:
        return os.environ["DUCK_MEM"]
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return "%dMB" % (kb * 6 // 10 // 1024)


def main():
    sfdir, outdir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    fixtures_ok = check_fingerprint(sfdir, outdir)
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    # bound DuckDB's footprint and let heavy oracles SPILL instead of
    # tripping the OOM killer (r15: the sf1z pipeline-audit twins
    # materialize corpus-sized CTE chains; unbounded, the process
    # ballooned past free RAM and died with no diagnostic)
    con.execute("SET memory_limit='%s'" % duck_mem())
    os.makedirs("/tmp/duck_spill", exist_ok=True)
    con.execute("SET temp_directory='/tmp/duck_spill'")
    for t in TABLES:
        p = os.path.join(sfdir, f"{t}.parquet")
        if os.path.isdir(p):  # Spark directory table (e.g. a ScaleGen corpus)
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}/*.parquet')")
        elif os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(os.path.join(outdir, "oracle_sql.json")))
    names = sorted(d for d in os.listdir(outdir)
                   if os.path.isdir(os.path.join(outdir, d)))
    n_pass = n_fail = n_skip = 0
    for name in names:
        if only and name not in only:
            continue
        # read the Spark output with pyarrow directly, NOT through duckdb:
        # the driver hashes our parquet's python values (Decimal for
        # decimal columns, datetime.date for dates, …) — round-tripping
        # through duckdb coerced those to floats/Timestamps and masked
        # the round-1 decimal mismatch
        pdir = os.path.join(outdir, name)
        tbl = pq.read_table(pdir)
        scols_raw = list(tbl.column_names)
        spark_rows = [
            tuple(d[c] for c in scols_raw)
            for d in tbl.to_pylist()]
        if name not in oracle:
            print(f"SKIP  {name}: no oracle ({len(spark_rows)} rows)")
            n_skip += 1
            continue
        # Driver-fidelity (r9 postmortem): the DRIVER lexsorts the
        # pandas frame over ALL columns before hashing; list/struct
        # values crash pandas' Categorical and the query records `err`
        # even if values match. Replicate that sort here so this script
        # fails exactly where the driver fails (h_*_typed shipped green
        # locally in r9 and red in CORRECTNESS_r09 because this step
        # was missing). r20: the sort result was previously DISCARDED
        # (VERDICT r19 §What's-wrong 3) — now actually applied.
        try:
            sdf = tbl.to_pandas()
            sdf = sdf.sort_values(by=list(sdf.columns))
        except Exception as e:
            print(f"FAIL  {name}: driver-sort replication crashed "
                  f"(nested column?): {type(e).__name__}: {e}")
            n_fail += 1
            continue
        try:
            cur = con.execute(oracle[name])
            dcols_raw = [d[0] for d in cur.description]
            duck_rows = cur.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: oracle SQL error: {e}")
            n_fail += 1
            continue
        # Driver-fidelity dtype check (r20, the j_sample_token_budget
        # postmortem): the driver reads the DUCK result through pandas
        # (duckdb .df()), where HUGEINT — e.g. an un-cast SUM(BIGINT)
        # — becomes float64 ("4998.0") while Spark's parquet column is
        # int64 ("4998"): value-identical under fetchall(), hash-
        # mismatched under the driver. fetchall() above keeps the
        # exact-value compare; this classifies each shared column's
        # pandas dtype and fails on an int-vs-float split, the proven
        # driver-failure class (date/decimal object-vs-native splits
        # are observed to pass the driver and stay allowed).
        def dclass(dt):
            k = getattr(dt, "kind", None)
            return {"i": "int", "u": "int", "f": "float"}.get(k, "other")
        try:
            ddf = con.execute(oracle[name]).df()
            for c in sdf.columns:
                if c in ddf.columns and {dclass(sdf[c].dtype),
                                         dclass(ddf[c].dtype)} == {"int", "float"}:
                    raise AssertionError(
                        f"column '{c}': spark pandas dtype {sdf[c].dtype} vs "
                        f"duck pandas dtype {ddf[c].dtype} — the driver "
                        f"hashes these differently (cast the oracle "
                        f"expression to the Spark column's type)")
        except AssertionError as e:
            print(f"FAIL  {name}: driver dtype-fidelity: {e}")
            n_fail += 1
            continue
        except Exception as e:
            print(f"WARN  {name}: dtype-fidelity pass skipped: "
                  f"{type(e).__name__}: {e}")
        scols, dcols = sorted(scols_raw), sorted(dcols_raw)
        if scols != dcols:
            print(f"FAIL  {name}: columns differ spark={scols} duck={dcols}")
            n_fail += 1
            continue
        if len(spark_rows) != len(duck_rows):
            print(f"FAIL  {name}: rows spark={len(spark_rows)} duck={len(duck_rows)}")
            n_fail += 1
            continue
        sidx = [scols_raw.index(c) for c in scols]
        didx = [dcols_raw.index(c) for c in dcols]
        srows = [tuple(norm(r[i]) for i in sidx) for r in spark_rows]
        drows = [tuple(norm(r[i]) for i in didx) for r in duck_rows]
        if srows != drows:
            bad = next(i for i, (a, b) in enumerate(zip(srows, drows)) if a != b)
            print(f"FAIL  {name}: first diff at row {bad}:")
            print(f"      spark: {srows[bad]}")
            print(f"      duck : {drows[bad]}")
            n_fail += 1
            continue
        print(f"PASS  {name} ({len(spark_rows)} rows)")
        n_pass += 1
    if not fixtures_ok:
        print("== FIXTURES DRIFTED since the Verify dump — results above "
              "are NOT trustworthy; re-run graft.Verify ==")
        sys.exit(2)
    print(f"== {n_pass} pass, {n_fail} fail, {n_skip} no-oracle ==")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
