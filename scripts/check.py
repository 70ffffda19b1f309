#!/usr/bin/env python3
"""Local correctness harness mimicking the driver's DuckDB-oracle compare.

Usage: python3 scripts/check.py [sfDir] [verifyOutDir] [recordPath]
Reads verifyOutDir/oracle_sql.json (written by graft.Verify), runs each SQL
in DuckDB against the sfDir parquet tables, and exact-compares with the
parquet results Verify wrote (columns sorted by name, rows sorted).

Writes its run record at recordPath (default records/check_<sfName>.json
under the cwd): the git head, whether the tree was dirty, the sf dir, and
per query {"rows_match": bool, "schema_match": bool, "hash_match": bool,
"err": null|str}. A rerun overwrites it; git keeps the history. Exits 1
when any query does not match.
This is a dev-side tool only — the shipped library is pure Scala/Spark.
"""
import hashlib
import json
import os
import sys

import duckdb
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def table_src(sfdir, t):
    """DuckDB source for a table: the driver testdata is one file per
    table, ScaleGen-staged scale points are a directory of part files."""
    import os
    p = f"{sfdir}/{t}.parquet"
    return f"{p}/*.parquet" if os.path.isdir(p) else p


def frame_hash(df):
    """md5 over the column-name-sorted, row-sorted value matrix — the
    driver's hash semantics (columns sorted by name before hashing)."""
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return hashlib.md5(
        df.to_csv(index=False, float_format="%.12g").encode()).hexdigest()


def _git(*args):
    """Output of a git command in this checkout, None when git cannot answer."""
    import subprocess
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    try:
        return subprocess.run(["git", *args], cwd=repo, capture_output=True,
                              text=True, check=True).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        return None


def main():
    sfdir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    outdir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/graft_verify"
    record_path = sys.argv[3] if len(sys.argv) > 3 else os.path.join(
        "records", "check_%s.json" % os.path.basename(os.path.normpath(sfdir)))

    def fresh_con():
        # fresh connection per query: a fatal DuckDB error on one oracle
        # must not cascade into the rest
        c = duckdb.connect()
        for t in TABLES:
            c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{table_src(sfdir, t)}'")
        return c

    # Optional per-query oracle timeout (seconds): at staged scale points
    # a single super-linear oracle (token self-joins, all-pairs ground
    # truths that slipped the exclusion list) must cost its own entry,
    # not stall the whole gate. duckdb supports cross-thread interrupt;
    # an interrupted query surfaces as its own error string in the record.
    timeout_s = float(os.environ.get("GRAFT_ORACLE_TIMEOUT", "0") or 0)

    def run_with_timeout(con, sql):
        if timeout_s <= 0:
            return con.execute(sql).fetchdf()
        import threading
        done = threading.Event()

        def interrupter():
            if not done.wait(timeout_s):
                try:
                    con.interrupt()
                except Exception as e:
                    # a swallowed interrupt failure silently disables the
                    # timeout — the exact stall the feature exists to stop
                    print(f"WARNING: oracle timeout interrupt() failed "
                          f"({type(e).__name__}: {e}); GRAFT_ORACLE_TIMEOUT "
                          f"is NOT enforced for this query", flush=True)
        t = threading.Thread(target=interrupter, daemon=True)
        t.start()
        try:
            return con.execute(sql).fetchdf()
        finally:
            done.set()

    oracle = json.load(open(f"{outdir}/oracle_sql.json"))

    # Scale-point oracle overlay (GRAFT_SCALE_ORACLES=1): swap in the
    # tractable equivalents Verify dumped for the queries whose graded
    # oracle is a deliberately quadratic/recursive ground truth. The
    # certification method is recorded per query so a big-SF pass names
    # HOW it was certified. Never set this for the graded sf0.01 gate.
    scale_methods = {}
    if os.environ.get("GRAFT_SCALE_ORACLES"):
        # Graded-gate guard (ADVICE r11): the overlay exists for sf1+
        # scale points where the quadratic ground truths are intractable;
        # at the GRADED scale points the original oracles must run. A
        # stray env var must not silently certify the graded gate with
        # the weaker equivalents.
        graded = os.path.basename(os.path.normpath(sfdir))
        if graded in ("sf0.01", "sf0.001"):
            sys.exit(f"GRAFT_SCALE_ORACLES=1 refused at graded scale point "
                     f"{graded}: unset it — the graded gate runs the "
                     f"original oracles only")
        try:
            overlay = json.load(open(f"{outdir}/scale_oracle_sql.json"))
        except FileNotFoundError:
            overlay = {}
        for name, ent in overlay.items():
            if name in oracle:
                oracle[name] = ent["sql"]
                scale_methods[name] = ent["method"]
        print(f"scale-oracle overlay active: {len(scale_methods)} queries "
              f"({', '.join(sorted(scale_methods))})")

    record = {}
    n_fail = 0
    for name, sql in sorted(oracle.items()):
        rec = {"rows_match": False, "schema_match": False,
               "hash_match": False, "err": None}
        if name in scale_methods:
            rec["method"] = scale_methods[name]
        record[name] = rec
        try:
            exp = run_with_timeout(fresh_con(), sql)
            got = duckdb.connect().execute(
                f"SELECT * FROM '{outdir}/{name}.parquet'").fetchdf()
        except Exception as e:
            rec["err"] = str(e)[:300]
            print(f"FAIL {name}: {e}")
            n_fail += 1
            continue
        rec["schema_match"] = sorted(exp.columns) == sorted(got.columns)
        rec["rows_match"] = len(exp) == len(got)
        if not rec["schema_match"]:
            print(f"FAIL {name}: cols {sorted(got.columns)} != {sorted(exp.columns)}")
            n_fail += 1
            continue
        exp = exp.reindex(sorted(exp.columns), axis=1)
        got = got.reindex(sorted(got.columns), axis=1)
        if not rec["rows_match"]:
            print(f"FAIL {name}: rows {len(got)} != {len(exp)}")
            n_fail += 1
            continue
        cols = list(exp.columns)
        exp = exp.sort_values(by=cols, ignore_index=True)
        got = got.sort_values(by=cols, ignore_index=True)
        try:
            pd.testing.assert_frame_equal(got, exp, check_dtype=False,
                                          check_exact=True)
            rec["hash_match"] = frame_hash(got) == frame_hash(exp)
            if rec["hash_match"]:
                print(f"ok   {name} ({len(got)} rows)")
            else:
                print(f"FAIL {name}: hash mismatch (values equal but "
                      f"serialization differs)")
                n_fail += 1
        except AssertionError as e:
            print(f"FAIL {name}: value mismatch\n  {str(e)[:500]}")
            n_fail += 1
    os.makedirs(os.path.dirname(record_path) or ".", exist_ok=True)
    with open(record_path, "w") as f:
        json.dump({"head": _git("rev-parse", "HEAD"),
                   "dirty": bool(_git("status", "--porcelain",
                                      "--untracked-files=no")),
                   "sf": sfdir, "queries": record},
                  f, indent=1, sort_keys=True)
    n_ok = len(oracle) - n_fail
    print(f"\n{n_ok}/{len(oracle)} oracle queries match -> {record_path}")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
