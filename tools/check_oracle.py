#!/usr/bin/env python3
"""Local pre-check mimicking the driver's t2 correctness gate.

Usage: python3 tools/check_oracle.py <verifyOutDir> <sfDir> [query ...]

Reads each <outDir>/<name> parquet (written by graft.Verify), runs the
matching SQL from <outDir>/oracle_sql.json in DuckDB against the sf parquet
tables, sorts columns by name and rows by value, and compares cell-by-cell.
Floats are compared exactly (both sides round explicitly in the queries) with
a 1e-9 fallback report so near-misses are distinguishable from real bugs.

A mismatch prints FAIL; an exception raised while DuckDB runs the oracle
query prints ERROR, so an oracle that could not run is not mistaken for a
wrong Spark result. Both count as failures and give a non-zero exit code.
DuckDB may use half of the host's memory and spills the rest to
<outDir>/duckdb_tmp.
"""
import json
import math
import os
import sys

import duckdb


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        rr = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = round(v, 9)
            rr.append(v)
        out.append(tuple(rr))
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return [cols[i] for i in order], out


def close(a, b):
    if a == b:
        return True
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))
    return False


def half_of_memory():
    """Half of MemTotal as a DuckDB size string, or None when unknown."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return f"{int(line.split()[1]) // 2048}MB"
    except OSError:
        pass
    return None


def main():
    out_dir, sf_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    con = duckdb.connect()
    limit = half_of_memory()
    if limit:
        con.execute(f"SET memory_limit = '{limit}'")
    tmp = os.path.join(out_dir, "duckdb_tmp")
    os.makedirs(tmp, exist_ok=True)
    con.execute(f"SET temp_directory = '{tmp}'")
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    n_pass = n_fail = n_error = 0
    for name, sql in sorted(oracle.items()):
        if only and name not in only:
            continue
        try:
            mine = con.execute(
                f"SELECT * FROM '{out_dir}/{name}/*.parquet'")
            mrows, mcols = mine.fetchall(), [d[0] for d in mine.description]
        except Exception as e:
            print(f"FAIL {name}: {type(e).__name__}: {e}")
            n_fail += 1
            continue
        try:
            ref = con.execute(sql)
            rrows, rcols = ref.fetchall(), [d[0] for d in ref.description]
        except Exception as e:
            print(f"ERROR {name}: oracle query raised "
                  f"{type(e).__name__}: {e}")
            n_error += 1
            continue
        # IEEE -0.0 sweep on BOTH engines: Spark's BigDecimal round
        # normalizes the zero sign but DuckDB's round keeps it, so a bare
        # round() over a can-be-negative expression in the ORACLE SQL emits
        # -0.0 that the Spark side never produces (the fx_spread class) —
        # only this cross-engine check can see the DuckDB side; the
        # Spark-side twin lives in PlanAuditSpec. Flagged as a failure so
        # the query gets normalized (`round(...) + 0`) before the driver's
        # hash does the flagging.
        def negzeros(rows):
            return sum(1 for r in rows for v in r
                       if isinstance(v, float) and v == 0.0
                       and math.copysign(1.0, v) < 0)
        nz_m, nz_r = negzeros(mrows), negzeros(rrows)
        if nz_m or nz_r:
            print(f"FAIL {name}: NEGZERO unnormalized -0.0 "
                  f"(spark {nz_m}, oracle {nz_r}) — add `+ 0` after round()")
            n_fail += 1
            continue
        mc, mr = canon(mrows, mcols)
        rc, rr = canon(rrows, rcols)
        if mc != rc:
            print(f"FAIL {name}: columns {mc} != oracle {rc}")
            n_fail += 1
            continue
        if len(mr) != len(rr):
            print(f"FAIL {name}: {len(mr)} rows != oracle {len(rr)}")
            n_fail += 1
            continue
        bad = [(a, b) for a, b in zip(mr, rr) if a != b]
        if bad:
            soft = all(all(close(x, y) for x, y in zip(a, b))
                       for a, b in bad)
            tag = "NEAR" if soft else "FAIL"
            print(f"{tag} {name}: {len(bad)}/{len(mr)} rows differ; "
                  f"first: {bad[0][0]} != {bad[0][1]}")
            n_fail += 1
            continue
        print(f"PASS {name}: {len(mr)} rows")
        n_pass += 1
    print(f"== {n_pass} pass, {n_fail} fail, {n_error} error ==")
    sys.exit(1 if n_fail or n_error else 0)


if __name__ == "__main__":
    main()
