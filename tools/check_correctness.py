"""Local replica of the driver's correctness gate.

Runs every declared query both ways — Spark implementation vs DuckDB
oracle SQL on the same parquet — and compares row count, schema (column
names), and the order-insensitive multiset of row values. Stricter than
any reasonable hash: floats must match exactly unless --tol is given.

Usage: python tools/check_correctness.py [--sf /root/testdata/sf0.01] [name ...]
"""

from __future__ import annotations

import argparse
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def canon(v, tol: float):
    """Canonicalize a cell value, TYPE-TAGGED.

    Dtype-strict (VERDICT r6 #2): the driver's value hash is
    type-sensitive — DuckDB returning a windowed sum as HUGEINT→float64
    while Spark emits int64 must FAIL here too, even though
    ``500 == 500.0`` in Python. So scalars carry a kind tag: an int
    column and a float column can never compare equal, mirroring the
    driver's hash semantics. int32 vs int64 (same kind, same value)
    still passes, as it does under a value-string hash.
    """
    import numpy as np

    if v is None:
        return "<NULL>"
    if isinstance(v, np.ndarray):
        return tuple(canon(x, tol) for x in v.tolist())
    if isinstance(v, (list, tuple)):
        return tuple(canon(x, tol) for x in v)
    if isinstance(v, (np.bool_, bool)):
        return ("b", bool(v))
    if isinstance(v, (np.integer, int)):
        return ("i", int(v))
    if isinstance(v, (np.floating, float)):
        v = float(v)
        if math.isnan(v):
            return "<NaN>"
        if tol > 0:
            return ("f", round(v / tol) * tol)
        return ("f", v)
    if isinstance(v, np.generic):
        v = v.item()
    return v


def rows_of(pdf, tol):
    cols = sorted(pdf.columns)
    out = []
    for t in pdf[cols].itertuples(index=False, name=None):
        out.append(tuple(canon(v, tol) for v in t))
    return sorted(out, key=repr)


def plan_signature(df) -> str:
    """Normalized physical-plan hash: the tree of operator NAMES only
    (expression ids, paths, partition counts and stats stripped), so
    two rounds' plans compare equal unless the plan SHAPE changed —
    the signal tools/compare_bench.py separates from container noise
    (VERDICT r13 #6). Taken after execution, so under AQE this is the
    final adaptive plan."""
    import hashlib
    import re as _re

    s = df._jdf.queryExecution().executedPlan().toString()
    ops = []
    for line in s.splitlines():
        m = _re.match(r"^[\s:+\-*()\d]*([A-Za-z]\w*)", line)
        if m:
            ops.append(m.group(1))
    return hashlib.md5("|".join(ops).encode()).hexdigest()[:12]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--tol", type=float, default=0.0)
    ap.add_argument(
        "--plan-hashes",
        default=None,
        help="write {query: normalized-plan-hash} JSON here for "
        "tools/compare_bench.py --plans",
    )
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    import duckdb

    import __spark_entry__ as entrymod
    from duckdb_vss_spark import get_spark

    spark = get_spark("check_correctness")
    con = duckdb.connect()
    tables = "region nation customer supplier part orders lineitem events documents embeddings".split()
    for t in tables:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{args.sf}/{t}.parquet')"
        )

    from duckdb_vss_spark import queries as _qmod

    qs = {**entrymod.queries(), **_qmod.extra_queries()}
    oracles = {**entrymod.oracle_sql(), **_qmod.extra_oracle_sql()}
    names = args.names or list(qs)
    n_pass = n_fail = 0
    plan_hashes: dict[str, str] = {}
    for name in names:
        t0 = time.time()
        try:
            spq = qs[name](spark, args.sf)
            spdf = spq.toPandas()
            if args.plan_hashes:
                plan_hashes[name] = plan_signature(spq)
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"SKIP {name}: no oracle (rows-only: {len(spdf)} rows, {time.time()-t0:.1f}s)")
            continue
        try:
            opdf = con.execute(oracles[name]).fetch_df()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}")
            n_fail += 1
            continue

        problems = []
        if len(spdf) != len(opdf):
            problems.append(f"rowcount spark={len(spdf)} oracle={len(opdf)}")
        if sorted(spdf.columns) != sorted(opdf.columns):
            problems.append(f"columns spark={sorted(spdf.columns)} oracle={sorted(opdf.columns)}")
        if not problems:
            a, b = rows_of(spdf, args.tol), rows_of(opdf, args.tol)
            if a != b:
                bad = sum(1 for x, y in zip(a, b) if x != y)
                problems.append(f"{bad}/{len(a)} rows differ")
                for x, y in zip(a, b):
                    if x != y:
                        problems.append(f"  first diff:\n   spark : {x}\n   oracle: {y}")
                        break
        if problems:
            n_fail += 1
            print(f"FAIL {name} ({time.time()-t0:.1f}s): " + "; ".join(problems[:2]))
            for p in problems[2:]:
                print(p)
        else:
            n_pass += 1
            print(f"PASS {name} ({len(spdf)} rows, {time.time()-t0:.1f}s)")
    print(f"\n{n_pass} passed, {n_fail} failed, {len(names)} total")
    if args.plan_hashes:
        import json

        with open(args.plan_hashes, "w") as f:
            json.dump(plan_hashes, f, indent=1, sort_keys=True)
        print(f"plan hashes for {len(plan_hashes)} queries -> {args.plan_hashes}")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
