"""One-shot driver-mimicking parity check at sf0.01 (the driver's gate SF).

Local tests run parity at sf0.001; the external driver gates at sf0.01.
This script replays the same order-insensitive compare at sf0.01 over all
registered queries and prints a one-line verdict per query, so a scale-
sensitive divergence (row-count growth exposing a tie, overflow, etc.)
surfaces before the driver sees it.

Usage: python tools/parity_sf001.py [--only name,name]
"""

from __future__ import annotations

import argparse
import math
import sys
import time

import duckdb

sys.path.insert(0, ".")
import __spark_entry__ as entrymod  # noqa: E402
from epiteam_network_etl_functions_spark.session import get_session  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _duck():
    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{name}.parquet')"
        )
    return con


def _normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                vals.append(("f", v))
            elif v is None:
                vals.append(("n", None))
            else:
                vals.append(("v", str(v)))
        out.append(tuple(vals))
    # Align rows by the NON-float columns only (the registry's output
    # discipline guarantees a unique non-float tie-break key per row);
    # sorting on floats rounded near the comparison tolerance could order
    # boundary-straddling near-equal values differently on the two sides
    # and produce a spurious mismatch.
    keys = [repr([c for c in row if c[0] != "f"]) for row in out]
    has_floats = any(c[0] == "f" for row in out for c in row)
    if has_floats and len(set(keys)) != len(keys):
        # duplicate non-float key tuples + float columns = rows would be
        # compared in engine-dependent order; that's a query-discipline
        # violation, so fail it loudly instead of passing/failing by luck
        raise ValueError(
            "non-float key tuples are not unique per row; add a unique "
            "non-float tie-break column to the query output"
        )
    out = [row for _, row in sorted(zip(keys, out), key=lambda kv: kv[0])]
    return [cols[i] for i in order], out


def _rows_equal(a, b):
    if len(a) != len(b):
        return False
    for ra, rb in zip(a, b):
        if len(ra) != len(rb):
            return False
        for ca, cb in zip(ra, rb):
            if ca[0] != cb[0]:
                return False
            if ca[0] == "f":
                if ca[1] is None or cb[1] is None:
                    if ca[1] != cb[1]:
                        return False
                elif not math.isclose(ca[1], cb[1], rel_tol=0, abs_tol=1e-9):
                    return False
            elif ca[1] != cb[1]:
                return False
    return True


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--only", type=str, default=None)
    args = ap.parse_args()

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    names = list(queries)
    if args.only:
        names = [n for n in args.only.split(",") if n in queries]

    spark = get_session("parity-sf001")
    bad = []
    for name in names:
        t0 = time.time()
        try:
            sdf = queries[name](spark, SF_DIR)
            s_cols = list(sdf.columns)
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error {e}")
            bad.append(name)
            continue
        oracle = oracles.get(name)
        if oracle is None:
            print(f"ok   {name}: rows-only ({len(s_rows)} rows) {time.time()-t0:.2f}s")
            continue
        con = _duck()
        try:
            cur = con.execute(oracle)
            d_cols = [c[0] for c in cur.description]
            d_rows = cur.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: oracle error {e}")
            bad.append(name)
            continue
        try:
            s_cols_s, s_norm = _normalize(s_rows, s_cols)
            d_cols_s, d_norm = _normalize(d_rows, d_cols)
        except ValueError as e:
            print(f"FAIL {name}: {e}")
            bad.append(name)
            continue
        if s_cols_s != d_cols_s:
            print(f"FAIL {name}: schema {s_cols_s} vs {d_cols_s}")
            bad.append(name)
        elif not _rows_equal(s_norm, d_norm):
            print(
                f"FAIL {name}: values differ "
                f"(spark {len(s_norm)} rows, duck {len(d_norm)} rows)"
            )
            bad.append(name)
        else:
            print(f"ok   {name}: {len(s_rows)} rows {time.time()-t0:.2f}s")
    print(f"\n{len(names) - len(bad)}/{len(names)} green" + (f"; FAILURES: {bad}" if bad else ""))
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
