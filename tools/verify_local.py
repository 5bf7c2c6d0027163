"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at sf0.01, then compares row count, column names, and an
order-insensitive value multiset (values normalized: floats rounded to 9
significant-ish decimals, timestamps to ISO strings).

Usage: python tools/verify_local.py [--out=FILE.json] [query ...]

With --out, one JSON object per query (name, status, rows, seconds,
problems) plus a summary header is written to FILE.json — the per-round
auditable artifact (VERIFYLOCAL_r{N}.json) that records the full-registry
sweep without requiring a rerun.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("VERIFY_SF_DIR", "/root/testdata/sf0.01")


def _norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.6f}" if abs(v) < 1e15 else repr(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return str(v)


def _multiset(rows, cols):
    out = []
    for r in rows:
        d = dict(zip(cols, r))
        out.append("|".join(_norm(d[c]) for c in sorted(cols)))
    return sorted(out)


def main() -> int:
    import duckdb

    import __spark_entry__ as e
    from mapreduce_simulation_spark.session import build_session

    out_path = None
    args = []
    for a in sys.argv[1:]:
        if a.startswith("--out="):
            out_path = a[len("--out="):]
        else:
            args.append(a)
    only = set(args)
    results: dict[str, dict] = {}
    spark = build_session("verify-local")
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )

    qs, oracles = e.queries(), e.oracle_sql()
    failures = 0
    n_ok = n_rows_only = 0

    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.perf_counter()
        try:
            sdf = fn(spark, SF_DIR)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {ex}")
            results[name] = {"status": "fail", "error": str(ex)[:300]}
            failures += 1
            continue
        secs = round(time.perf_counter() - t0, 2)
        if name not in oracles:
            n_rows_only += 1
            print(f"ROWS  {name}: {len(srows)} rows (no oracle) [{secs}s]")
            results[name] = {
                "status": "rows_only", "rows": len(srows), "seconds": secs,
            }
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {ex}")
            results[name] = {"status": "fail", "error": str(ex)[:300]}
            failures += 1
            continue
        problems = []
        if sorted(scols) != sorted(ocols):
            problems.append(f"cols spark={sorted(scols)} oracle={sorted(ocols)}")
        if len(srows) != len(orows):
            problems.append(f"rows spark={len(srows)} oracle={len(orows)}")
        if not problems:
            sm, om = _multiset(srows, scols), _multiset(orows, ocols)
            if sm != om:
                diff = [
                    (a, b) for a, b in zip(sm, om) if a != b
                ][:3]
                problems.append(f"values differ, first diffs: {diff}")
        if problems:
            print(f"FAIL  {name}: " + "; ".join(problems))
            results[name] = {"status": "fail", "problems": problems}
            failures += 1
        else:
            n_ok += 1
            print(f"OK    {name}: {len(srows)} rows [{secs}s]")
            results[name] = {
                "status": "ok", "rows": len(srows), "seconds": secs,
            }
    spark.stop()
    # One grep-proof summary line (Spark progress bars can swallow
    # individual result lines on a tty).
    print(f"SUMMARY: {n_ok} ok, {n_rows_only} rows-only, {failures} failed")
    if out_path:
        payload = {
            "sf_dir": SF_DIR,
            "n_ok": n_ok,
            "n_rows_only": n_rows_only,
            "n_failed": failures,
            "n_total": len(results),
            "queries": results,
        }
        with open(out_path, "w", encoding="utf-8") as fh:
            json.dump(payload, fh, indent=1, sort_keys=True)
            fh.write("\n")
        print(f"wrote {out_path}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
