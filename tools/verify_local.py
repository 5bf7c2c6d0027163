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


def _bounded_compare(scols, srows, ocols, orows, approx_cols):
    """Positional compare (both sides share the query's ORDER BY): exact
    columns bit-for-bit via _norm, approx columns within their declared
    relative-error bound. Returns a list of problems (empty = pass)."""
    problems = []
    if sorted(scols) != sorted(ocols):
        return [f"cols spark={sorted(scols)} oracle={sorted(ocols)}"]
    if len(srows) != len(orows):
        return [f"rows spark={len(srows)} oracle={len(orows)}"]
    for i, (sr, orr) in enumerate(zip(srows, orows)):
        sd, od = dict(zip(scols, sr)), dict(zip(ocols, orr))
        for c in scols:
            if c in approx_cols:
                exact = float(od[c])
                got = float(sd[c])
                tol = approx_cols[c]
                denom = max(abs(exact), 1.0)
                if abs(got - exact) / denom > tol:
                    problems.append(
                        f"row {i} col {c}: approx {got} vs exact {exact} "
                        f"exceeds rel err {tol}"
                    )
            elif _norm(sd[c]) != _norm(od[c]):
                problems.append(
                    f"row {i} col {c}: {_norm(sd[c])} != {_norm(od[c])}"
                )
        if len(problems) >= 3:
            break
    return problems


def _recall_compare(scols, srows, ocols, orows, spec):
    """ANN result-set check: same row count and columns, (group, id)
    overlap with the exact oracle at or above the recall floor — gated on
    BOTH the pooled recall and the worst single group (a per-query
    regression must not hide in the aggregate) — and every overlapping
    hit's score bitwise-equal (via _norm) to the oracle's.
    Returns (problems, measured_recall)."""
    problems = []
    if sorted(scols) != sorted(ocols):
        return [f"cols spark={sorted(scols)} oracle={sorted(ocols)}"], None
    if len(srows) != len(orows):
        return [f"rows spark={len(srows)} oracle={len(orows)}"], None
    keycols = list(spec["group_cols"]) + [spec["id_col"]]

    def keyed(rows, cols):
        out = {}
        for r in rows:
            d = dict(zip(cols, r))
            out[tuple(d[c] for c in keycols)] = d[spec["score_col"]]
        return out

    got, exact = keyed(srows, scols), keyed(orows, ocols)
    hits = set(got) & set(exact)
    recall = len(hits) / len(exact) if exact else 1.0
    if recall < spec["min_recall"]:
        problems.append(
            f"recall {recall:.3f} below floor {spec['min_recall']}"
        )
    # Per-group floor: a single group (query point) returning nothing true
    # would otherwise be masked by the others clearing the pooled floor.
    # One zero-recall group is an outright failure; the declared floor is
    # pooled, so the per-group gate is the weaker min_group_recall if the
    # spec sets one, else "every group must have at least one true hit".
    ngroup = len(spec["group_cols"])
    per_group_exact: dict = {}
    per_group_hits: dict = {}
    for k in exact:
        g = k[:ngroup]
        per_group_exact[g] = per_group_exact.get(g, 0) + 1
        if k in hits:
            per_group_hits[g] = per_group_hits.get(g, 0) + 1
    group_floor = spec.get("min_group_recall", 0.0)
    for g in sorted(per_group_exact):
        g_recall = per_group_hits.get(g, 0) / per_group_exact[g]
        if g_recall < group_floor or per_group_hits.get(g, 0) == 0:
            problems.append(
                f"group {g}: recall {g_recall:.3f} below per-group floor "
                f"(min_group_recall={group_floor}, zero-hit groups always "
                "fail)"
            )
            if len(problems) >= 3:
                break
    for k in sorted(hits):
        if _norm(got[k]) != _norm(exact[k]):
            problems.append(
                f"hit {k}: score {got[k]} != exact {exact[k]}"
            )
            if len(problems) >= 3:
                break
    return problems, round(recall, 3)


def _sketch_compare(scols, srows, ocols, orows, spec):
    """Misra-Gries containment check: every returned (key, count) must be
    a lower bound on the exact count, within N/capacity of it, where N is
    the total stream length (sum of exact counts). Returns
    (problems, worst observed error as a fraction of the bound)."""
    problems = []
    kc, cc = spec["word_col"], spec["count_col"]
    if kc not in scols or cc not in scols:
        return [f"cols {scols} missing {kc}/{cc}"], None
    if len(srows) != spec["expected_rows"]:
        return [f"rows {len(srows)} != expected {spec['expected_rows']}"], None
    od = {r[ocols.index(kc)]: r[ocols.index("exact_count")] for r in orows}
    n_total = sum(od.values())
    bound = n_total / spec["capacity"]
    worst = 0.0
    ki, ci = scols.index(kc), scols.index(cc)
    for r in srows:
        key, cnt = r[ki], r[ci]
        exact = od.get(key)
        if exact is None:
            problems.append(f"{key}: not in exact counts (phantom key)")
        elif cnt > exact:
            problems.append(f"{key}: sketch {cnt} EXCEEDS exact {exact}")
        elif exact - cnt > bound:
            problems.append(
                f"{key}: undercount {exact - cnt} exceeds N/capacity "
                f"bound {bound:.1f}"
            )
        else:
            worst = max(worst, (exact - cnt) / bound if bound else 0.0)
        if len(problems) >= 3:
            break
    return problems, round(worst, 3)


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

    from mapreduce_simulation_spark.plans.registry import (
        bounded_oracles,
        recall_oracles,
        sketch_oracles,
    )

    qs, oracles = e.queries(), e.oracle_sql()
    bounded = bounded_oracles()
    recalls = recall_oracles()
    sketches = sketch_oracles()
    failures = 0
    n_ok = n_rows_only = 0
    from mapreduce_simulation_spark.streaming.stateful import _HAS_TWS

    for name, fn in qs.items():
        if only and name not in only:
            continue
        if name == "stateful_user_rollup_tws" and not _HAS_TWS:
            print(f"SKIP  {name}: transformWithState needs protobuf")
            results[name] = {
                "status": "skip",
                "reason": "transformWithState needs protobuf",
            }
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {ex}")
            results[name] = {"status": "fail", "error": str(ex)[:300]}
            failures += 1
            continue
        secs = round(time.time() - t0, 1)
        if name not in oracles:
            if name in bounded:
                spec = bounded[name]
                try:
                    res = con.execute(spec["sql"])
                    ocols = [d[0] for d in res.description]
                    orows = res.fetchall()
                except Exception as ex:  # noqa: BLE001
                    print(f"FAIL  {name}: duckdb error: {ex}")
                    results[name] = {"status": "fail", "error": str(ex)[:300]}
                    failures += 1
                    continue
                problems = _bounded_compare(
                    scols, srows, ocols, orows, spec["approx_cols"]
                )
                if problems:
                    print(f"FAIL  {name}: " + "; ".join(problems))
                    results[name] = {"status": "fail", "problems": problems}
                    failures += 1
                else:
                    n_ok += 1
                    print(
                        f"OK    {name}: {len(srows)} rows "
                        f"(bounded-error oracle) [{secs}s]"
                    )
                    results[name] = {
                        "status": "bounded_ok",
                        "rows": len(srows),
                        "seconds": secs,
                        "approx_cols": spec["approx_cols"],
                    }
                continue
            if name in recalls:
                spec = recalls[name]
                try:
                    res = con.execute(spec["sql"])
                    ocols = [d[0] for d in res.description]
                    orows = res.fetchall()
                except Exception as ex:  # noqa: BLE001
                    print(f"FAIL  {name}: duckdb error: {ex}")
                    results[name] = {"status": "fail", "error": str(ex)[:300]}
                    failures += 1
                    continue
                problems, recall = _recall_compare(
                    scols, srows, ocols, orows, spec
                )
                if problems:
                    print(f"FAIL  {name}: " + "; ".join(problems))
                    results[name] = {"status": "fail", "problems": problems}
                    failures += 1
                else:
                    n_ok += 1
                    print(
                        f"OK    {name}: {len(srows)} rows "
                        f"(recall {recall} >= {spec['min_recall']}, "
                        f"hits bitwise-exact) [{secs}s]"
                    )
                    results[name] = {
                        "status": "recall_ok",
                        "rows": len(srows),
                        "seconds": secs,
                        "recall": recall,
                        "min_recall": spec["min_recall"],
                    }
                continue
            if name in sketches:
                spec = sketches[name]
                try:
                    res = con.execute(spec["sql"])
                    ocols = [d[0] for d in res.description]
                    orows = res.fetchall()
                except Exception as ex:  # noqa: BLE001
                    print(f"FAIL  {name}: duckdb error: {ex}")
                    results[name] = {"status": "fail", "error": str(ex)[:300]}
                    failures += 1
                    continue
                problems, worst = _sketch_compare(
                    scols, srows, ocols, orows, spec
                )
                if problems:
                    print(f"FAIL  {name}: " + "; ".join(problems))
                    results[name] = {"status": "fail", "problems": problems}
                    failures += 1
                else:
                    n_ok += 1
                    print(
                        f"OK    {name}: {len(srows)} rows (MG containment "
                        f"bound, worst error {worst} of N/capacity) "
                        f"[{secs}s]"
                    )
                    results[name] = {
                        "status": "sketch_ok",
                        "rows": len(srows),
                        "seconds": secs,
                        "worst_error_vs_bound": worst,
                    }
                continue
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
