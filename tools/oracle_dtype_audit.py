"""Audit every registered oracle for pandas-dtype mismatches vs Spark.

The driver canonicalizes both result sets through pandas before hashing.
DuckDB's ``sum(INTEGER)`` returns HUGEINT which pandas widens to float64,
while Spark's ``sum(bigint)`` stays int64 — the stringified values then
differ ("123.0" vs "123") and the value hash mismatches even though the
results are numerically identical (observed on repetition_stats/span_dedup
in CORRECTNESS_r02). This tool runs every (query, oracle) pair at a small
SF and flags any column whose pandas dtype differs between the two engines
so the oracle SQL can be cast to match.

Full result sets are compared (no .limit sample): a nullable int column
whose nulls sit outside a sample would show int64 in the sample but widen
to float64 on the driver's full run. For object-dtype columns (where equal
dtypes still admit different stringification, e.g. Decimal('123.00') vs
'123'), the Python type of the first non-null value is compared too.

Usage: python tools/oracle_dtype_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mapreduce_simulation_spark.plans import registry  # noqa: E402
from mapreduce_simulation_spark.session import build_session  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

# dtype pairs that stringify identically — no canonicalization hazard.
_COMPATIBLE = {
    ("float64", "float64"),
    ("int64", "int64"),
    ("int32", "int64"),
    ("int64", "int32"),
    ("object", "object"),
    ("bool", "bool"),
    # Spark timestamps are µs-precision by definition, so a pandas
    # datetime64[ns] on the Spark side is a conversion artifact: both
    # units stringify identically for µs-aligned values at EVERY sf —
    # structurally benign, not coincidence (r11 advice: 16 latent
    # warnings were all this pair or the DATE pair below).
    ("datetime64[ns]", "datetime64[us]"),
    ("datetime64[us]", "datetime64[ns]"),
}


def _first_nonnull_type(series) -> str | None:
    nonnull = series.dropna()
    if len(nonnull) == 0:
        return None
    return type(nonnull.iloc[0]).__name__


def _stringify_matches(sa, sb) -> bool:
    """The driver hashes stringified values, so a dtype difference is only a
    hazard if the stringified multisets differ (e.g. datetime64[ns] vs [us]
    both render '2020-01-01 00:00:00.000000' — benign; int64 vs float64
    render '123' vs '123.0' — hazard)."""
    return sorted(sa.astype(str)) == sorted(sb.astype(str))


def _is_unhashable_container(series) -> str | None:
    """The driver's pandas canonicalizer sort_values/factorizes every
    column; list/ndarray/dict/set values raise TypeError there (observed:
    quantiles_summary and nation_top_customer_lists in r10). Returns the
    offending type name, or None."""
    import numpy as np

    nonnull = series.dropna()
    if len(nonnull) == 0:
        return None
    v = nonnull.iloc[0]
    if isinstance(v, (list, tuple, dict, set, np.ndarray)):
        return type(v).__name__
    return None


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = (
        args[0]
        if args and os.path.isdir(args[0])
        else "/root/testdata/sf0.001"
    )
    only = set(args[1:] if args and os.path.isdir(args[0]) else args)
    spark = build_session("dtype-audit", master="local[8]", shuffle_partitions=8)
    try:
        duck = duckdb.connect()
        for t in TABLES:
            duck.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{sf_dir}/{t}.parquet')"
            )

        oracles = registry.oracle_sql()
        queries = registry.queries()
        bad = 0
        warned = 0
        for name in sorted(oracles):
            if only and name not in only:
                continue
            try:
                spdf = queries[name](spark, sf_dir).toPandas()
                cur = duck.execute(oracles[name])
                # declared DuckDB column types (e.g. 'DATE') — lets the
                # audit separate structural benignity from sf-coincidence
                duck_decl = {d[0]: str(d[1]) for d in cur.description}
                dkdf = cur.df()
            except Exception as exc:  # pragma: no cover - audit tool
                print(f"ERR  {name}: {exc}")
                bad += 1
                continue
            sp = {c: str(spdf[c].dtype) for c in spdf.columns}
            dk = {c: str(dkdf[c].dtype) for c in dkdf.columns}
            for side, df in (("spark", spdf), ("duck", dkdf)):
                for col in df.columns:
                    tn = _is_unhashable_container(df[col])
                    if tn is not None:
                        print(
                            f"CONT {name}.{col} ({side}): {tn} values — "
                            "the driver canonicalizer cannot hash "
                            "containers; flatten (posexplode/unnest) or "
                            "serialize (concat_ws/array_to_string)"
                        )
                        bad += 1
            for col in sorted(set(sp) | set(dk)):
                a, b = sp.get(col), dk.get(col)
                if a is None or b is None:
                    print(f"COL  {name}.{col}: spark={a} duck={b} (missing)")
                    bad += 1
                elif (
                    a == "object"
                    and b.startswith("datetime64")
                    and duck_decl.get(col, "").upper() == "DATE"
                    and _first_nonnull_type(spdf[col]) in (None, "date")
                ):
                    # Spark DATE → pandas object of datetime.date; DuckDB
                    # DATE → datetime64 (always midnight). Both stringify
                    # as 'YYYY-MM-DD' at every sf — structurally benign.
                    pass
                elif (a, b) not in _COMPATIBLE and a != b:
                    if not _stringify_matches(spdf[col], dkdf[col]):
                        print(f"MISM {name}.{col}: spark={a} duck={b}")
                        bad += 1
                    else:
                        # Values coincide at THIS sf, but the dtype pair is a
                        # latent hazard (e.g. a nullable int with no nulls
                        # here widens to float64 at the driver's sf). Keep it
                        # visible without failing the audit.
                        print(
                            f"WARN {name}.{col}: spark={a} duck={b} "
                            f"(values coincide at this sf — latent)"
                        )
                        warned += 1
                elif a == "object" and b == "object":
                    ta = _first_nonnull_type(spdf[col])
                    tb = _first_nonnull_type(dkdf[col])
                    if (
                        ta is not None
                        and tb is not None
                        and ta != tb
                        and not _stringify_matches(spdf[col], dkdf[col])
                    ):
                        print(
                            f"OBJ  {name}.{col}: spark value type={ta} "
                            f"duck value type={tb}"
                        )
                        bad += 1
        print(f"{'FAIL' if bad else 'OK'}: {bad} dtype hazards "
              f"({warned} latent warnings) across {len(oracles)} oracles")
        return 1 if bad else 0
    finally:
        spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
