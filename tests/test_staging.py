"""staging.stage_once: a staged per-corpus artifact is committed only by a
build that succeeded, and it is rebuilt (and every plan over it re-planned)
when a source it was built from changes in-process."""

from __future__ import annotations

import math
import os
import shutil

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

from conftest import SF_DIR


def _copy_tables(tmp_path, *names) -> str:
    sf = tmp_path / "sf"
    sf.mkdir()
    for n in names:
        shutil.copy(os.path.join(SF_DIR, f"{n}.parquet"), sf / f"{n}.parquet")
        os.chmod(sf / f"{n}.parquet", 0o644)
    return str(sf)


def _rows(rows):
    return sorted(
        tuple(round(v, 9) if isinstance(v, float) else v for v in r)
        for r in rows
    )


def _oracle(sf: str, sql: str, *tables):
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    try:
        return _rows(con.execute(sql).fetchall())
    finally:
        con.close()


def test_failed_first_build_is_rebuilt_not_served(spark, tmp_path, monkeypatch):
    """The DPP query stages a month-partitioned copy of orders. If that
    first staging build raises, the next call must build it again, not
    read the empty (or partial) keyed dir the failed build left."""
    from mapreduce_simulation_spark.plans import extended

    sf = _copy_tables(tmp_path, "orders", "lineitem")
    real = extended.load_table
    calls = {"orders": 0}

    def failing_once(spark_, sf_dir, name):
        if name == "orders":
            calls["orders"] += 1
            if calls["orders"] == 1:
                raise OSError("injected: orders unreadable")
        return real(spark_, sf_dir, name)

    monkeypatch.setattr(extended, "load_table", failing_once)
    try:
        extended.dynamic_partition_pruning(spark, sf)
    except OSError:
        pass
    else:
        raise AssertionError("the injected failure did not reach the build")
    got = _rows(extended.dynamic_partition_pruning(spark, sf).collect())
    assert got == _oracle(sf, extended.DPP_SQL, "orders", "lineitem")
    assert got


def _rewrite_documents(sf: str) -> None:
    """Drop a third of the corpus and turn two documents into exact
    copies of others, in place under the same file name."""
    path = os.path.join(sf, "documents.parquet")
    t = pq.read_table(path)
    t = t.slice(0, (2 * t.num_rows) // 3)
    text = t.column("text").to_pylist()
    text[1], text[3] = text[0], text[2]
    t = t.set_column(
        t.schema.get_field_index("text"), "text", pa.array(text, pa.string())
    )
    pq.write_table(t, path)


def test_source_rewrite_rebuilds_staged_artifacts_and_plans(spark, tmp_path):
    """Rewriting documents.parquet in-process must rebuild every staged
    artifact derived from it into a fresh keyed dir and re-plan every
    memoized query over them — including a plan whose first build found
    its artifact already staged (it learns the artifact's sources by
    replay), and a two-level chain (shingles → MinHash signatures)."""
    from mapreduce_simulation_spark import staging
    from mapreduce_simulation_spark.operators import dedup, text

    sf = _copy_tables(tmp_path, "documents")
    tok_key = ("tokdocs_", f"{sf}|ws_v1")
    sh_key = ("shingles_", f"{sf}|3gram_v1")
    sig_key = ("minhash_sig_", f"{sf}|3gram_v1")

    # stage the token store OUTSIDE any plan, so dedup_exact's memoized
    # build only ever sees it already staged
    text.staged_tokenized_docs(spark, sf)
    exact1 = dedup.dedup_exact(spark, sf)
    lsh1 = dedup.dedup_minhash_lsh(spark, sf)
    assert dedup.dedup_exact(spark, sf) is exact1  # memo hit
    before = {k: staging._KEYED[k] for k in (tok_key, sh_key, sig_key)}

    _rewrite_documents(sf)

    exact2 = dedup.dedup_exact(spark, sf)
    lsh2 = dedup.dedup_minhash_lsh(spark, sf)
    assert exact2 is not exact1 and lsh2 is not lsh1  # memo misses
    for k, old in before.items():
        assert staging._KEYED[k] != old, f"{k[0]} was not rebuilt"
    assert _rows(exact2.collect()) == _oracle(
        sf, dedup.DEDUP_EXACT_SQL, "documents"
    )
    got = _rows(lsh2.collect())
    assert got == _oracle(sf, dedup.DEDUP_MINHASH_SQL, "documents")
    assert any(math.isclose(r[-1], 1.0) for r in got)  # the planted copies
