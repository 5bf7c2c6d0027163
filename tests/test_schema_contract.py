"""Frozen schema contract for the driver-generated testdata tables.

Round 3 post-mortem: the driver changed ``events.ts`` from TIMESTAMP(NANOS)
to plain timestamp[us] between rounds, and the loader's nanos workaround
then failed analysis on every events consumer — 38 red tests, two red
CORRECTNESS rows, and a crashed bench, all tracing to one silent format
drift.  This test turns the next drift into ONE named failure: every
table's loaded dtypes are asserted against the expectation frozen below.

``events.ts`` is intentionally ``timestamp`` (LTZ) whatever the file
stores: load_table normalizes nanos-as-long AND timestamp_ntz variants to
the session-UTC TIMESTAMP downstream operators (unix_micros, watermarks)
require — that normalization is part of the contract, so it is asserted
here too, not just the raw file types.
"""

from __future__ import annotations

import pytest

from mapreduce_simulation_spark.tables import TABLE_NAMES, load_table

EXPECTED_DTYPES: dict[str, dict[str, str]] = {
    "region": {"r_regionkey": "int", "r_name": "string"},
    "nation": {"n_nationkey": "int", "n_name": "string", "n_regionkey": "int"},
    "customer": {
        "c_custkey": "bigint",
        "c_name": "string",
        "c_nationkey": "int",
        "c_acctbal": "double",
        "c_mktsegment": "string",
    },
    "supplier": {
        "s_suppkey": "bigint",
        "s_name": "string",
        "s_nationkey": "int",
        "s_acctbal": "double",
    },
    "part": {
        "p_partkey": "bigint",
        "p_name": "string",
        "p_brand": "string",
        "p_type": "string",
        "p_size": "int",
        "p_retailprice": "double",
    },
    "orders": {
        "o_orderkey": "bigint",
        "o_custkey": "bigint",
        "o_orderstatus": "string",
        "o_totalprice": "double",
        "o_orderdate": "timestamp_ntz",
        "o_orderpriority": "string",
    },
    "lineitem": {
        "l_orderkey": "bigint",
        "l_partkey": "bigint",
        "l_suppkey": "bigint",
        "l_linenumber": "int",
        "l_quantity": "double",
        "l_extendedprice": "double",
        "l_discount": "double",
        "l_tax": "double",
        "l_returnflag": "string",
        "l_linestatus": "string",
        "l_shipdate": "timestamp_ntz",
    },
    "events": {
        "event_id": "bigint",
        "ts": "timestamp",  # normalized by load_table; see module docstring
        "user_id": "bigint",
        "event_type": "string",
        "value": "double",
        "props": "string",
    },
    "documents": {
        "doc_id": "bigint",
        "text": "string",
        "lang": "string",
        "source": "string",
        "n_chars": "bigint",
    },
    "embeddings": {
        "vec_id": "bigint",
        "embedding": "array<float>",
        "label": "int",
    },
}


def test_contract_covers_every_table():
    assert set(EXPECTED_DTYPES) == set(TABLE_NAMES)


@pytest.mark.parametrize("table", TABLE_NAMES)
def test_loaded_schema_matches_contract(spark, sf_dir, table):
    got = dict(load_table(spark, sf_dir, table).dtypes)
    assert got == EXPECTED_DTYPES[table], (
        f"testdata drift: {table} loaded dtypes changed — update load_table "
        f"normalization (and this contract) deliberately.\n"
        f"got:  {got}\nwant: {EXPECTED_DTYPES[table]}"
    )


# ---------------------------------------------------------------------------
# Frozen driver hash window.
#
# The driver's correctness gate hashes only the FIRST 50 entries of
# ``queries()`` (dict insertion order).  A refactor, an import reorder, or an
# environment-dependent registration could silently swap which queries get
# driver-checked; this literal pins the exact window so any unintended shift
# is ONE named failure.  Changing the window (promotions/demotions in
# registry._PROMOTE/_DEMOTE) must update this list deliberately.
# ---------------------------------------------------------------------------

DRIVER_WINDOW_R18 = [
    "lsh_index_replane",
    "streaming_lsh_index_ingest",
    "exact_global_percentiles",
    "funnel_conversion",
    "incremental_dedup",
    "json_source_segments",
    "lateral_top_suppliers",
    "media_ahash_near_dup",
    "media_decode",
    "media_dedup",
    "merge_upsert_orders",
    "metadata_agg_pushdown",
    "orc_source_parts",
    "pandas_api_priority_stats",
    "pandas_group_rank",
    "pandas_scalar_digit_stats",
    "pipe_syntax_revenue",
    "quantile_sketch_monthly",
    "sequence_packing",
    "similarity_ivf_topk",
    "similarity_lsh_topk",
    "sole_blame_suppliers",
    "sql_table_function_word_count",
    "sql_udf_pricing",
    "streaming_custom_source_rollup",
    "streaming_events_hourly",
    "streaming_kvtext_sink_roundtrip",
    "streaming_quantile_sketch_ingest",
    "streaming_upsert_profiles",
    "substring_dedup_spans",
    "text_stats",
    "training_data_pipeline",
    "training_shuffle",
    "word_count",
    "xml_source_customers",
    "above_avg_orders",
    "association_rules",
    "balance_distribution",
    "cms_word_freq",
    "customer_balance_ntiles",
    "distributed_kmeans_train",
    "distributed_logreg_train",
    "dynamic_partition_pruning",
    "embedding_label_stats",
    "event_peak_concurrency",
    "exact_ols_train",
    "exists_returned_orders",
    "feature_drift_stats",
    "fuzzy_name_pairs",
    "heavy_change_terms",
]


def test_driver_hash_window_is_frozen():
    from mapreduce_simulation_spark.plans import registry

    got = list(registry.queries())[:50]
    assert got == DRIVER_WINDOW_R18, (
        "the driver's first-50 hash window shifted — if this is an intended "
        "promotion/demotion, update DRIVER_WINDOW_R18; otherwise find the "
        "import/registration reorder that moved it.\n"
        f"got:  {got}\nwant: {DRIVER_WINDOW_R18}"
    )


def test_registry_order_list_has_no_duplicates():
    from mapreduce_simulation_spark.plans import registry

    assert len(set(registry._PROMOTE)) == len(registry._PROMOTE)


def test_driver_window_queries_all_have_oracles():
    from mapreduce_simulation_spark.plans import registry

    oracles = registry.oracle_sql()
    missing = [n for n in DRIVER_WINDOW_R18 if n not in oracles]
    assert missing == [], (
        f"driver-window queries without an exact oracle: {missing} — the "
        "gate would fall back to the weaker rows-only check"
    )


def test_registry_contents_do_not_depend_on_environment():
    # stateful_user_rollup_tws must be registered whether or not protobuf
    # is importable. It earned its driver row in r14 (slot 7 of that
    # window); since r15 it sits in the rotated-out body — still present,
    # still swept every round by tools/verify_local.py.
    from mapreduce_simulation_spark.plans import registry

    names = list(registry.queries())
    assert "stateful_user_rollup_tws" in names


def test_file_sig_detects_in_place_part_overwrite(tmp_path):
    """ADVICE r14: a part file rewritten in place under the SAME name does
    not move the directory mtime (that only changes on create/delete/
    rename), so the dataset signature must fold each entry's own
    (mtime_ns, size) in — not just the sorted names."""
    import os

    from mapreduce_simulation_spark.staging import _file_sig

    d = tmp_path / "t.parquet"
    d.mkdir()
    part = d / "part-00000"
    part.write_bytes(b"aaaa")
    os.utime(part, ns=(1_000, 1_000))
    os.utime(d, ns=(1_000, 1_000))
    sig1 = _file_sig(str(d))
    # same entry name, same byte count, new content/mtime; dir pinned
    part.write_bytes(b"bbbb")
    os.utime(part, ns=(2_000, 2_000))
    os.utime(d, ns=(1_000, 1_000))
    sig2 = _file_sig(str(d))
    assert sig1 != sig2


def test_read_staged_serves_cache_and_invalidates_on_rewrite(spark, tmp_path):
    """staging.read_staged must serve the SAME DataFrame object for an
    unchanged artifact (the plan-build floor it exists to remove) and a
    fresh relation after the artifact is rewritten (scale probes and
    staging rebuilds overwrite in place)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mapreduce_simulation_spark.staging import read_staged

    d = tmp_path / "art.parquet"
    d.mkdir()
    pq.write_table(
        pa.table({"x": pa.array([1, 2, 3], pa.int64())}),
        str(d / "part-0.parquet"),
    )
    df1 = read_staged(spark, str(d))
    df2 = read_staged(spark, str(d))
    assert df1 is df2
    assert df1.count() == 3
    # in-place rewrite, same file name — per-entry signature must catch it
    pq.write_table(
        pa.table({"x": pa.array([1, 2, 3, 4], pa.int64())}),
        str(d / "part-0.parquet"),
    )
    df3 = read_staged(spark, str(d))
    assert df3 is not df1
    assert df3.count() == 4
