"""Seeded input generator for the benchmark workloads.

Writes parquet tables with the engine's fixture schemas (star schema,
``events``, ``documents``, 64-d ``embeddings``) into a directory laid out
like an ``sf_dir``, so every registered job reads them through its normal
``queries()[name](spark, sf_dir)`` entry point. Value domains (category
strings, date ranges, key ranges, the ``spark`` grep term, the ``vec_id <
10`` ANN query block) follow the shipped fixtures so each job's filters
and query terms select rows. The same (seed, sizes) always gives the same
bytes of data.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Fixture vocabulary: the words the registered jobs filter or query on
# (grep 'spark', the bm25 query terms, text_stats' stopwords) head the Zipf
# ranking so they occur in a steady share of documents at every size.
HEAD_WORDS = (
    "the a of and to in is it or an spark join table stream window batch "
    "sort merge key data row query filter group value order scan hash part "
    "line column agg customer vector fast slow small big dup"
).split()
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("blue", "cold", "small", "large", "red", "hot", "green", "tiny")
PART_NOUN = ("widget", "bolt", "anvil", "gear", "spring", "nut", "valve", "pin")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "en", "de", "es", "fr", "zh")

EXACT_DUP_RATE = 0.05  # documents that copy an earlier document verbatim
NEAR_DUP_RATE = 0.10  # documents that copy an earlier one with ~5% edits
PREFIX_DUP_RATE = 0.03  # documents that are an 85% prefix of an earlier one
VOCAB_SIZE = 20000
EMBED_DIM = 64
EMBED_CLUSTERS = 10

_US_PER_DAY = 86_400_000_000


def _ts(start: dt.datetime, us_offsets: np.ndarray) -> pa.Array:
    base = int(start.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
    return pa.array(base + us_offsets.astype(np.int64), type=pa.timestamp("us"))


def _write(path: str, table: pa.Table) -> None:
    # several row groups, so a scan can split across cores
    pq.write_table(table, path, row_group_size=max(1, table.num_rows // 8))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def write_star(out: str, sf: float, seed: int) -> None:
    """region/nation/customer/supplier/part/orders/lineitem + events, with
    row counts proportional to ``sf`` as in the fixtures (lineitem 6M·sf)."""
    rng = np.random.default_rng([seed, 1])
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_line = n_ord * 4
    n_ev = max(1000, int(1_000_000 * sf))

    _write(f"{out}/region.parquet", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(REGIONS),
    }))
    _write(f"{out}/nation.parquet", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }))
    _write(f"{out}/customer.parquet", pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    }))
    _write(f"{out}/supplier.parquet", pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    }))
    names = [f"{a} {n}" for a in PART_ADJ for n in PART_NOUN]
    _write(f"{out}/part.parquet", pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.array(names)[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
    }))
    days_ord = (dt.datetime(2001, 8, 1) - dt.datetime(1995, 1, 1)).days
    _write(f"{out}/orders.parquet", pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _ts(
            dt.datetime(1995, 1, 1),
            rng.integers(0, days_ord + 1, n_ord) * _US_PER_DAY,
        ),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    }))
    # Skewed suppliers: a fifth of the lines go to 1% of the suppliers, the
    # hot-key shape salted_supplier_revenue is built for.
    hot = rng.random(n_line) < 0.2
    supp = np.where(
        hot,
        rng.integers(0, max(1, n_supp // 100), n_line),
        rng.integers(0, n_supp, n_line),
    )
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    days_ship = (dt.datetime(2001, 11, 4) - dt.datetime(1995, 1, 2)).days
    _write(f"{out}/lineitem.parquet", pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": supp.astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": _money(rng, 900, 105_000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(
            dt.datetime(1995, 1, 2),
            rng.integers(0, days_ship + 1, n_line) * _US_PER_DAY,
        ),
    }))
    n_users = max(15, n_ev // 66)
    _write(f"{out}/events.parquet", pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(
            dt.datetime(2024, 1, 1),
            np.sort(rng.integers(0, 30 * _US_PER_DAY, n_ev)),
        ),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": _money(rng, 0, 560, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }))


def _vocab(rng: np.random.Generator) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    seen = set(HEAD_WORDS)
    words = list(HEAD_WORDS)
    while len(words) < VOCAB_SIZE:
        w = "".join(letters[rng.integers(0, 26, rng.integers(3, 10))])
        if w not in seen:
            seen.add(w)
            words.append(w)
    return np.array(words)


def document_texts(n_docs: int, seed: int) -> list[str]:
    """Zipf-vocabulary documents with the stated exact-, near- and
    prefix-duplicate rates; each duplicate copies an earlier original."""
    rng = np.random.default_rng([seed, 2])
    vocab = _vocab(rng)
    cdf = np.cumsum(1.0 / np.arange(1, VOCAB_SIZE + 1))
    cdf /= cdf[-1]
    kind = rng.random(n_docs)
    texts: list[str] = []
    originals: list[list[str]] = []
    for i in range(n_docs):
        k = kind[i]
        if originals and k < EXACT_DUP_RATE:
            texts.append(" ".join(originals[rng.integers(len(originals))]))
            continue
        if originals and k < EXACT_DUP_RATE + NEAR_DUP_RATE:
            toks = list(originals[rng.integers(len(originals))])
            for j in rng.choice(len(toks), max(1, len(toks) // 20), replace=False):
                toks[j] = vocab[np.searchsorted(cdf, rng.random())]
            texts.append(" ".join(toks))
            continue
        if originals and k < EXACT_DUP_RATE + NEAR_DUP_RATE + PREFIX_DUP_RATE:
            toks = originals[rng.integers(len(originals))]
            texts.append(" ".join(toks[: max(3, int(len(toks) * 0.85))]))
            continue
        n_tok = int(rng.integers(20, 100))
        toks = list(vocab[np.searchsorted(cdf, rng.random(n_tok))])
        originals.append(toks)
        texts.append(" ".join(toks))
    return texts


def documents_table(texts: list[str], seed: int, first_id: int = 0) -> pa.Table:
    rng = np.random.default_rng([seed, 3, first_id])
    n = len(texts)
    return pa.table({
        "doc_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n)],
        "source": [f"src{s}" for s in rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def write_documents(out: str, n_docs: int, seed: int) -> list[str]:
    texts = document_texts(n_docs, seed)
    _write(f"{out}/documents.parquet", documents_table(texts, seed))
    return texts


def write_embeddings(out: str, n_vecs: int, seed: int) -> None:
    """Clustered 64-d float embeddings; ``label`` is the cluster id."""
    rng = np.random.default_rng([seed, 4])
    centers = rng.normal(0, 1, (EMBED_CLUSTERS, EMBED_DIM))
    label = rng.integers(0, EMBED_CLUSTERS, n_vecs)
    vecs = centers[label] + rng.normal(0, 0.6, (n_vecs, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel())
    _write(f"{out}/embeddings.parquet", pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, (n_vecs + 1) * EMBED_DIM, EMBED_DIM, dtype=np.int32)),
            flat,
        ).cast(pa.list_(pa.float32())),
        "label": label.astype(np.int32),
    }))


def write_text_dir(out: str, texts: list[str], n_files: int) -> None:
    """The reference's input contract: a directory of plain-text files,
    one document per line."""
    os.makedirs(out, exist_ok=True)
    for f, chunk in enumerate(np.array_split(np.arange(len(texts)), n_files)):
        with open(f"{out}/input-{f:03d}.txt", "w", encoding="utf-8") as fh:
            fh.writelines(texts[i] + "\n" for i in chunk)


def write_stream(out: str, texts: list[str], n_files: int, seed: int) -> None:
    """The documents as a stream of ``n_files`` parquet files whose
    modification times increase with the file number, so a file source
    with ``maxFilesPerTrigger=1`` reads them in order. Near-duplicates of a
    document may land in any later file."""
    os.makedirs(out, exist_ok=True)
    t0 = 1_700_000_000
    start = 0
    for f, chunk in enumerate(np.array_split(np.arange(len(texts)), n_files)):
        path = f"{out}/part-{f:03d}.parquet"
        part = [texts[i] for i in chunk]
        _write(path, documents_table(part, seed, first_id=start))
        os.utime(path, (t0 + f, t0 + f))
        start += len(part)
