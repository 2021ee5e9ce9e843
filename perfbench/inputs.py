"""Seeded benchmark inputs, generated once per (kind, size, seed) and cached.

The program under test only ever receives the generated files: the
transcript corpus comes from the library's own seeded generator
(``synth.write_transcripts_parquet``), and the ten driver tables the
headline queries read are generated here with the schemas, row counts
per scale and value distributions of the TPC-H-ish driver tables
(TESTDATA.md); perfbench/README.md compares the two. Everything flows
from one ``numpy.random.default_rng(seed)`` per table set, so a seed
names an input exactly.

Each cache path also carries a short hash of the code that generates
the inputs and the reference labels, so a change to that code rebuilds
them instead of checking the program against a stale oracle. Cache
entries are built in a staging directory and renamed into place, so an
interrupted run never leaves a half-written input behind.
"""

from __future__ import annotations

import functools
import hashlib
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_ADJ = ("large", "hot", "blue", "old", "cold", "red", "small", "new")
_NOUN = ("ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo")
_PTYPES = ("LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("signup", "click", "error", "view", "purchase")
_DOC_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_DOC_LANGS = ("en", "zh", "es", "fr", "de")
_DOC_LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)


# The files whose code decides what an input or the reference labels hold.
_GENERATING_SOURCES = (
    "dataquality_box_spark/synth.py",
    "dataquality_box_spark/reference_impl.py",
    "dataquality_box_spark/config.py",
    "dataquality_box_spark/schema.py",
    "dataquality_box_spark/functions/scoring.py",
    "dataquality_box_spark/functions/langdata.py",
    "perfbench/inputs.py",
)


@functools.cache
def source_tag() -> str:
    """Short hash of the generating sources, part of every cache path."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    h = hashlib.sha256()
    for rel in _GENERATING_SOURCES:
        with open(os.path.join(root, rel), "rb") as f:
            h.update(rel.encode() + b"\0" + f.read())
    return h.hexdigest()[:12]


def _cached(path: str, build) -> str:
    """Run ``build(staging_dir)`` unless ``path`` already exists."""
    if os.path.exists(path):
        return path
    staging = f"{path}.staging-{os.getpid()}"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    try:
        build(staging)
        os.replace(staging, path)
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    return path


def transcripts(cache_dir: str, n_convs: int, seed: int) -> str:
    """Transcript corpus: a parquet directory of many part files."""
    from dataquality_box_spark.synth import write_transcripts_parquet

    path = os.path.join(cache_dir, f"transcripts-{n_convs}-seed{seed}-{source_tag()}")
    return _cached(
        path,
        lambda d: write_transcripts_parquet(
            os.path.join(d, "corpus"), n_convs, seed=seed, rows_per_file=8_000
        ),
    ) + "/corpus"


def reference(cache_dir: str, corpus_dir: str, n_convs: int, seed: int) -> str:
    """Reference labels of ``reference_impl`` for the corpus (pandas; the
    slow step, so computed once per seed and stored as parquet)."""
    from dataquality_box_spark.reference_impl import reference_labels

    path = os.path.join(cache_dir, f"reference-{n_convs}-seed{seed}-{source_tag()}")

    def build(d: str) -> None:
        ref = reference_labels(pd.read_parquet(corpus_dir))
        ref = ref.drop(columns=["ppl"])
        ref["drop_reasons"] = ref["drop_reasons"].map(",".join)
        ref.to_parquet(os.path.join(d, "labels.parquet"), index=False)

    return _cached(path, build) + "/labels.parquet"


def _write(d: str, name: str, cols: dict, schema: pa.Schema) -> None:
    pq.write_table(
        pa.Table.from_pydict(cols, schema=schema), os.path.join(d, f"{name}.parquet")
    )


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: str, n_days: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, n_days, n)).astype("datetime64[us]")


def _gen_tables(d: str, sf: float, seed: int) -> None:
    rng = np.random.default_rng(seed)
    ts = pa.timestamp("us")
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    n_users, n_ev = max(10, int(15_000 * sf)), int(1_000_000 * sf)
    n_docs, n_emb = int(50_000 * sf), int(20_000 * sf)

    _write(d, "region", {"r_regionkey": list(range(5)), "r_name": list(_REGIONS)},
           pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]))
    _write(d, "nation", {
        "n_nationkey": list(range(25)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": [i % 5 for i in range(25)],
    }, pa.schema([("n_nationkey", pa.int32()), ("n_name", pa.string()),
                  ("n_regionkey", pa.int32())]))
    _write(d, "customer", {
        "c_custkey": np.arange(n_cust),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
    }, pa.schema([("c_custkey", pa.int64()), ("c_name", pa.string()),
                  ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
                  ("c_mktsegment", pa.string())]))
    _write(d, "supplier", {
        "s_suppkey": np.arange(n_supp),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    }, pa.schema([("s_suppkey", pa.int64()), ("s_name", pa.string()),
                  ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())]))
    _write(d, "part", {
        "p_partkey": np.arange(n_part),
        "p_name": np.char.add(
            np.char.add(np.array(_ADJ)[rng.integers(0, 8, n_part)], " "),
            np.array(_NOUN)[rng.integers(0, 8, n_part)],
        ),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(_PTYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
    }, pa.schema([("p_partkey", pa.int64()), ("p_name", pa.string()),
                  ("p_brand", pa.string()), ("p_type", pa.string()),
                  ("p_size", pa.int32()), ("p_retailprice", pa.float64())]))
    _write(d, "orders", {
        "o_orderkey": np.arange(n_ord),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(("O", "F", "P"))[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", 2404, n_ord),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
    }, pa.schema([("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
                  ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
                  ("o_orderdate", ts), ("o_orderpriority", pa.string())]))
    _write(d, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(("A", "N", "R"))[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(("O", "F"))[rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, "1995-01-02", 2498, n_li),
    }, pa.schema([("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
                  ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
                  ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
                  ("l_discount", pa.float64()), ("l_tax", pa.float64()),
                  ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
                  ("l_shipdate", ts)]))

    # events: one ordered stream over 30 days, exponential values
    ev_us = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    _write(d, "events", {
        "event_id": np.arange(n_ev),
        "ts": (np.datetime64("2024-01-01", "us") + ev_us.astype("timedelta64[us]")),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }, pa.schema([("event_id", pa.int64()), ("ts", ts), ("user_id", pa.int64()),
                  ("event_type", pa.string()), ("value", pa.float64()),
                  ("props", pa.string())]))

    # documents: 10-99 words drawn uniformly from a small vocabulary;
    # exactly one in twenty is then replaced by a copy of a uniformly
    # chosen document with " dup" appended (copies of copies and two
    # copies of one source occur), so the dedup and fingerprint queries
    # find near-duplicate pairs at Jaccard ~0.9-1.0
    vocab = np.array(_DOC_VOCAB)
    texts = [
        " ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 100)))])
        for _ in range(n_docs)
    ]
    for i in rng.choice(n_docs, n_docs // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n_docs))] + " dup"
    _write(d, "documents", {
        "doc_id": np.arange(n_docs),
        "text": texts,
        "lang": np.array(_DOC_LANGS)[rng.choice(5, n_docs, p=_DOC_LANG_P)],
        "source": np.char.add("src", rng.integers(0, 20, n_docs).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }, pa.schema([("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
                  ("source", pa.string()), ("n_chars", pa.int64())]))

    # embeddings: isotropic random unit vectors; the label is independent
    # of the vector
    labels = rng.integers(0, 10, n_emb)
    vecs = rng.normal(0.0, 1.0, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(d, "embeddings", {
        "vec_id": np.arange(n_emb),
        "embedding": list(vecs),
        "label": labels.astype(np.int32),
    }, pa.schema([("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
                  ("label", pa.int32())]))


def driver_tables(cache_dir: str, sf: float, seed: int) -> str:
    """Directory holding ``<table>.parquet`` for the ten driver tables."""
    path = os.path.join(cache_dir, f"tables-sf{sf}-seed{seed}-{source_tag()}")
    return _cached(path, lambda d: _gen_tables(d, sf, seed))
