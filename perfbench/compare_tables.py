"""Compare two directories of driver tables side by side.

    python3 perfbench/compare_tables.py DIR_A DIR_B [--queries]

Prints, for each directory, the row counts and the distributions the
headline queries' costs depend on: key and value quartiles, category
shares, document length, vocabulary and near-duplicate structure, and
the geometry of the embeddings. With ``--queries`` it also runs the ten
headline queries on each directory in one local Spark session and prints
each query's result rows and median noop-sink time. Used to check that
the tables ``inputs.py`` generates behave like the repository's driver
tables (TESTDATA.md); the result is recorded in perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from collections import Counter, defaultdict

import numpy as np
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

from dataquality_box_spark.sources.driver_tables import TABLES  # noqa: E402


def _quartiles(s) -> list[float]:
    return [round(float(x), 3) for x in np.quantile(s, [0, 0.25, 0.5, 0.75, 1])]


def _shares(s: pd.Series) -> dict:
    return s.value_counts(normalize=True).round(3).sort_index().to_dict()


def _best_shingle_jaccard(texts: list[list[str]]) -> np.ndarray:
    """Each document's highest 3-word-shingle Jaccard with any other one
    (candidates: pairs sharing at least three shingles)."""
    sh = [{" ".join(t[i:i + 3]) for i in range(max(1, len(t) - 2))} for t in texts]
    docs_of = defaultdict(list)
    for i, s in enumerate(sh):
        for h in s:
            docs_of[h].append(i)
    shared = Counter()
    for ids in docs_of.values():
        if len(ids) <= 50:
            shared.update((a, b) for k, a in enumerate(ids) for b in ids[k + 1:])
    best = np.zeros(len(sh))
    for (a, b), n in shared.items():
        if n >= 3:
            j = len(sh[a] & sh[b]) / len(sh[a] | sh[b])
            best[a], best[b] = max(best[a], j), max(best[b], j)
    return best


def table_stats(d: str) -> dict:
    t = {name: pd.read_parquet(os.path.join(d, f"{name}.parquet")) for name in TABLES}
    c, p, o, li, e = t["customer"], t["part"], t["orders"], t["lineitem"], t["events"]
    docs, emb = t["documents"], t["embeddings"]
    out = {f"rows.{k}": len(v) for k, v in t.items()}
    out.update({
        "customer.acctbal": _quartiles(c.c_acctbal),
        "customer.segment": _shares(c.c_mktsegment),
        "part.distinct_name_brand_type": [p.p_name.nunique(), p.p_brand.nunique(), p.p_type.nunique()],
        "part.size": _quartiles(p.p_size),
        "orders.custkey_distinct": o.o_custkey.nunique(),
        "orders.totalprice": _quartiles(o.o_totalprice),
        "orders.status": _shares(o.o_orderstatus),
        "orders.date_range": [str(o.o_orderdate.min().date()), str(o.o_orderdate.max().date())],
        "lineitem.lines_per_order": _quartiles(li.groupby("l_orderkey").size()),
        "lineitem.distinct_order_part_supp": [
            li.l_orderkey.nunique(), li.l_partkey.nunique(), li.l_suppkey.nunique()
        ],
        "lineitem.extendedprice": _quartiles(li.l_extendedprice),
        "lineitem.quantity": _quartiles(li.l_quantity),
        "lineitem.shipdate_range": [str(li.l_shipdate.min().date()), str(li.l_shipdate.max().date())],
        "events.users": e.user_id.nunique(),
        "events.per_user": _quartiles(e.groupby("user_id").size()),
        "events.type": _shares(e.event_type),
        "events.value": _quartiles(e.value),
        "events.ts_sorted": bool(e.ts.is_monotonic_increasing),
        "events.props_distinct": e.props.nunique(),
    })
    words = docs.text.str.split().tolist()
    copies = docs.text.str.endswith(" dup")
    best = _best_shingle_jaccard(words)
    out.update({
        "documents.vocabulary": len({w for ws in words for w in ws}),
        "documents.words": _quartiles([len(ws) for ws in words]),
        "documents.n_chars": _quartiles(docs.n_chars),
        "documents.lang": _shares(docs.lang),
        "documents.ending_in_dup": int(copies.sum()),
        "documents.exact_duplicate_texts": int(docs.text.duplicated().sum()),
        "documents.with_neardup_j>=0.5": int((best >= 0.5).sum()),
        "documents.neardup_j_quartiles": _quartiles(best[best >= 0.5]) if (best >= 0.5).any() else [],
    })
    x = np.stack(emb.embedding.to_numpy()).astype(np.float64)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    label = emb.label.to_numpy()
    cos = x @ x.T
    np.fill_diagonal(cos, np.nan)
    same = label[:, None] == label[None, :]
    out.update({
        "embeddings.dim_labels": [x.shape[1], int(len(np.unique(label)))],
        "embeddings.mean_cos_same_label": round(float(np.nanmean(np.where(same, cos, np.nan))), 4),
        "embeddings.nearest_neighbour_cos": _quartiles(np.nanmax(cos, axis=1)),
    })
    return out


def query_stats(dirs: list[str], reps: int = 3) -> dict[str, dict]:
    """Result rows of each headline query, and its median noop-sink time
    as the traced ``queries`` workload measures it (one untimed warm-up
    pass, then ``reps`` passes), on each directory in one session."""
    import tempfile

    from workloads import HEADLINE_QUERIES, Queries, release_cached

    from dataquality_box_spark.driver_queries import PAIRS
    from dataquality_box_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    spark = get_spark("compare-tables", parallelism=cores, shuffle_partitions=cores)
    spark.sparkContext.setLogLevel("ERROR")
    out = {}
    with tempfile.TemporaryDirectory() as work:
        for d in dirs:
            rows = {q: PAIRS[q][0](spark, d).count() for q in HEADLINE_QUERIES}
            release_cached(spark)
            secs = Queries(spark, {"tables": d}, work).layers(reps, warm_up=True)
            out[d] = {f"q.{q}": [rows[q], round(secs[f"q.{q}_s"], 3)] for q in HEADLINE_QUERIES}
            out[d]["q.pass_s"] = round(sum(v[1] for v in out[d].values()), 3)
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("dirs", nargs=2)
    ap.add_argument("--queries", action="store_true")
    args = ap.parse_args()
    a, b = (table_stats(d) for d in args.dirs)
    if args.queries:
        q = query_stats(args.dirs)
        a.update(q[args.dirs[0]])
        b.update(q[args.dirs[1]])
    for k in a:
        print(f"{k:36s} {json.dumps(a[k])}  |  {json.dumps(b.get(k))}")


if __name__ == "__main__":
    main()
