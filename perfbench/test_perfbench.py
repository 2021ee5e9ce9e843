"""Self-tests of the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import checks  # noqa: E402
import compare_tables  # noqa: E402
import inputs  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402

from dataquality_box_spark.driver_queries import PAIRS  # noqa: E402
from dataquality_box_spark.reference_impl import reference_labels  # noqa: E402
from dataquality_box_spark.schema import DROP_REASONS  # noqa: E402
from dataquality_box_spark.synth import gen_transcripts  # noqa: E402


# a metric or workload name as BENCHMARK.json allows it
METRIC_NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


@pytest.fixture(scope="module")
def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_are_valid_and_unique(spec):
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    names += [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    for name in names:
        assert METRIC_NAME.match(name), name


def test_declared_metrics_match_what_the_run_reports(spec):
    from workloads import HEADLINE_QUERIES, WORKLOADS

    assert tuple(WORKLOADS) == run.WORKLOADS
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)
    sample = {"setup_s": 3.0, "cold_s": 5.0, "warm_s": [1.0, 2.0], "rows": 10, "peak_rss_mb": 1.0}
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert {k: u for k, (_, u) in run.end_to_end([sample]).items()} == e2e
    for m in spec["per_layer"]:
        assert run.layer_unit(m["name"]) == m["unit"], m
    per_layer = {m["name"] for m in spec["per_layer"]}
    expected = {f"layer.{k}_s" for k in tracing.PREFIX_PARENT}
    expected |= {f"q.{q}_s" for q in HEADLINE_QUERIES}
    expected |= {f"rows.drop.{r}" for r in DROP_REASONS}
    assert expected <= per_layer


def test_prefix_differences():
    prefix = {"scan": 1.0, "text_flags": 3.0, "scorer": 4.5, "annotate": 6.0,
              "conv_window": 7.5, "decide_scrub": 9.0, "write": 10.0}
    layers = tracing.prefix_differences(prefix)
    assert layers == {"scan": 1.0, "text_flags": 2.0, "scorer": 3.5, "annotate": 5.0,
                      "conv_window": 1.5, "decide_scrub": 1.5, "write": 1.0}
    assert sum(layers[k] for k in tracing.BLOCKING_LAYERS) == pytest.approx(prefix["write"])


def test_median_of_even_count():
    assert tracing.median([4.0, 1.0, 3.0, 2.0]) == 2.5


@pytest.fixture(scope="module")
def labels() -> pd.DataFrame:
    ref = reference_labels(gen_transcripts(60, seed=3))
    ref["drop_reasons"] = ref["drop_reasons"].map(",".join)
    return ref


def _kept(labels: pd.DataFrame) -> pd.DataFrame:
    return labels.loc[labels["keep"], checks.KEY_COLS].reset_index(drop=True)


def test_kept_check_accepts_reference_output(labels):
    ref = checks.KeptReference(labels)
    got = _kept(labels).sample(frac=1.0, random_state=0)  # order must not matter
    assert ref.check_kept(got) == []


def test_kept_check_rejects_flipped_keep(labels):
    ref = checks.KeptReference(labels)
    dropped = labels.loc[~labels["keep"], checks.KEY_COLS].head(1)
    dropped = dropped.assign(scrubbed_text="x")
    flipped = pd.concat([_kept(labels).iloc[1:], dropped], ignore_index=True)
    assert ref.check_kept(flipped)


def test_kept_check_rejects_altered_text_and_raw_pii(labels):
    ref = checks.KeptReference(labels)
    got = _kept(labels)
    got.loc[0, "scrubbed_text"] = "mail me at someone@example.com"
    assert any("scrubbed_text" in p for p in ref.check_kept(got))
    assert any("raw PII" in p for p in ref.check_no_raw_pii(got))
    assert ref.check_no_raw_pii(_kept(labels)) == []


def test_count_check_rejects_one_reason_off_by_one(labels):
    ref = checks.KeptReference(labels)
    counts = dict(ref.reason_counts)
    assert ref.check_counts(ref.rows_in, ref.rows_kept, counts) == []
    counts["too_short"] += 1
    assert ref.check_counts(ref.rows_in, ref.rows_kept, counts) == [
        f"rows.drop.too_short {counts['too_short']} != reference {counts['too_short'] - 1}"
    ]


@pytest.fixture(scope="module")
def tables(tmp_path_factory) -> str:
    return inputs.driver_tables(str(tmp_path_factory.mktemp("cache")), 0.002, seed=5)


def test_query_check_rejects_an_altered_row(tables, tmp_path):
    con = checks.duckdb_oracle(tables, str(tmp_path))
    try:
        exp = con.execute(PAIRS["window_lag_gaps"][1]).fetchdf()
    finally:
        con.close()
    assert len(exp) > 1
    got = exp.sample(frac=1.0, random_state=1).reset_index(drop=True)
    assert checks.compare_query("q", got, exp) == []
    altered = got.copy()
    altered.loc[0, "n_events"] += 1
    assert checks.compare_query("q", altered, exp)
    assert checks.compare_query("q", got.iloc[1:], exp)


def test_query_check_rejects_inexact_float():
    exp = pd.DataFrame({"k": [1, 2], "v": [0.1, 0.2]})
    got = exp.assign(v=[0.1, 0.2 + 1e-12])
    assert checks.compare_query("q", got, exp)


def test_inputs_are_a_function_of_the_seed(tmp_path):
    a = inputs.driver_tables(str(tmp_path / "a"), 0.001, seed=11)
    b = inputs.driver_tables(str(tmp_path / "b"), 0.001, seed=11)
    c = inputs.driver_tables(str(tmp_path / "c"), 0.001, seed=12)
    read = lambda d: pd.read_parquet(os.path.join(d, "events.parquet"))  # noqa: E731
    pd.testing.assert_frame_equal(read(a), read(b))
    assert not read(a).equals(read(c))


def test_documents_have_the_driver_tables_near_copy_structure(tables):
    docs = pd.read_parquet(os.path.join(tables, "documents.parquet"))
    copies = docs["text"].str.endswith(" dup")
    assert copies.sum() == len(docs) // 20
    assert (docs["text"].str.len() == docs["n_chars"]).all()
    originals = set(docs.loc[~copies, "text"])
    sources = docs.loc[copies, "text"].str.removesuffix(" dup")
    assert sources.isin(originals).mean() > 0.8
    stats = compare_tables.table_stats(tables)
    assert stats["documents.ending_in_dup"] == stats["rows.documents"] // 20
    assert stats["documents.with_neardup_j>=0.5"] >= stats["documents.ending_in_dup"]


def test_host_heap_is_bounded():
    heap = run.host_settings()["driver_heap"]
    assert heap.endswith("m") and 1024 <= int(heap[:-1]) <= 8192
