"""The benchmark's workloads, each driving the engine's public entry points.

Every workload has the same shape:

* ``register``        — build the input relations (part of set-up time);
* ``reset``           — iteration hygiene, never timed: release every
                        cached frame and persisted RDD the previous
                        iteration left, and delete its output, so each
                        iteration does the same work;
* ``iteration``       — the timed unit of work;
* ``check_iteration`` — check that iteration's output, never timed;
* ``final_check``     — checks too costly to repeat per iteration;
* ``layers``          — the traced per-layer split of the workload.
"""

from __future__ import annotations

import os
import shutil

import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from checks import KeptReference, compare_query, duckdb_oracle
from dataquality_box_spark.config import DEFAULT_CONFIG
from dataquality_box_spark.driver_queries import PAIRS
from dataquality_box_spark.functions.scoring import score_udf
from dataquality_box_spark.functions.text import text_flag_columns, tokens
from dataquality_box_spark.operators.conversation import with_conversation_flags
from dataquality_box_spark.plans.ledger import Ledger
from dataquality_box_spark.plans.partitioned import ingest, process_partitions, run_resumable
from dataquality_box_spark.plans.pipeline import (
    annotate_turns,
    drop_reason_metrics,
    kept_turns,
    run_pipeline,
)
from dataquality_box_spark.schema import DROP_REASONS, TRANSCRIPT_SCHEMA
from dataquality_box_spark.sources.driver_tables import register_views
from dataquality_box_spark.sources.tableio import TableIO, stage_compression
from tracing import median, noop_sink, prefix_differences, timed

# The headline queries of the repository's bench: one per operator
# family that dominates query time (aggregate, window, two-tier join,
# transcript pipeline, LSH dedup, exact and ANN similarity, n-gram LM,
# chunk rewrite, winnowing).
HEADLINE_QUERIES = (
    "pricing_summary",
    "window_lag_gaps",
    "two_tier_reconciliation",
    "transcript_keep_scrub",
    "dedup_jaccard_lsh",
    "embedding_cosine_topk",
    "neardup_ann",
    "lm_perplexity_report",
    "chunk_rewrite_dedup",
    "winnow_fingerprint_report",
)
N_PARTITIONS = 8
MAX_CONCURRENT = 4


def release_cached(spark) -> int:
    """Drop every cached frame and persisted RDD; returns how many
    persisted RDDs were left before the release."""
    jsc = spark.sparkContext._jsc
    left = jsc.getPersistentRDDs().size()
    spark.catalog.clearCache()
    for rdd in list(jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)
    return left


class Workload:
    def __init__(self, spark, inputs: dict, work_dir: str):
        self.spark = spark
        self.inputs = inputs
        self.work_dir = work_dir

    def register(self) -> None:
        raise NotImplementedError

    def input_rows(self) -> int:
        raise NotImplementedError

    def _output_dir(self) -> str:
        return os.path.join(self.work_dir, type(self).__name__.lower())

    def reset(self) -> None:
        release_cached(self.spark)
        shutil.rmtree(self._output_dir(), ignore_errors=True)

    def iteration(self) -> None:
        raise NotImplementedError

    def check_iteration(self) -> list[str]:
        return []

    def final_check(self) -> tuple[list[str], dict[str, float]]:
        return [], {}

    def layers(self, reps: int, warm_up: bool) -> dict[str, float]:
        raise NotImplementedError


class _TranscriptWorkload(Workload):
    """Common input of the two transcript workloads: the seeded corpus
    and its cached reference labels."""

    _reference: KeptReference | None = None

    def register(self) -> None:
        self.df = self.spark.read.schema(TRANSCRIPT_SCHEMA).parquet(self.inputs["corpus"])

    def input_rows(self) -> int:
        return self.reference.rows_in

    @property
    def reference(self) -> KeptReference:
        if self._reference is None:
            self._reference = KeptReference.load(self.inputs["reference"])
        return self._reference


class Pipeline(_TranscriptWorkload):
    """``run_pipeline`` + ``kept_turns`` -> parquet, the flagship job."""

    def iteration(self) -> None:
        kept_turns(run_pipeline(self.df, DEFAULT_CONFIG)).write.mode("overwrite").parquet(
            self._output_dir()
        )

    def check_iteration(self) -> list[str]:
        self.kept = pd.read_parquet(self._output_dir())
        return self.reference.check_kept(self.kept)

    def final_check(self) -> tuple[list[str], dict[str, float]]:
        rows = drop_reason_metrics(run_pipeline(self.df, DEFAULT_CONFIG)).collect()
        counts = {r["drop_reason"]: int(r["rows_flagged"]) for r in rows}
        rows_in = counts.pop("__total__", 0)
        rows_kept = len(self.kept)
        metrics = {"rows.in": float(rows_in), "rows.kept": float(rows_kept)}
        metrics.update({f"rows.drop.{r}": float(counts.get(r, 0)) for r in DROP_REASONS})
        problems = self.reference.check_counts(rows_in, rows_kept, counts)
        return problems + self.reference.check_no_raw_pii(self.kept), metrics

    def layers(self, reps: int, warm_up: bool) -> dict[str, float]:
        cfg, base, text = DEFAULT_CONFIG, self.df, F.col("text")

        def text_flags():
            out = base.withColumn("__toks", tokens(text))
            for name, col in text_flag_columns(text, cfg, toks=F.col("__toks")).items():
                out = out.withColumn(name, col)
            return out

        # each prefix is timed from building its plan to the end of its
        # action; the last one is the workload's own iteration
        prefixes = {
            "scan": lambda: noop_sink(base),
            "text_flags": lambda: noop_sink(text_flags()),
            "scorer": lambda: noop_sink(base.withColumn("__score", score_udf(text))),
            "annotate": lambda: noop_sink(annotate_turns(base, cfg)),
            "conv_window": lambda: noop_sink(
                with_conversation_flags(annotate_turns(base, cfg), cfg)
            ),
            "decide_scrub": lambda: noop_sink(run_pipeline(base, cfg)),
            "write": self.iteration,
        }
        if warm_up:
            self.reset()
            self.iteration()
        samples: dict[str, list[float]] = {k: [] for k in prefixes}
        for _ in range(reps):
            for name, run in prefixes.items():
                self.reset()
                samples[name].append(timed(run))
        layer_s = prefix_differences({k: median(v) for k, v in samples.items()})
        return {f"layer.{k}_s": v for k, v in layer_s.items()}


class Partitioned(_TranscriptWorkload):
    """``run_resumable``: conv_id-bucketed ingest, then concurrent
    per-partition pipeline jobs with ledger commits."""

    def iteration(self) -> None:
        run_resumable(
            self.spark, self.df, self._output_dir(), DEFAULT_CONFIG,
            n_partitions=N_PARTITIONS, max_concurrent=MAX_CONCURRENT,
        )

    def _process_entries(self):
        ledger = Ledger(os.path.join(self._output_dir(), "_ledger.jsonl"))
        return [e for e in ledger.entries() if e.stage == "process" and e.status == "SUCCESS"]

    def check_iteration(self) -> list[str]:
        self.kept = pd.read_parquet(os.path.join(self._output_dir(), "result"))
        problems = self.reference.check_kept(self.kept)
        entries = self._process_entries()
        reasons: dict[str, int] = {}
        for e in entries:
            for r, n in e.drop_reason_counts.items():
                reasons[r] = reasons.get(r, 0) + n
        return problems + self.reference.check_counts(
            sum(e.rows_in for e in entries), sum(e.rows_kept for e in entries), reasons
        )

    def final_check(self) -> tuple[list[str], dict[str, float]]:
        return self.reference.check_no_raw_pii(self.kept), {}

    def layers(self, reps: int, warm_up: bool) -> dict[str, float]:
        if warm_up:
            self.reset()
            self.iteration()
        ingest_s, process_s, job_max_s = [], [], []
        for _ in range(reps):
            self.reset()
            io = TableIO(self._output_dir(), compression=stage_compression("RESULT"))
            ingest_s.append(timed(lambda: ingest(self.spark, self.df, io, N_PARTITIONS)))
            process_s.append(timed(lambda: process_partitions(
                self.spark, io, DEFAULT_CONFIG, N_PARTITIONS, max_concurrent=MAX_CONCURRENT
            )))
            job_max_s.append(max(e.duration_sec for e in self._process_entries()))
        return {
            "layer.ingest_s": median(ingest_s),
            "layer.process_s": median(process_s),
            "layer.partition_job_max_s": median(job_max_s),
        }


class Queries(Workload):
    """One pass over the ten headline queries, each into a noop sink."""

    def register(self) -> None:
        register_views(self.spark, self.inputs["tables"])

    def input_rows(self) -> int:
        # the derived transcripts table has one turn per event
        return pq.ParquetFile(os.path.join(self.inputs["tables"], "events.parquet")).metadata.num_rows

    def iteration(self) -> None:
        tables = self.inputs["tables"]
        self.query_s = {
            q: timed(lambda: noop_sink(PAIRS[q][0](self.spark, tables)))
            for q in HEADLINE_QUERIES
        }

    def final_check(self) -> tuple[list[str], dict[str, float]]:
        con = duckdb_oracle(self.inputs["tables"], os.path.join(self.work_dir, "duckdb"))
        problems = []
        try:
            for q in HEADLINE_QUERIES:
                fn, sql = PAIRS[q]
                got = fn(self.spark, self.inputs["tables"]).toPandas()
                problems += [f"{q}: {p}" for p in compare_query(q, got, con.execute(sql).fetchdf())]
        finally:
            con.close()
            release_cached(self.spark)
        return problems, {}

    def layers(self, reps: int, warm_up: bool) -> dict[str, float]:
        if warm_up:
            self.reset()
            self.iteration()
        samples: dict[str, list[float]] = {q: [] for q in HEADLINE_QUERIES}
        left = []
        for _ in range(reps):
            self.reset()
            self.iteration()
            for q, s in self.query_s.items():
                samples[q].append(s)
            left.append(release_cached(self.spark))
        out = {f"q.{q}_s": median(v) for q, v in samples.items()}
        out["queries.cached_rdds_left"] = float(max(left))
        return out


WORKLOADS = {"pipeline": Pipeline, "partitioned": Partitioned, "queries": Queries}
