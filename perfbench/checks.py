"""Output checks, run outside every timed region.

Each check returns a list of problems; an empty list means the output is
correct. They compare the program's output with oracles that share no
code with the Spark plans under test:

* transcript pipeline outputs against ``reference_impl.reference_labels``
  (the pandas north-rule oracle), cached per seed;
* headline queries against their DuckDB ``oracle_sql`` twins, with the
  repository's oracle gate itself (``scripts/check_oracle.compare``):
  same row count, same column names, rows sorted by every column, floats
  compared exactly and everything else as strings.
"""

from __future__ import annotations

import os
import re
import sys

import numpy as np
import pandas as pd

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(_ROOT, "scripts"))

from check_oracle import compare as compare_query  # noqa: E402,F401

from dataquality_box_spark.config import SCRUB_STEPS  # noqa: E402
from dataquality_box_spark.schema import DROP_REASONS  # noqa: E402

KEY_COLS = ["conv_id", "turn_idx", "ts", "scrubbed_text"]

# The raw PII patterns the scrubber must have replaced.
_RAW_PII = [re.compile(p) for p, _ in SCRUB_STEPS]


def _keys(df: pd.DataFrame) -> pd.DataFrame:
    out = df[KEY_COLS].copy()
    out["ts"] = pd.to_datetime(out["ts"]).astype("datetime64[us]")
    out["turn_idx"] = out["turn_idx"].astype("int64")
    return out


def _row_hashes(keys: pd.DataFrame) -> np.ndarray:
    """Sorted per-row hashes: equal arrays mean equal row multisets."""
    return np.sort(pd.util.hash_pandas_object(keys, index=False).to_numpy())


class KeptReference:
    """The kept-turn set and drop-reason counts the reference produced."""

    def __init__(self, labels: pd.DataFrame):
        kept = labels[labels["keep"]]
        self.rows_in = len(labels)
        self.rows_kept = len(kept)
        self.keys = _keys(kept)
        self.hashes = _row_hashes(self.keys)
        reasons = labels["drop_reasons"].str.split(",").explode()
        counts = reasons[reasons != ""].value_counts()
        self.reason_counts = {r: int(counts.get(r, 0)) for r in DROP_REASONS}

    @classmethod
    def load(cls, labels_path: str) -> "KeptReference":
        return cls(pd.read_parquet(labels_path))

    def check_kept(self, got: pd.DataFrame) -> list[str]:
        """``got`` must hold exactly the reference's kept turns, with
        byte-identical scrubbed text, in any order."""
        if len(got) != self.rows_kept:
            return [f"kept rows {len(got)} != reference {self.rows_kept}"]
        keys = _keys(got)
        if np.array_equal(_row_hashes(keys), self.hashes):
            return []
        # slow path, only to say what differs
        g = keys.sort_values(KEY_COLS, kind="mergesort").reset_index(drop=True)
        e = self.keys.sort_values(KEY_COLS, kind="mergesort").reset_index(drop=True)
        problems = []
        for c in KEY_COLS:
            neq = g[c].to_numpy() != e[c].to_numpy()
            if neq.any():
                i = int(np.nonzero(neq)[0][0])
                problems.append(
                    f"kept {c} differs in {int(neq.sum())} rows, first "
                    f"{g[c].iloc[i]!r} vs {e[c].iloc[i]!r}"
                )
        return problems or ["kept rows differ from the reference"]

    @staticmethod
    def check_no_raw_pii(got: pd.DataFrame) -> list[str]:
        text = got["scrubbed_text"].fillna("")
        problems = []
        for cre in _RAW_PII:
            n = int((text.str.count(cre) > 0).sum())
            if n:
                problems.append(f"{n} kept rows still match raw PII /{cre.pattern}/")
        return problems

    def check_counts(self, rows_in: int, rows_kept: int, reasons: dict[str, int]) -> list[str]:
        problems = []
        if rows_in != self.rows_in:
            problems.append(f"rows.in {rows_in} != reference {self.rows_in}")
        if rows_kept != self.rows_kept:
            problems.append(f"rows.kept {rows_kept} != reference {self.rows_kept}")
        for r in DROP_REASONS:
            if int(reasons.get(r, 0)) != self.reason_counts[r]:
                problems.append(
                    f"rows.drop.{r} {reasons.get(r, 0)} != reference {self.reason_counts[r]}"
                )
        return problems


def duckdb_oracle(tables_dir: str, tmp_dir: str):
    """A DuckDB connection with the ten driver tables as views."""
    import duckdb

    from dataquality_box_spark.sources.driver_tables import TABLES

    con = duckdb.connect(config={"temp_directory": tmp_dir})
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables_dir}/{t}.parquet')"
        )
    return con
