"""Correctness checks, run outside the timed region.

- Oracle-backed queries: the Spark result must match the query's registry
  ``oracle`` SQL run by DuckDB on the same generated parquet files: same
  column names, same row count and the same order-insensitive value hash.
  Cells are normalised the way the repository's differential tests do it
  (floats to 6 decimals, integral floats as integers, NaN as NULL), but
  column by column instead of with a row-wise ``iterrows`` loop, because
  every run checks outputs of up to 150k rows.
- ``minhash_lsh_pairs`` has no SQL oracle; every pair it reports is
  recomputed exactly here.
- MapReduce jobs: exactly R output files, globally sorted by key, with
  contents equal to an independent count.

Each check returns ``None`` when the output is correct, or a one-line
reason.
"""

from __future__ import annotations

import datetime as dt
import decimal
import glob
import hashlib
import math
import os
import re
from collections import Counter, defaultdict

import numpy as np
import pandas as pd

ROUND_TOL = 1.01e-4  # results are rounded to 4 decimals


# ---------------------------------------------------------------------------
# Oracle hash
# ---------------------------------------------------------------------------


def _cell(v) -> str:
    if v is None or v is pd.NaT or (v is pd.NA):
        return "NULL"
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, (float, np.floating)):
        v = float(v)
        if math.isnan(v):
            return "NULL"
        if math.isinf(v):
            return "inf" if v > 0 else "-inf"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return f"{v:.6f}"
    if isinstance(v, decimal.Decimal):
        # Type-sensitive like the repository's oracle hash: a DECIMAL never equals an
        # integer or float column.
        return f"decimal:{v}"
    if isinstance(v, pd.Timestamp):
        v = v.tz_convert(None) if v.tzinfo else v
        return f"ts:{v.value // 1000}"
    if isinstance(v, dt.datetime):
        return f"ts:{int(pd.Timestamp(v).value // 1000)}"
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    return str(v)


def frame_digest(pdf: pd.DataFrame) -> tuple[list[str], int, str]:
    """(sorted column names, row count, order-insensitive value hash)."""
    cols = sorted(pdf.columns)
    per_col = [[_cell(v) for v in pdf[c].astype(object).tolist()] for c in cols]
    rows = sorted("\x1f".join(r) for r in zip(*per_col))
    h = hashlib.sha256("\x1e".join(rows).encode()).hexdigest()
    return cols, len(pdf), h


class Oracle:
    """DuckDB over one directory of generated parquet tables."""

    def __init__(self, table_dir: str):
        import duckdb

        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        for path in sorted(glob.glob(os.path.join(table_dir, "*.parquet"))):
            name = os.path.basename(path)[: -len(".parquet")]
            self.con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
            )

    def close(self) -> None:
        self.con.close()

    def compare(self, name: str, spark_pdf: pd.DataFrame, oracle_sql: str) -> str | None:
        s_cols, s_n, s_h = frame_digest(spark_pdf)
        o_cols, o_n, o_h = frame_digest(self.con.execute(oracle_sql).df())
        if s_cols != o_cols:
            return f"{name}: columns spark={s_cols} oracle={o_cols}"
        if s_n != o_n:
            return f"{name}: rows spark={s_n} oracle={o_n}"
        if s_h != o_h:
            return f"{name}: value hash differs ({s_n} rows)"
        return None


# ---------------------------------------------------------------------------
# Exact invariants for the approximate queries
# ---------------------------------------------------------------------------


def _shingles(text: str) -> set[str]:
    toks = [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]
    return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}


def _round4(x: float) -> float:
    return math.floor(x * 10000 + 0.5) / 10000


def check_minhash(pdf: pd.DataFrame, documents) -> str | None:
    """Every pair has doc_a < doc_b, appears once and carries its exact
    3-gram Jaccard, which is at least 0.5; every pair of identical
    documents with at least one shingle is reported."""
    text = dict(zip(documents.column("doc_id").to_pylist(), documents.column("text").to_pylist()))
    sh: dict[int, set[str]] = {}
    seen = set()
    for a, b, j in zip(pdf["doc_a"].tolist(), pdf["doc_b"].tolist(), pdf["jaccard"].tolist()):
        if not a < b or (a, b) in seen:
            return f"minhash_lsh_pairs: bad or repeated pair ({a}, {b})"
        seen.add((a, b))
        sa = sh.setdefault(a, _shingles(text[a]))
        sb = sh.setdefault(b, _shingles(text[b]))
        exact = len(sa & sb) / len(sa | sb) if sa | sb else 0.0
        if abs(_round4(exact) - j) > ROUND_TOL or exact < 0.5 - 1e-9:
            return f"minhash_lsh_pairs: ({a}, {b}) jaccard {j} exact {exact:.6f}"
    groups = defaultdict(list)
    for d, t in text.items():
        if _shingles(t):
            groups[t].append(d)
    for ids in groups.values():
        ids.sort()
        for i in range(len(ids)):
            for k in range(i + 1, len(ids)):
                if (ids[i], ids[k]) not in seen:
                    return f"minhash_lsh_pairs: identical docs ({ids[i]}, {ids[k]}) not reported"
    return None


INVARIANTS = {
    "minhash_lsh_pairs": lambda pdf, corpus: check_minhash(pdf, corpus["documents"]),
}


# ---------------------------------------------------------------------------
# MapReduce outputs
# ---------------------------------------------------------------------------

_WC_DELIMS = re.compile(r"[ ,.\"']+")


def expected_wordcount(paths: list[str]) -> dict[str, str]:
    c: Counter = Counter()
    for p in paths:
        with open(p, encoding="utf-8") as fh:
            for line in fh:
                c.update(t for t in _WC_DELIMS.split(line.rstrip("\n")) if t)
    return {k: str(v) for k, v in c.items()}


def check_mr_output(name: str, outputs: list[str], r: int, expected: dict[str, str]) -> str | None:
    want = [os.path.join(os.path.dirname(outputs[0]), f"output_{i}") for i in range(r)] if outputs else []
    if sorted(outputs) != sorted(want) or len(outputs) != r:
        return f"{name}: expected {r} files output_0..output_{r - 1}, got {len(outputs)}"
    keys, got = [], {}
    for p in want:
        with open(p, encoding="utf-8") as fh:
            for line in fh:
                k, sep, v = line.rstrip("\n").partition(", ")
                if not sep:
                    return f"{name}: malformed line {line!r} in {os.path.basename(p)}"
                keys.append(k)
                got[k] = v
    if any(a >= b for a, b in zip(keys, keys[1:])):
        return f"{name}: keys not globally sorted across the {r} files"
    if got != expected:
        diff = sorted(set(got.items()) ^ set(expected.items()))[:2]
        return f"{name}: {len(got)} keys vs {len(expected)} expected; e.g. {diff}"
    return None
