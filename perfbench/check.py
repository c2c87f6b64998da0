"""Output checks: order-insensitive digests of query results, compared with
the digest of each query's DuckDB twin on the same tables.

The normalization is the oracle-parity suite's (``tests/parity.py``): its
cell rule ``_norm_cell``, its row rule (``iterrows``: an all-numeric row
upcast to the frame's common type, otherwise every cell keeping its
column's type) and its order (columns by name, rows sorted).
``tests.parity.normalize`` walks ``iterrows`` and takes 25-32 s over a
``core_batch`` check pass on a 4-vCPU VM (15-19 s for
``health_lag_alarm``'s 216k rows), about half a run; ``normalize`` below
applies the same cell rule once per distinct value of a column and returns
the same rows in about 2 s. The self-tests hold the two equal.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pandas as pd

from amazon_kinesis_data_streams_health_check_spark.schemas import TESTDATA_TABLES
from tests import parity
from tests.parity import _norm_cell, run_oracle


def _norm_column(col: pd.Series) -> list[str]:
    # Normalize each distinct value once, boxed as a row walk over a
    # mixed-type frame sees it (Timestamp, Python int/float/bool).
    try:
        codes, uniques = pd.factorize(col)
    except TypeError:  # unhashable cells (arrays, lists)
        return [_norm_cell(v) for v in col.astype(object)]
    boxed = pd.Series(uniques, dtype=col.dtype).astype(object)
    text = np.array([_norm_cell(v) for v in boxed] + ["<NULL>"], dtype=object)
    return text[codes].tolist()  # code -1 (missing) picks the trailing "<NULL>"


def normalize(df: pd.DataFrame) -> list[tuple[str, ...]]:
    """Same result as ``tests.parity.normalize(df)``."""
    cols = sorted(df.columns)
    sub = df[cols]
    dtypes = list(sub.dtypes)
    if not cols or len(set(cols)) < len(cols) or not all(isinstance(d, np.dtype) for d in dtypes):
        return parity.normalize(df)
    if all(d.kind in "iuf" for d in dtypes):
        sub = sub.astype(np.result_type(*dtypes))
    return sorted(zip(*(_norm_column(sub.iloc[:, j]) for j in range(len(cols)))))


def frame_digest(df: pd.DataFrame) -> dict:
    """``{"rows", "sha256"}`` of a frame's normalized content and columns."""
    h = hashlib.sha256("\x1f".join(sorted(df.columns)).encode())
    h.update("".join("\x1e" + "\x1f".join(row) for row in normalize(df)).encode())
    return {"rows": int(len(df)), "sha256": h.hexdigest()}


def oracle_key(sql: str, sf_dir: str) -> str:
    """What a cached twin digest was computed from: the SQL text and the
    identity (path, size, mtime) of every table file it could read."""
    h = hashlib.sha256(sql.encode())
    for t in TESTDATA_TABLES:
        path = os.path.join(os.path.abspath(sf_dir), f"{t}.parquet")
        st = os.stat(path)
        h.update(f"\x1e{path}\x1f{st.st_size}\x1f{st.st_mtime_ns}".encode())
    return h.hexdigest()


def expected_digests(oracles: dict[str, str], sf_dir: str, cache_path: str) -> dict[str, dict]:
    """Digest of each query's DuckDB twin, from ``cache_path`` when its key
    still matches, computed (and cached) otherwise."""
    cache: dict = {}
    if os.path.exists(cache_path):
        with open(cache_path) as fh:
            cache = json.load(fh)
    out, stale = {}, False
    for name, sql in oracles.items():
        key = oracle_key(sql, sf_dir)
        hit = cache.get(name)
        if not hit or hit.get("key") != key:
            hit = dict(frame_digest(run_oracle(sql, sf_dir)), key=key)
            cache[name], stale = hit, True
        out[name] = {"rows": hit["rows"], "sha256": hit["sha256"]}
    if stale:
        os.makedirs(os.path.dirname(cache_path), exist_ok=True)
        tmp = cache_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(cache, fh, indent=1, sort_keys=True)
        os.replace(tmp, cache_path)
    return out
