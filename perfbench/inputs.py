"""Seeded events parquet, the only input the program under test receives.

The columns match ``sources.transcripts.generate_transcripts``
(``event_id, ts, user_id, event_type, value, props``), so
``synthesize_transcripts(spark, <dir>)`` turns them into transcripts and
the DuckDB oracle mirrors the same derivation. Unlike that generator,
the per-row hash and the conversation assignment mix in the seed: the
same seed always writes byte-identical rows, another seed moves rows
between conversations and changes their bodies.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["click", "view", "error", "run", "purchase"], dtype=object)
PROPS = np.array([f'{{"k": {k}}}' for k in range(97)], dtype=object)
TS_BASE = 1704067200  # 2024-01-01T00:00:00Z

_M64 = np.uint64(0xFFFFFFFFFFFFFFFF)


def _mix(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer over uint64 (wrapping arithmetic)."""
    with np.errstate(over="ignore"):
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return (x ^ (x >> np.uint64(31))) & _M64


def events_table(
    n_rows: int,
    n_convs: int,
    seed: int,
    hot_convs: int = 0,
    hot_fraction: float = 0.3,
) -> pa.Table:
    """Rows ``event_id = 0..n_rows-1``; with ``hot_convs > 0`` that many
    conversations receive ``hot_fraction`` of the rows, picked by hash
    so hot rows are spread over the whole id range."""
    rid = np.arange(n_rows, dtype=np.uint64)
    with np.errstate(over="ignore"):
        salt = _mix(np.array([seed], dtype=np.uint64) * np.uint64(0x9E3779B97F4A7C15))[0]
        h1 = _mix(rid ^ salt)
        h2 = _mix(h1 + np.uint64(0x632BE59BD9B4E019))
    if hot_convs > 0:
        is_hot = (h2 % np.uint64(1_000_000)) < np.uint64(int(hot_fraction * 1_000_000))
        cold = np.uint64(hot_convs) + (h2 >> np.uint64(20)) % np.uint64(n_convs - hot_convs)
        user = np.where(is_hot, (h2 >> np.uint64(20)) % np.uint64(hot_convs), cold)
    else:
        user = (h2 >> np.uint64(20)) % np.uint64(n_convs)
    ts_sec = TS_BASE + ((rid % np.uint64(86400)) * np.uint64(31)) % np.uint64(2592000)
    return pa.table(
        {
            "event_id": pa.array(rid.astype(np.int64)),
            "ts": pa.array(ts_sec.astype(np.int64) * 1_000_000, type=pa.timestamp("us")),
            "user_id": pa.array(user.astype(np.int64)),
            "event_type": pa.array(EVENT_TYPES[(h1 % np.uint64(5)).astype(np.int64)], type=pa.string()),
            "value": pa.array((h1 % np.uint64(10000)).astype(np.float64) / 100.0),
            "props": pa.array(PROPS[(h1 % np.uint64(97)).astype(np.int64)], type=pa.string()),
        }
    )


def write_events(
    data_dir: str,
    n_rows: int,
    n_convs: int,
    seed: int,
    hot_convs: int = 0,
    n_files: int = 8,
) -> str:
    """Write ``<data_dir>/events.parquet/part-*.parquet`` and return the
    glob DuckDB reads. Several files give the Spark scan several splits,
    as a real table has; the split count does not depend on the host."""
    table = events_table(n_rows, n_convs, seed, hot_convs)
    out = os.path.join(data_dir, "events.parquet")
    os.makedirs(out, exist_ok=True)
    step = -(-n_rows // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step), os.path.join(out, f"part-{i:05d}.parquet"))
    return os.path.join(out, "*.parquet")
