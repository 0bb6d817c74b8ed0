"""Seeded topic generator for the benchmark (numpy + pyarrow only).

It writes a Kafka topic file, ``<dir>/events.parquet`` in the ``events``
schema, which ``read_kafquack(fixture_dir=<dir>)`` replays through the
reference's 7-column projection.  The same seed gives a byte-identical
file.  The program under test only ever sees the file.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_T0_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC
_EVENT_TYPES = np.array(["signup", "click", "view", "purchase", "error"])


@dataclass(frozen=True)
class TopicSpec:
    """Shape of a generated topic.  Every share is a per-row probability."""

    rows: int = 600_000
    rows_per_group: int = 10_000  # parquet row groups = batch-reader splits
    users: int = 5_000
    key_skew: float = 1.3  # Zipf exponent of user_id (partition = user_id % 4)
    step_s: float = 2.0  # mean event-time gap between consecutive rows
    ooo_share: float = 0.05  # out of order, up to ``ooo_max_s`` behind, inside the watermark
    ooo_max_s: float = 1_800.0
    late_share: float = 0.005  # 1-2 days behind: beyond a 1-hour watermark
    dup_share: float = 0.005  # re-deliveries of a message 1-50 rows earlier


def write_topic(out_dir: str, seed: int, spec: TopicSpec = TopicSpec()) -> str:
    """Write ``<out_dir>/events.parquet`` and return its path.

    ``event_id`` is the Kafka offset and rises with file order; a
    re-delivered message repeats the offset, key, timestamp and payload
    of its original.  Event time rises with file order except for the
    out-of-order and late shares.  Null keys, null timestamps and error
    rows come from the reference projection (``event_id`` modulo 10, 97
    and 101), so they are not generated here.
    """
    rng = np.random.default_rng([seed, 1])
    n = spec.rows
    idx = np.arange(n, dtype=np.int64)
    step_us = int(spec.step_s * 1e6)
    ts = _T0_US + idx * step_us + rng.integers(0, step_us // 2, n)
    ooo = rng.random(n) < spec.ooo_share
    ts[ooo] -= rng.integers(1, int(spec.ooo_max_s * 1e6), int(ooo.sum()))
    late = ~ooo & (rng.random(n) < spec.late_share)
    ts[late] -= rng.integers(86_400_000_000, 2 * 86_400_000_000, int(late.sum()))
    user = (rng.zipf(spec.key_skew, n) - 1) % spec.users
    etype = _EVENT_TYPES[rng.integers(0, len(_EVENT_TYPES), n)]
    value = np.round(rng.exponential(30.0, n), 2)
    props = np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n).astype(str)), "}")
    event_id = idx.copy()

    # re-deliveries copy an earlier in-order message with a timestamp and
    # a value (not an error row), so every copy falls to the dedup state
    dup = rng.random(n) < spec.dup_share
    src = idx - rng.integers(1, 51, n)
    ok = dup & (src >= 0)
    ok[ok] &= ~dup[src[ok]] & ~ooo[src[ok]] & ~late[src[ok]]
    ok[ok] &= (src[ok] % 97 != 0) & (src[ok] % 101 != 0)
    s = src[ok]
    event_id[ok], ts[ok], user[ok] = event_id[s], ts[s], user[s]
    etype[ok], value[ok], props[ok] = etype[s], value[s], props[s]

    table = pa.table(
        {
            "event_id": pa.array(event_id, pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(user.astype(np.int64), pa.int64()),
            "event_type": pa.array(etype, pa.string()),
            "value": pa.array(value, pa.float64()),
            "props": pa.array(props, pa.string()),
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "events.parquet")
    pq.write_table(table, path, row_group_size=spec.rows_per_group)
    return path
