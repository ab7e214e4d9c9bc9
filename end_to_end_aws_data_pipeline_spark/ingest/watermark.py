"""Incremental-load watermarks: the reference's DynamoDB nested-map
state (ref: second_lambda_function.py:42-88 read/gate,
delta_load.py:204-265 advance) as one small local JSON file.

Semantics preserved exactly:
- per table, only a *strictly newer* version timestamp is processed
  (equal/older skipped — ref second_lambda_function.py:76);
- the watermark advances only after a successful load (ref
  delta_load.py:49-53), so failures replay (at-least-once), and the
  keyed upsert downstream makes the replay idempotent (exactly-once
  effect end-to-end).

The state, ``{table_name: folder_ts}``, is read and written with plain
file I/O, no Spark job; a write goes to an fsynced temp file renamed
over the state file, so a crash leaves the old map or the new one. The
relational gate on arriving work is a broadcast left join + filter.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class WatermarkStore:
    """File-backed watermark state (``<warehouse>/_ingest_watermarks.json``)."""

    def __init__(self, path: str):
        self.path = path

    def _load(self) -> dict[str, int]:
        if not os.path.exists(self.path):
            return {}
        with open(self.path, encoding="utf-8") as f:
            return json.load(f)

    def get(self, table_name: str) -> int | None:
        return self._load().get(table_name)

    def advance(self, table_name: str, folder_ts: int) -> None:
        """Monotonic update of one table's watermark (never moves backward)."""
        current = self.get(table_name)
        if current is not None and current >= folder_ts:
            return
        state = self._load()
        state[table_name] = folder_ts
        tmp = self.path + ".tmp"
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump(state, f, sort_keys=True)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self.path)


def gate_strictly_newer(
    incoming: DataFrame,
    watermarks: DataFrame,
    key_col: str,
    ts_col: str,
    wm_key_col: str = "table_name",
    wm_ts_col: str = "folder_ts",
) -> DataFrame:
    """Keep incoming rows strictly newer than their key's watermark
    (rows with no watermark pass — first delivery).

    Batch-relational form of the reference's DynamoDB gate; the
    watermark side is small → broadcast join, zero shuffle of the
    incoming side.
    """
    wm = F.broadcast(
        watermarks.select(
            F.col(wm_key_col).alias("__wm_key"), F.col(wm_ts_col).alias("__wm_ts")
        )
    )
    return (
        incoming.join(wm, incoming[key_col] == wm["__wm_key"], "left")
        .filter(F.col("__wm_ts").isNull() | (F.col(ts_col) > F.col("__wm_ts")))
        .drop("__wm_key", "__wm_ts")
    )
