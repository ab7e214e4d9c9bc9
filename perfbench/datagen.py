"""Inputs for every workload.

The query workload reads ``FIXTURE``, the repository's canonical sf0.01
tables (seed 42), copied into this directory so a run reads only inside
its checkout. ``plan_ingest`` turns the fixture's ``lineitem`` rows into
seeded, timestamped CSV deliveries for the ingest pipeline and derives, independently of the pipeline, the table state
those deliveries must produce. The same seed gives byte-identical files.
"""

from __future__ import annotations

import csv
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures", "sf0.01")

INGEST_TABLES = ("lineitem",)
INGEST_KEYS = {"lineitem": ["l_orderkey", "l_linenumber"]}
# the column a re-delivery changes, and the one a null row blanks (never
# a key, never the first column, so first-row schema inference and the
# key both stay intact)
_CHANGED = {"lineitem": "l_extendedprice"}
_NULLED = {"lineitem": "l_returnflag"}
N_FOLDERS = 2
# distinct-key fixture rows split into the folders; per-delivery fixed
# costs dominate well below this, and more rows lengthen every run
ROWS = 8_000
_FOLDER0 = np.datetime64("2024-03-01T06:00:00", "s")
_FOLDER_STEP = np.timedelta64(86_400 + 3_723, "s")


def _folder_name(ts: np.datetime64) -> str:
    return str(ts).replace("-", "").replace("T", "_").replace(":", "")


def _csv_rows(tab: pa.Table) -> tuple[list[str], list[tuple[str, ...]]]:
    """Table rows as the CSV strings a delivery carries: floats with two
    decimals (parsed back as DOUBLE by first-row inference), dates as
    ``YYYY-MM-DD`` (strings), integers as digits (BIGINT)."""
    cols = []
    for name in tab.column_names:
        col = tab.column(name)
        if pa.types.is_floating(col.type):
            cols.append([f"{v:.2f}" for v in col.to_numpy()])
        elif pa.types.is_timestamp(col.type):
            cols.append([str(v)[:10] for v in col.to_numpy()])
        else:
            cols.append([str(v) for v in col.to_pylist()])
    return tab.column_names, list(zip(*cols))


@dataclass
class Delivery:
    folder: str
    table: str
    header: list[str]
    rows: list[tuple[str | None, ...]]
    has_nulls: bool

    @property
    def rel_path(self) -> str:
        return f"{self.folder}/{self.table}.csv"


@dataclass
class IngestPlan:
    """The deliveries of one seed and the state they must produce."""

    deliveries: list[Delivery]
    late: list[Delivery]
    expected: dict[str, set[tuple[str, ...]]]

    @property
    def rows_delivered(self) -> int:
        return sum(len(d.rows) for d in self.deliveries)


def plan_ingest(seed: int) -> IngestPlan:
    """Split each ingest table of the fixture into ``N_FOLDERS`` deliveries.

    Folder 0 carries the first chunk of keys. Every later folder carries
    a new chunk, a re-delivery of earlier keys with a changed value,
    exact duplicate rows, and rows with a null. One late folder, dated
    between the first and the last folder, re-delivers changed rows and
    must be gated out by the watermark.
    """
    rng = np.random.default_rng(seed)
    deliveries: list[Delivery] = []
    late: list[Delivery] = []
    folders = [_folder_name(_FOLDER0 + i * _FOLDER_STEP) for i in range(N_FOLDERS)]
    late_folder = _folder_name(_FOLDER0 + _FOLDER_STEP // 2)
    for name in INGEST_TABLES:
        header, rows = _csv_rows(pq.read_table(os.path.join(FIXTURE, f"{name}.parquet")))
        # the fixture's lineitem repeats some (l_orderkey, l_linenumber)
        # pairs; keep the first row per key, so each row is a version
        key_idx = [header.index(k) for k in INGEST_KEYS[name]]
        first: dict[tuple[str, ...], tuple[str, ...]] = {}
        for r in rows:
            first.setdefault(tuple(r[i] for i in key_idx), r)
        rows = list(first.values())[:ROWS]
        changed, nulled = header.index(_CHANGED[name]), header.index(_NULLED[name])

        def with_change(i: int, value: str | None = None) -> tuple[str, ...]:
            r = list(rows[i])
            r[changed] = value or f"{float(r[changed]) + float(rng.integers(1, 1000)):.2f}"
            return tuple(r)

        delivered: list[int] = []
        for f, chunk in enumerate(np.array_split(rng.permutation(len(rows)), N_FOLDERS)):
            body = [rows[i] for i in chunk]
            n_null = 0
            if f > 0:
                # keys delivered only as a null row never reach the table
                n_null = max(1, len(chunk) // 40)
                for j in range(n_null):
                    r = list(body[j])
                    r[nulled] = None
                    body[j] = tuple(r)
                for i in rng.choice(delivered, size=max(1, len(chunk) // 5), replace=False):
                    rows[i] = with_change(i)
                    body.append(rows[i])
                clean = [r for r in body if None not in r]
                body += [clean[j] for j in rng.integers(0, len(clean), max(1, len(body) // 50))]
            delivered.extend(int(i) for i in chunk[n_null:])
            body = [body[j] for j in rng.permutation(len(body))]
            # first-row inference must see a row without nulls
            first = next(j for j, r in enumerate(body) if None not in r)
            body[0], body[first] = body[first], body[0]
            deliveries.append(Delivery(folders[f], name, header, body, n_null > 0))
        stale = rng.choice(delivered, size=max(1, len(delivered) // 10), replace=False)
        late.append(
            Delivery(late_folder, name, header, [with_change(i, "0.01") for i in stale], False)
        )
    return IngestPlan(deliveries, late, expected_state(deliveries))


def expected_state(deliveries: list[Delivery]) -> dict[str, set[tuple[str, ...]]]:
    """Newest version per key, after dropping null rows and exact
    duplicates — computed from the deliveries alone, not the pipeline."""
    state: dict[str, dict[tuple[str, ...], tuple[str, ...]]] = {}
    for d in sorted(deliveries, key=lambda d: d.folder):
        key_idx = [d.header.index(k) for k in INGEST_KEYS[d.table]]
        tab = state.setdefault(d.table, {})
        for r in dict.fromkeys(r for r in d.rows if None not in r):
            tab[tuple(r[i] for i in key_idx)] = r
    return {t: set(rows.values()) for t, rows in state.items()}


def write_delivery(root: str, d: Delivery) -> str:
    path = os.path.join(root, d.rel_path)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", newline="") as fh:
        w = csv.writer(fh, lineterminator="\n")
        w.writerow(d.header)
        w.writerows(d.rows)
    return path
