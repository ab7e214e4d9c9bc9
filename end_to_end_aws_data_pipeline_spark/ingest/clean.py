"""Null audit + clean, parity with the reference's per-file hygiene.

Reference (delta_load.py:67-98): iterate rows in pandas, publish one SNS
message per row containing any null, then ``dropna().drop_duplicates()``.

Here the audit is a single vectorized aggregation pass — per-column null
counts plus a bounded sample of offending rows — with no per-row side
effects (a per-row RPC at 100 TB is ~10^11 network calls; a one-pass
aggregate + bounded sample carries the same information). Cleaning is
``na.drop("any")`` + ``dropDuplicates()``, both native distributed ops
(dedup = one hash shuffle on all columns, map-side pre-combined).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F


@dataclass
class NullAudit:
    n_rows: int
    n_bad_rows: int
    null_counts: dict[str, int]
    sample_bad_rows: list[Row] = field(default_factory=list)


def _any_null(df: DataFrame):
    cond = F.lit(False)
    for c in df.columns:
        cond = cond | F.col(c).isNull()
    return cond


def null_audit(df: DataFrame, sample_size: int = 20) -> NullAudit:
    """One aggregation pass: total rows, rows with any null, per-column
    null counts; plus a bounded driver-side sample of bad rows (the
    notification payload — replaces per-row SNS at ref delta_load.py:77-84),
    collected only when the aggregate found a bad row."""
    aggs = [
        F.count(F.lit(1)).alias("__n_rows"),
        F.sum(_any_null(df).cast("long")).alias("__n_bad"),
        *[F.sum(F.col(c).isNull().cast("long")).alias(c) for c in df.columns],
    ]
    row = df.agg(*aggs).first()
    n_bad = row["__n_bad"] or 0
    sample = df.filter(_any_null(df)).limit(sample_size).collect() if n_bad else []
    return NullAudit(
        n_rows=row["__n_rows"],
        n_bad_rows=n_bad,
        null_counts={c: row[c] or 0 for c in df.columns},
        sample_bad_rows=sample,
    )


def observed_clean(df: DataFrame, observation_name: str = "null_audit"):
    """clean() with a zero-extra-pass audit: an ``observe`` node counts
    rows/bad-rows *while* the cleaning query itself executes, so the
    notification payload costs nothing beyond the load (the
    `df.observe()` channel of SURVEY.md §4.3 — vs null_audit()'s
    separate aggregation pass when a bounded row sample is needed).

    Returns (cleaned_df, observation); read ``observation.get`` AFTER an
    action on cleaned_df.
    """
    from pyspark.sql import Observation

    obs = Observation(observation_name)
    observed = df.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(_any_null(df).cast("long")).alias("n_bad_rows"),
    )
    return clean(observed), obs


def clean(df: DataFrame, subset: list[str] | None = None) -> DataFrame:
    """dropna(any) + full-row dedup (ref delta_load.py:97-98).

    Keep-first vs keep-any is indistinguishable for *exact* duplicate
    rows, so distributed ``dropDuplicates`` preserves the reference
    semantics while staying shuffle-parallel.
    """
    return df.na.drop("any", subset=subset).dropDuplicates()
