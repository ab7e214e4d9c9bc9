"""The generator is a pure function of the seed, and its expected state
follows the rules the pipeline must apply."""

from __future__ import annotations

import filecmp
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import datagen  # noqa: E402


def test_same_seed_same_bytes(tmp_path):
    for d in ("a", "b"):
        for dl in datagen.plan_ingest(5).deliveries:
            datagen.write_delivery(str(tmp_path / d), dl)
    cmp = filecmp.dircmp(tmp_path / "a", tmp_path / "b")
    assert not cmp.diff_files and not cmp.left_only and not cmp.right_only
    assert datagen.plan_ingest(6).deliveries[0].rows != datagen.plan_ingest(5).deliveries[0].rows


def test_deliveries_carry_every_case():
    plan = datagen.plan_ingest(3)
    for d in plan.deliveries:
        assert None not in d.rows[0]  # first-row schema inference sees no null
        keys = [tuple(r[d.header.index(k)] for k in datagen.INGEST_KEYS[d.table]) for r in set(d.rows)]
        assert len(keys) == len(set(keys))  # one version per key in a delivery
    later = [d for d in plan.deliveries if d.folder != plan.deliveries[0].folder]
    assert all(d.has_nulls and len(set(d.rows)) < len(d.rows) for d in later)
    newest = max(d.folder for d in plan.deliveries)
    assert all(plan.deliveries[0].folder < d.folder < newest for d in plan.late)
    assert plan.rows_delivered == sum(len(d.rows) for d in plan.deliveries)


def test_expected_state_is_newest_clean_version():
    header = ["l_orderkey", "l_linenumber", "v"]
    first = datagen.Delivery("20240101_000000", "lineitem", header, [("1", "1", "a"), ("1", "2", "b")], False)
    second = datagen.Delivery(
        "20240102_000000",
        "lineitem",
        header,
        [("1", "1", "c"), ("1", "1", "c"), ("1", "2", None), ("2", "1", "d")],
        True,
    )
    want = {("1", "1", "c"), ("1", "2", "b"), ("2", "1", "d")}
    assert datagen.expected_state([second, first]) == {"lineitem": want}
