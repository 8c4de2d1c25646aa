"""Incrementally-maintained grouped rollup (streaming/rollup_zone.py):
stream ≡ batch groupBy over the final CDC state, group-move
retractions, restart idempotency, compaction, and the integral-measure
contract."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from peskas_mozambique_data_pipeline_spark.streaming import (
    cdc_zone as cz,
    ingest as si,
    rollup_zone as rz,
)

SCHEMA = "k long, seq long, op string, grp string, cents long"


def _write(spark, landing, rows):
    df = spark.createDataFrame(rows, SCHEMA)
    df.coalesce(1).write.mode("append").parquet(landing)
    return df.schema


def _run(spark, landing, zone, ck, schema, **kw):
    stream = si.stream_landing_zone(
        spark, landing, schema, max_files_per_trigger=1
    )
    q, d = rz.stream_rollup_zone(
        stream, zone, ck, ["k"], ["grp"], ["cents"], **kw
    )
    q.awaitTermination(120)
    return d


def _rollup(spark, zone):
    df = rz.read_rollup(spark, zone, ["grp"], ["cents"])
    return sorted((r.grp, r.n_rows, r.sum_cents) for r in df.collect())


def _from_state(spark, zone):
    """The non-incremental answer: groupBy over the resolved state."""
    state = cz.read_cdc_state(spark, zone, ["k"], strict=False)
    rows = state.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("cents").alias("sum_cents"),
    ).collect()
    return sorted((r.grp, r.n_rows, r.sum_cents) for r in rows)


def test_rollup_matches_batch_groupby_over_state(spark, tmp_path):
    landing = str(tmp_path / "landing")
    zone = str(tmp_path / "zone")
    schema = _write(spark, landing, [
        (1, 1, "upsert", "a", 10), (2, 2, "upsert", "b", 20),
    ])
    # key 1 moves group a -> b (retract from a, apply to b); key 2
    # replaced in place; key 3 inserted then deleted same batch
    _write(spark, landing, [
        (1, 3, "upsert", "b", 11), (2, 4, "upsert", "b", 25),
        (3, 5, "upsert", "a", 30), (3, 6, "delete", None, None),
    ])
    _write(spark, landing, [(4, 7, "upsert", "c", 40)])
    _run(spark, landing, zone, str(tmp_path / "ck"), schema)
    got = _rollup(spark, zone)
    assert got == _from_state(spark, zone)
    assert got == [("b", 2, 36), ("c", 1, 40)]


def test_fully_retracted_group_disappears(spark, tmp_path):
    landing = str(tmp_path / "landing")
    zone = str(tmp_path / "zone")
    schema = _write(spark, landing, [(1, 1, "upsert", "a", 5)])
    _write(spark, landing, [(1, 2, "delete", None, None)])
    _run(spark, landing, zone, str(tmp_path / "ck"), schema)
    assert _rollup(spark, zone) == []
    # and re-insert after full retraction works
    _write(spark, landing, [(1, 3, "upsert", "a", 7)])
    _run(spark, landing, zone, str(tmp_path / "ck"), schema)
    assert _rollup(spark, zone) == [("a", 1, 7)]


def test_restart_is_idempotent(spark, tmp_path):
    landing = str(tmp_path / "landing")
    zone = str(tmp_path / "zone")
    ck = str(tmp_path / "ck")
    schema = _write(spark, landing, [
        (1, 1, "upsert", "a", 10), (2, 2, "upsert", "a", 20),
    ])
    _run(spark, landing, zone, ck, schema)
    first = _rollup(spark, zone)
    _run(spark, landing, zone, ck, schema)  # no new data
    assert _rollup(spark, zone) == first == [("a", 2, 30)]


@pytest.mark.slow
def test_compaction_preserves_rollup_and_bounds_dirs(spark, tmp_path):
    landing = str(tmp_path / "landing")
    zone = str(tmp_path / "zone")
    schema = _write(spark, landing, [(1, 1, "upsert", "a", 10)])
    seq = 2
    for i in range(6):
        rows = [(10 + i, seq, "upsert", "g", 1),
                (10 + i, seq + 1, "delete", None, None)]
        seq += 2
        _write(spark, landing, rows)
    _run(spark, landing, zone, str(tmp_path / "ck"), schema,
         compact_every=3)
    assert _rollup(spark, zone) == _from_state(spark, zone) == [
        ("a", 1, 10)
    ]
    # both delta families bounded by the compaction cadence; the
    # zeroed 'g' group is absent from the rollup snapshot
    n_roll = len([d for d in os.listdir(os.path.join(zone, rz.ROLLUP_SUBDIR))
                  if d.startswith("batch=")])
    assert n_roll < 7
    comp = os.path.join(zone, rz.ROLLUP_COMPACT_SUBDIR)
    snap = spark.read.parquet(
        os.path.join(comp, sorted(os.listdir(comp))[-1])
    )
    assert snap.filter("grp = 'g'").count() == 0


def test_float_measure_rejected(spark, tmp_path):
    df = spark.createDataFrame(
        [], "k long, seq long, op string, grp string, x double"
    )
    with pytest.raises(TypeError, match="integral/decimal"):
        rz.stream_rollup_zone(
            df, str(tmp_path / "z"), str(tmp_path / "ck"),
            ["k"], ["grp"], ["x"],
        )


@pytest.mark.slow
def test_random_interleavings_congruent_with_state(spark, tmp_path):
    """Seeded pseudo-random batches (upserts, in-place replaces, group
    moves, deletes incl. of absent keys, re-inserts) — the folded
    rollup must equal the groupBy over the resolved CDC state after
    every such history (the IVM congruence), with compaction in the
    middle of the run."""
    import random

    rng = random.Random(20260817)
    landing = str(tmp_path / "landing")
    zone = str(tmp_path / "zone")
    schema = None
    seq = 0
    for _batch in range(12):
        rows = []
        used = set()
        for _ in range(rng.randint(1, 5)):
            k = rng.randint(0, 7)
            if k in used:
                continue
            used.add(k)
            seq += 1
            if rng.random() < 0.3:
                rows.append((k, seq, "delete", None, None))
            else:
                rows.append(
                    (k, seq, "upsert", rng.choice("abc"), rng.randint(1, 99))
                )
        if rows:
            schema = _write(spark, landing, rows)
    _run(spark, landing, zone, str(tmp_path / "ck"), schema,
         compact_every=5)
    assert _rollup(spark, zone) == _from_state(spark, zone)
    assert _rollup(spark, zone)  # non-degenerate: groups survive


def test_contribution_delta_retracts_old_and_applies_new(spark):
    # the old payloads of touched keys retract (−1) and the winning
    # upserts apply (+1): groups only left net negative, groups only
    # entered net positive, and a same-group replace nets its change
    old = spark.createDataFrame(
        [("seg_a", 10), ("seg_a", 5), ("seg_b", 7)], "grp string, cents long"
    )
    new = spark.createDataFrame(
        [("prio_1", 4), ("prio_1", 6), ("seg_b", 9)], "grp string, cents long"
    )
    got = sorted(
        tuple(r)
        for r in rz._contribution_delta(old, new, ["grp"], ["cents"]).collect()
    )
    assert got == [("prio_1", 2, 10), ("seg_a", -2, -15), ("seg_b", 0, 2)]
    assert sum(n for _g, n, _s in got) == new.count() - old.count()
