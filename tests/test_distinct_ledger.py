"""Streaming HLL distinct ledger: bit-exact stream ≡ batch register
parity (MAX semilattice), compaction equivalence, restart idempotency."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from peskas_mozambique_data_pipeline_spark.operators import sketches as sk
from peskas_mozambique_data_pipeline_spark.streaming import distinct_ledger as dl
from peskas_mozambique_data_pipeline_spark.streaming import ingest as si
from peskas_mozambique_data_pipeline_spark.streaming import ledger
import pytest


def _write(spark, landing, rows):
    df = spark.createDataFrame(rows, "doc_id long, user string, source string")
    df.coalesce(1).write.mode("append").parquet(landing)
    return df.schema


def _rows(lo, hi, source):
    return [(i, f"user{i % 97}", source) for i in range(lo, hi)]


def test_stream_registers_equal_batch_bit_for_bit(spark, tmp_path):
    landing = str(tmp_path / "landing")
    zone = str(tmp_path / "zone")
    ck = str(tmp_path / "ck")
    schema = _write(spark, landing, _rows(0, 300, "s1"))
    _write(spark, landing, _rows(200, 500, "s2"))  # overlapping users
    _write(spark, landing, _rows(400, 800, "s1"))

    stream = si.stream_landing_zone(
        spark, landing, schema, max_files_per_trigger=1
    )
    q, _ = dl.stream_distinct_ledger(
        stream, zone, ck, value_col="user", group_cols=["source"]
    )
    q.awaitTermination(120)

    got = {
        (r.source, r.j): r.r
        for r in dl.read_registers(spark, zone, ["source"]).collect()
    }
    whole = spark.read.parquet(landing)
    want = {
        (r.source, r.j): r.r
        for r in sk.hll_registers(whole, "user", ["source"]).collect()
    }
    assert got == want  # MAX-semilattice: stream ≡ batch, bit for bit

    est = {
        r.source: r.hll_distinct
        for r in dl.ledger_estimate(spark, zone, ["source"]).collect()
    }
    batch_est = {
        r.source: r.hll_distinct
        for r in sk.hll_estimate(
            sk.hll_registers(whole, "user", ["source"]), ["source"]
        ).collect()
    }
    assert est == batch_est


@pytest.mark.slow
def test_compaction_preserves_registers_and_bounds_dirs(spark, tmp_path):
    landing = str(tmp_path / "landing")
    zone = str(tmp_path / "zone")
    ck = str(tmp_path / "ck")
    schema = _write(spark, landing, _rows(0, 100, "s1"))
    for i in range(1, 6):
        _write(spark, landing, _rows(i * 100, i * 100 + 100, "s1"))

    stream = si.stream_landing_zone(
        spark, landing, schema, max_files_per_trigger=1
    )
    q, reg_dir = dl.stream_distinct_ledger(
        stream, zone, ck, value_col="user", group_cols=["source"],
        compact_every=3,
    )
    q.awaitTermination(120)

    compact_dir = os.path.join(zone, dl.REG_COMPACT_SUBDIR)
    assert ledger.dir_ids(compact_dir, "upto")  # a snapshot landed
    # folded deltas are gone; the live view still equals batch
    live_deltas = ledger.dir_ids(reg_dir, "batch")
    assert all(b > max(ledger.dir_ids(compact_dir, "upto")) for b in live_deltas)
    got = {
        (r.source, r.j): r.r
        for r in dl.read_registers(spark, zone, ["source"]).collect()
    }
    want = {
        (r.source, r.j): r.r
        for r in sk.hll_registers(
            spark.read.parquet(landing), "user", ["source"]
        ).collect()
    }
    assert got == want


def test_restart_with_no_new_data_is_idempotent(spark, tmp_path):
    landing = str(tmp_path / "landing")
    zone = str(tmp_path / "zone")
    ck = str(tmp_path / "ck")
    schema = _write(spark, landing, _rows(0, 250, "s1"))

    for _ in range(2):  # second run replays nothing, changes nothing
        stream = si.stream_landing_zone(
            spark, landing, schema, max_files_per_trigger=1
        )
        q, _ = dl.stream_distinct_ledger(
            stream, zone, ck, value_col="user", group_cols=["source"]
        )
        q.awaitTermination(120)

    regs = dl.read_registers(spark, zone, ["source"])
    assert regs.groupBy("source", "j").count().filter("count > 1").count() == 0
    est = dl.ledger_estimate(spark, zone, ["source"]).first()
    # 97 distinct users; HLL at m=256 lands within its error bound
    assert abs(est.hll_distinct - 97) / 97 < 0.2
