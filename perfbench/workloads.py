"""The benchmark's workloads and the spans it records around each call
into the program.

A pass runs every op of a workload once.  An op is one registry query
(build span in the ``registry`` layer, noop-sink execution span in the
``operators`` layer), one pipeline stage (``plans`` layer) or one
ledger run (``streaming`` layer: the stream to completion, then the
read of its fold).  A pass's wall time is the sum of its op spans, so
the harness's own work between calls (garbage collection, status-store
reads, disk accounting) never counts.
"""

from __future__ import annotations

import gc
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

from tracing import MB, Span, StatusStore, TraceGap, span_counts

import datagen

BUILD_HEAVY = ("semantic_dedup", "neardup_audit")
STAGES = ("preprocess", "validate", "export")
LEDGERS = ("release", "dq")
EXPORTS = ("monthly_metrics", "sites_stats", "habitat_gear_series")
LEDGER_GROUP = ["group_trip/gear_type"]
COMPACT_EVERY = 2


class Recorder:
    """Times calls into the program.  When tracing, it also tags each op
    with a job group and reads the status store for every span's jobs
    right after the span ends; ``trace_s`` is the time that took, all
    of it outside the spans."""

    def __init__(self, spark, store: StatusStore | None):
        self.spark = spark
        self.store = store
        self.spans: list[Span] = []
        self.trace_s = 0.0

    @property
    def traced(self) -> bool:
        return self.store is not None

    def begin_op(self, name: str) -> None:
        if self.traced:
            t = time.perf_counter()
            self.spark.sparkContext.setJobGroup(name, name)
            self.trace_s += time.perf_counter() - t

    def call(self, name: str, layer: str, parent: str, fn):
        t = time.perf_counter()
        first = self.store.next_job_id() if self.traced else 0
        t0 = time.perf_counter()
        try:
            return fn()
        finally:
            t1 = time.perf_counter()
            end = self.store.next_job_id() if self.traced else 0
            span = Span(name, layer, parent, t0, t1, first, end)
            self.spans.append(span)
            if self.traced:
                self.store.harvest(span)
                self.trace_s += (t0 - t) + (time.perf_counter() - t1)


@dataclass
class PassResult:
    index: int
    traced: bool
    spans: list[Span]
    failed_ops: list[str]
    attempted: int
    steal_frac: float = 0.0
    cpu_s: float = 0.0
    trace_s: float = 0.0
    extra: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return sum(s.seconds for s in self.spans)


def _dir_stats(*roots: str) -> tuple[int, int]:
    """(bytes, parquet files) on disk under ``roots``."""
    size = files = 0
    for root in roots:
        for d, _, names in os.walk(root):
            for n in names:
                size += os.path.getsize(os.path.join(d, n))
                files += n.endswith(".parquet")
    return size, files


def _median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def _sum(spans, key) -> float:
    return sum(span_counts(s)[key] for s in spans)


class QueryWorkload:
    """Registry rows over the harness tables."""

    def __init__(self, name: str, rows: tuple[str, ...], sf: float):
        self.name = name
        self.rows = self.ops = rows
        self.sf = sf
        self.last_frames: dict = {}

    def land(self, work: str, seed: int) -> int:
        self.sf_dir = os.path.join(work, "tables")
        shutil.rmtree(self.sf_dir, ignore_errors=True)
        return datagen.write_tables(self.sf_dir, self.sf, seed)

    def open_inputs(self, spark) -> None:
        """Resolve the rows and read every table's footer once."""
        from peskas_mozambique_data_pipeline_spark import registry
        from peskas_mozambique_data_pipeline_spark.session import read_table

        self.queries = {r: registry.SPARK_QUERIES[r] for r in self.rows}
        for t in datagen.TABLES:
            read_table(spark, self.sf_dir, t)

    def run_pass(self, rec: Recorder, index: int) -> list[str]:
        spark = rec.spark
        failed = []
        for row in self.rows:
            rec.begin_op(row)
            try:
                df = rec.call(
                    f"{row}.build", "registry", row,
                    lambda: self.queries[row](spark, self.sf_dir),
                )
                rec.call(
                    f"{row}.exec", "operators", row,
                    lambda: df.write.format("noop").mode("overwrite").save(),
                )
                self.last_frames[row] = df
            except TraceGap:
                raise
            except Exception as e:  # noqa: BLE001 — an op failure is a result
                failed.append(f"{row}: {type(e).__name__}: {e}")
                self.last_frames.pop(row, None)
            # lets the ContextCleaner drop the previous query's
            # checkpoint blocks before the next one runs
            gc.collect()
        return failed

    def check(self, spark, cc) -> list[str]:
        from checks import load_digests, spark_digest

        want = load_digests()[f"sf{self.sf}"]
        failed = []
        for row in self.rows:
            df = self.last_frames.get(row)
            if df is None:
                continue  # already counted as a failed op
            got = spark_digest(cc, df)
            if got != want[row]:
                failed.append(f"{row}: digest {got} != oracle {want[row]}")
        self.last_frames.clear()
        return failed

    def pass_extra(self) -> dict:
        return {}

    def layer_metrics(self, p: PassResult, cores: int) -> dict:
        build = [s for s in p.spans if s.layer == "registry"]
        execs = [s for s in p.spans if s.layer == "operators"]
        build_s = sum(s.seconds for s in build)
        exec_s = sum(s.seconds for s in execs)
        build_job_s = _sum(build, "job_s")
        return {
            "registry.build_s": build_s,
            "registry.build_jobs": _sum(build, "n_jobs"),
            "registry.build_job_s": build_job_s,
            "registry.plan_s": build_s - build_job_s,
            "registry.unattributed_jobs": _sum(build + execs, "unattributed_jobs"),
            "operators.exec_s": exec_s,
            "operators.exec_jobs": _sum(execs, "n_jobs"),
            "operators.stages": _sum(execs, "n_stages"),
            "operators.tasks": _sum(execs, "numTasks"),
            "operators.shuffle_write_mb": _sum(execs, "shuffleWriteBytes") / MB,
            "operators.shuffle_read_mb": _sum(execs, "shuffleReadBytes") / MB,
            "operators.spill_mb": _sum(execs, "diskBytesSpilled") / MB,
            "operators.gc_s": _sum(execs, "jvmGcTime") / 1000.0,
            "operators.core_busy_frac": (
                _sum(execs, "executorRunTime") / 1000.0 / (exec_s * cores)
                if exec_s else 0.0
            ),
        }

    def close(self) -> None:
        self.last_frames.clear()


class SurveyWorkload:
    """The paper's DAG over a landing of raw submissions, plus the two
    streaming ledgers over the same landing."""

    name = "survey_pipeline"
    ops = STAGES + tuple(f"{k}_ledger" for k in LEDGERS)

    def __init__(self, n_submissions: int, n_files: int):
        self.n = n_submissions
        self.n_files = n_files

    def land(self, work: str, seed: int) -> int:
        self.work = work
        self.landing = os.path.join(work, "landing")
        shutil.rmtree(self.landing, ignore_errors=True)
        self.landing_bytes = datagen.write_landing(
            self.landing, self.n, self.n_files, seed
        )
        return self.landing_bytes

    def open_inputs(self, spark) -> None:
        from pyspark.sql import functions as F

        from peskas_mozambique_data_pipeline_spark.operators import expectations as dq

        self.raw = spark.read.parquet(self.landing)
        self.schema = self.raw.schema
        self.lw = spark.createDataFrame(
            list(datagen.LW_COEFFS), "catch_taxon string, a double, b double"
        )
        men = F.col("group_trip/no_men_fishers").cast("int")
        women = F.col("group_trip/no_women_fishers").cast("int")
        self.rules = [
            dq.expect("price_present", F.col("group_market/catch_price").isNotNull()),
            dq.expect("duration_sane", F.col("group_trip/trip_duration").cast("int") <= 12),
            dq.expect("crew_present", men + women > 0),
        ]
        self.pass_dir = None

    def _ledger(self, rec: Recorder, kind: str, pdir: str, progress: dict):
        from peskas_mozambique_data_pipeline_spark.streaming import dq_ledger as dl
        from peskas_mozambique_data_pipeline_spark.streaming import ingest as si
        from peskas_mozambique_data_pipeline_spark.streaming import release_ledger as rl

        spark = rec.spark
        zone = os.path.join(pdir, f"ledger_{kind}")
        ck = os.path.join(pdir, f"ck_{kind}")

        def stream():
            src = si.stream_landing_zone(
                spark, self.landing, self.schema, max_files_per_trigger=1
            )
            if kind == "release":
                q, _ = rl.stream_release_ledger(
                    src, zone, ck, LEDGER_GROUP, compact_every=COMPACT_EVERY
                )
            else:
                q, _ = dl.stream_dq_ledger(
                    src, zone, ck, self.rules, LEDGER_GROUP,
                    compact_every=COMPACT_EVERY,
                )
            q.awaitTermination()
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
            return q.recentProgress

        def read():
            if kind == "release":
                return rl.read_release_fold(spark, zone, LEDGER_GROUP).collect()
            return dl.read_dq_ledger(spark, zone, LEDGER_GROUP).collect()

        op = f"{kind}_ledger"
        progress[op] = rec.call(f"{op}.stream", "streaming", op, stream)
        return rec.call(f"{op}.read", "streaming", op, read)

    def run_pass(self, rec: Recorder, index: int) -> list[str]:
        from peskas_mozambique_data_pipeline_spark.plans import pipeline

        spark = rec.spark
        if self.pass_dir:
            shutil.rmtree(self.pass_dir, ignore_errors=True)
        self.pass_dir = os.path.join(self.work, f"pass{index}")
        zones = pipeline.PipelineZones(os.path.join(self.pass_dir, "zones"))
        stage_fns = {
            "preprocess": lambda: pipeline.stage_preprocess(spark, self.raw, self.lw, zones),
            "validate": lambda: pipeline.stage_validate(spark, zones),
            "export": lambda: pipeline.stage_export(spark, zones),
        }
        failed = []
        self.zones = zones
        self.progress: dict = {}
        self.ledger_rows: dict = {}
        for stage in STAGES:
            rec.begin_op(stage)
            try:
                rec.call(f"plans.{stage}", "plans", stage, stage_fns[stage])
            except TraceGap:
                raise
            except Exception as e:  # noqa: BLE001 — an op failure is a result
                failed.append(f"{stage}: {type(e).__name__}: {e}")
                # later stages read this stage's zone
                failed.extend(f"{s}: skipped" for s in STAGES[STAGES.index(stage) + 1:])
                break
            gc.collect()
        for kind in LEDGERS:
            rec.begin_op(f"{kind}_ledger")
            try:
                self.ledger_rows[kind] = self._ledger(rec, kind, self.pass_dir, self.progress)
            except TraceGap:
                raise
            except Exception as e:  # noqa: BLE001 — an op failure is a result
                failed.append(f"{kind}_ledger: {type(e).__name__}: {e}")
            gc.collect()
        return failed

    def check(self, spark, cc) -> list[str]:
        from peskas_mozambique_data_pipeline_spark.io import parquet_io
        from peskas_mozambique_data_pipeline_spark.operators import expectations as dq
        from peskas_mozambique_data_pipeline_spark.plans import export as export_plan
        from peskas_mozambique_data_pipeline_spark.plans.preprocess import preprocess_landings
        from peskas_mozambique_data_pipeline_spark.plans.validate import validate_surveys

        from checks import same_rows

        failed = []
        landing = spark.read.parquet(self.landing)
        validated, _ = validate_surveys(preprocess_landings(landing, self.lw))
        validated = validated.cache()
        for product in EXPORTS:
            try:
                got = self.zones.read(spark, product)
            except FileNotFoundError:
                continue  # the export op already failed
            want = getattr(export_plan, product)(validated)
            # aggregates summed in another partition order may differ
            # in the last bits of a double
            if not same_rows(cc, got.collect(), want.collect(), want.columns, digits=9):
                failed.append(f"export: zone {product} differs from a batch recompute")
        validated.unpersist()
        if "release" in self.ledger_rows:
            want = parquet_io.release_fold(landing, LEDGER_GROUP)
            if not same_rows(cc, self.ledger_rows["release"], want.collect(), want.columns):
                failed.append("release_ledger: fold differs from batch release_fold")
        if "dq" in self.ledger_rows:
            cols = [*LEDGER_GROUP, "rule", "n_violations", "n_rows", "frac"]
            want = dq.check(landing, self.rules, LEDGER_GROUP).select(*cols).collect()
            got = [tuple(r[c] for c in cols) for r in self.ledger_rows["dq"]]
            if not same_rows(cc, got, want, cols):
                failed.append("dq_ledger: report differs from batch expectations.check")
        return failed

    def pass_extra(self) -> dict:
        """Disk accounting of the pass just run (outside its spans)."""
        zone_root = os.path.join(self.pass_dir, "zones")
        ledgers = [os.path.join(self.pass_dir, f"ledger_{k}") for k in LEDGERS]
        zone_bytes, zone_files = _dir_stats(zone_root)
        ledger_bytes, ledger_files = _dir_stats(*ledgers)
        batch_s, compact_s = [], []
        for progress in self.progress.values():
            for p in progress:
                secs = p.durationMs.get("triggerExecution", 0) / 1000.0
                b = p.batchId
                compacting = b > 0 and (b + 1) % COMPACT_EVERY == 0
                (compact_s if compacting else batch_s).append(secs)
        return {
            "files": zone_files + ledger_files,
            "disk_bytes": zone_bytes + ledger_bytes,
            "state_bytes": ledger_bytes,
            "batch_s": batch_s,
            "compact_s": compact_s,
        }

    def layer_metrics(self, p: PassResult, cores: int) -> dict:
        ex = p.extra
        by_name = {s.name: s for s in p.spans}
        out = {
            f"plans.{st}_s": by_name[f"plans.{st}"].seconds
            for st in STAGES if f"plans.{st}" in by_name
        }
        out.update({
            "io.write_mb": _sum(p.spans, "outputBytes") / MB,
            "io.files_written": ex["files"],
            "io.write_amp": ex["disk_bytes"] / self.landing_bytes,
            "streaming.batches": len(ex["batch_s"]) + len(ex["compact_s"]),
            "streaming.batch_p50_s": _median(ex["batch_s"]),
            "streaming.compact_batch_p50_s": _median(ex["compact_s"]),
            "streaming.ledger_read_s": sum(
                s.seconds for s in p.spans if s.name.endswith(".read")
            ),
            "streaming.state_mb": ex["state_bytes"] / MB,
        })
        return out

    def close(self) -> None:
        pass
