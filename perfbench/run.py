"""Layered benchmark of the engine's build-heavy query path and its
survey pipeline.

    python3 perfbench/run.py --workload build_heavy --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke

Run it from the root of a checkout.  One process runs one workload at
``local[<cores>]`` with as many shuffle partitions as cores:

* ``build_heavy``: registry rows whose time goes to driver-side builds
  and the eager jobs they launch (checkpoint chains, thread-pool leg
  builds);
* ``survey_pipeline``: preprocess, validate and export into versioned
  zones, then the release and data-quality ledgers streamed over the
  same landing.

The process lands the inputs (the seed drives them), starts Spark and
reads the input footers (set-up), then runs passes for ``--seconds``
and checks every op's output, untimed.  The first pass is the one a
fresh batch run of the workload pays for, cold JVM included; it is the
headline.  Both end-to-end metrics count CPU seconds of the process
tree (this Python process, the driver JVM and anything they start),
less the share the hypervisor stole; on a shared host that steal
swings elapsed time by up to 2x between runs, so elapsed times are
per-layer metrics.  With ``--trace 0`` the last stdout line carries
the end-to-end metrics; with ``--trace 1`` it carries the per-layer
metrics, taken from traced passes that alternate with untraced ones.  Every span goes to
``perfbench/_runs/<workload>-seed<seed>-trace<t>.json``.  README.md
beside this file says what each metric measures.

``--smoke`` runs every workload once at a tiny scale and exits non-zero
if any output check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "peskas_mozambique_data_pipeline_spark"

END_TO_END = {"setup_s": "s", "cpu_s": "s"}
PER_LAYER = {
    "wall_s": "s",
    "cold_wall_s": "s",
    "setup_wall_s": "s",
    "registry.build_s": "s",
    "registry.build_jobs": "count",
    "registry.build_job_s": "s",
    "registry.plan_s": "s",
    "registry.unattributed_jobs": "count",
    "session.checkpoint_jobs": "count",
    "operators.exec_s": "s",
    "operators.exec_jobs": "count",
    "operators.stages": "count",
    "operators.tasks": "count",
    "operators.shuffle_write_mb": "MB",
    "operators.shuffle_read_mb": "MB",
    "operators.spill_mb": "MB",
    "operators.gc_s": "s",
    "operators.core_busy_frac": "frac",
    "io.scan_mb": "MB",
    "io.write_mb": "MB",
    "io.files_written": "count",
    "io.write_amp": "ratio",
    "plans.preprocess_s": "s",
    "plans.validate_s": "s",
    "plans.export_s": "s",
    "streaming.batches": "count",
    "streaming.batch_p50_s": "s",
    "streaming.compact_batch_p50_s": "s",
    "streaming.ledger_read_s": "s",
    "streaming.state_mb": "MB",
    "ops_failed_frac": "frac",
    "peak_rss_mb": "MB",
    "host.steal_frac": "frac",
    "host.cores": "count",
    "trace.overhead_frac": "frac",
}

# inputs: harness scale factor of the query tables, and survey landing
# (submissions, files)
SCALE = {"sf": 0.001, "survey": (2_000, 2)}
SMOKE_SCALE = {"sf": 0.001, "survey": (500, 2)}
LAND_REPEATS = 3
# C1 only: with C2's background compiles, how long compiler threads
# waited for a core changed how much of the cold pass ran interpreted,
# and so its CPU seconds (+12% with three busy processes beside it)
JIT_OPTIONS = "-XX:TieredStopAtLevel=1"


def process_age_s() -> float:
    """Seconds since this process was started."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def executed_cpu_s(cpu_s: float, steal_frac: float) -> float:
    """CPU seconds a process tree executed, from what the kernel charged
    it.  On a guest whose scheduler clock runs on while the hypervisor
    has taken the vCPU away, a thread is charged for the stolen time
    too: with a share ``steal_frac`` of the host's CPU time stolen, the
    charge is ``1 / (1 - steal_frac)`` times the work executed."""
    return cpu_s * (1.0 - steal_frac)


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def make_workload(name: str, scale: dict):
    import workloads as w

    if name == "build_heavy":
        return w.QueryWorkload(name, w.BUILD_HEAVY, scale["sf"])
    if name == "survey_pipeline":
        return w.SurveyWorkload(*scale["survey"])
    raise SystemExit(f"unknown workload {name!r}")


WORKLOADS = ("build_heavy", "survey_pipeline")


class Session:
    """The Spark driver of one benchmark process, with every scratch
    directory it writes inside ``work``."""

    def __init__(self, work: str, cores: int):
        from peskas_mozambique_data_pipeline_spark.session import get_spark

        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{cores}]",
            shuffle_partitions=cores,
            extra_conf={
                "spark.driver.memory": "2g",
                "spark.local.dir": os.path.join(work, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} {JIT_OPTIONS}",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())

    def stop(self) -> None:
        """Stop Spark and wait for the driver JVM to exit."""
        from pyspark import SparkContext

        self.spark.stop()
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 — make sure the JVM is gone
                proc.kill()
                proc.wait(timeout=30)


def run_passes(wl, spark, store, seconds, trace):
    """Timed passes for ``seconds``, at least one.  When tracing, odd
    passes are traced and there are at least two, so that one traced
    pass runs after the cold first pass.  Returns the passes and the
    trace error that ended them early, if any."""
    import tracing
    import workloads as w

    min_passes = 2 if trace else 1
    passes = []
    t0 = time.perf_counter()
    while True:
        traced = trace and len(passes) % 2 == 1
        rec = w.Recorder(spark, store if traced else None)
        steal0, start = tracing.read_steal_ticks(), time.perf_counter()
        cpu0 = tracing.tree_cpu_s(os.getpid())
        try:
            failed = wl.run_pass(rec, len(passes))
        except tracing.TraceGap as e:
            return passes, str(e)
        steal1, elapsed = tracing.read_steal_ticks(), time.perf_counter() - start
        cpu_s = tracing.tree_cpu_s(os.getpid()) - cpu0
        p = w.PassResult(
            index=len(passes), traced=traced, spans=rec.spans,
            failed_ops=failed, attempted=len(wl.ops),
        )
        # /proc/stat counts every CPU of the host, not only ours
        p.steal_frac = tracing.steal_frac(steal0, steal1, elapsed, os.cpu_count())
        p.cpu_s = cpu_s
        p.trace_s = rec.trace_s
        if traced:
            p.extra = wl.pass_extra()
        passes.append(p)
        if time.perf_counter() - t0 >= seconds and len(passes) >= min_passes:
            return passes, None


def layer_metrics(wl, passes, cores, failed, attempted) -> dict:
    """Per-layer metrics: the median over traced passes of each number."""
    from tracing import span_counts

    per_pass = []
    for p in (p for p in passes if p.traced):
        m = wl.layer_metrics(p, cores)
        m["wall_s"] = p.wall_s
        m["io.scan_mb"] = sum(span_counts(s)["inputBytes"] for s in p.spans) / 1e6
        m["session.checkpoint_jobs"] = sum(
            span_counts(s)["checkpoint_jobs"] for s in p.spans
        )
        per_pass.append(m)
    out = {name: 0.0 for name in PER_LAYER}
    for name in per_pass[0] if per_pass else ():
        out[name] = statistics.median(m[name] for m in per_pass)
    all_wall = sum(p.wall_s for p in passes)
    out["host.steal_frac"] = (
        sum(p.steal_frac * p.wall_s for p in passes) / all_wall if all_wall else 0.0
    )
    out["host.cores"] = cores
    out["ops_failed_frac"] = failed / attempted
    # the status-store reads happen between spans, so they lengthen the
    # pass without entering any span's time
    ratios = [p.trace_s / p.wall_s for p in passes if p.traced and p.wall_s]
    if ratios:
        out["trace.overhead_frac"] = statistics.median(ratios)
    return out


def run_workload(name: str, seed: int, seconds: float, trace: bool,
                 scale: dict, work: str, session: Session | None = None) -> dict:
    """One workload end to end; returns the result record."""
    import checks
    import tracing

    cores = host_cores()
    start_age, start_steal = process_age_s(), tracing.read_steal_ticks()
    wl = make_workload(name, scale)
    land_s, land_cpu = [], []
    for _ in range(LAND_REPEATS):
        t, c = time.perf_counter(), time.process_time()
        wl.land(work, seed)
        land_s.append(time.perf_counter() - t)
        land_cpu.append(time.process_time() - c)
    own_session = session is None
    clock = {"landed": process_age_s()}
    session = session or Session(work, cores)
    clock["session"] = process_age_s()
    spark = session.spark
    try:
        wl.open_inputs(spark)
        clock["inputs"] = process_age_s()
        # the landing is repeated only to take its median
        setup_wall_s = process_age_s() - sum(land_s) + statistics.median(land_s)
        setup_cpu_s = (tracing.tree_cpu_s(os.getpid()) - sum(land_cpu)
                       + statistics.median(land_cpu))
        # the steal since this function began stands for set-up's
        setup_steal = tracing.steal_frac(
            start_steal, tracing.read_steal_ticks(),
            process_age_s() - start_age, os.cpu_count(),
        )
        store = tracing.StatusStore(spark) if trace else None
        passes, trace_error = run_passes(wl, spark, store, seconds, trace)
        clock["passes"] = process_age_s()
        failures = [f for p in passes for f in p.failed_ops]
        attempted = sum(p.attempted for p in passes) or 1
        cc = checks.load_check_correctness(ROOT)
        try:
            failures += wl.check(spark, cc)
        except Exception:  # noqa: BLE001 — a check that cannot run fails
            failures.append("check: " + traceback.format_exc(limit=3))
        rss = tracing.peak_rss_mb(session.jvm_pid)
        clock["checks"] = process_age_s()
    finally:
        wl.close()
        if own_session:
            session.stop()
    clock["stopped"] = process_age_s()

    record = {
        "workload": name,
        "seed": seed,
        "cores": cores,
        "trace": trace,
        "clock_s": clock,
        "setup_wall_s": setup_wall_s,
        "setup_cpu_s": setup_cpu_s,
        "setup_steal_frac": setup_steal,
        "pass_walls_s": [p.wall_s for p in passes],
        "failures": failures,
        "trace_error": trace_error,
        "attempted": attempted,
        "end_to_end": {
            "setup_s": executed_cpu_s(setup_cpu_s, setup_steal),
            "cpu_s": executed_cpu_s(passes[0].cpu_s, passes[0].steal_frac),
        },
        "peak_rss_mb": rss,
        "passes": [
            {"index": p.index, "traced": p.traced, "wall_s": p.wall_s,
             "steal_frac": p.steal_frac, "cpu_s": p.cpu_s, "trace_s": p.trace_s,
             "spans": [s.to_json() for s in p.spans]}
            for p in passes
        ],
    }
    if trace:
        record["per_layer"] = layer_metrics(wl, passes, cores, len(failures), attempted)
        record["per_layer"].update({
            "peak_rss_mb": rss,
            "cold_wall_s": passes[0].wall_s,
            "setup_wall_s": setup_wall_s,
        })
    return record


def result_line(record: dict, trace: bool) -> dict:
    names, values = (
        (PER_LAYER, record.get("per_layer", {})) if trace
        else (END_TO_END, record["end_to_end"])
    )
    failed = len(record["failures"])
    return {
        "correct": failed == 0 and record["trace_error"] is None,
        "attempted": record["attempted"],
        "failed": failed,
        "metrics": {
            n: {"value": values.get(n, 0.0), "unit": unit} for n, unit in names.items()
        },
    }


def summary(record: dict) -> str:
    e = record["end_to_end"]
    failed = len(record["failures"])
    return (
        f"{record['workload']}: setup_s={e['setup_s']:.2f} s "
        f"cpu_s={e['cpu_s']:.2f} s (CPU) setup_wall_s={record['setup_wall_s']:.2f} s "
        f"cold_wall_s={record['pass_walls_s'][0]:.2f} s "
        f"peak_rss_mb={record['peak_rss_mb']:.1f} MB "
        f"ops_failed_frac={failed / record['attempted']:.4f} "
        f"({failed}/{record['attempted']} ops) cores={record['cores']}"
    )


def prepare_imports(work: str) -> None:
    """Import the program from this checkout only, and keep every
    temporary file inside ``work``."""
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        raise FileNotFoundError(f"{PACKAGE}/ not found next to perfbench/ in {ROOT}")
    sys.path[:0] = [ROOT, HERE]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    import peskas_mozambique_data_pipeline_spark as pkg

    if not os.path.abspath(pkg.__file__).startswith(os.path.join(ROOT, PACKAGE)):
        raise ImportError(f"{PACKAGE} resolved outside {ROOT}: {pkg.__file__}")


def smoke(work: str) -> int:
    session = Session(work, host_cores())
    bad = 0
    try:
        for name in WORKLOADS:
            rec = run_workload(name, 0, 0.0, True, SMOKE_SCALE, work,
                               session=session)
            print(summary(rec))
            fails = rec["failures"] + ([rec["trace_error"]] if rec["trace_error"] else [])
            for f in fails:
                print(f"  FAIL {f}")
            bad += bool(fails)
    finally:
        session.stop()
    return 1 if bad else 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="run every workload once at a tiny scale and check it")
    args = ap.parse_args(argv)
    if not args.smoke and not args.workload:
        ap.error("--workload is required unless --smoke is given")

    label = "smoke" if args.smoke else args.workload
    work = os.path.join(HERE, "_work", f"{label}-{os.getpid()}")
    try:
        prepare_imports(work)
        if args.smoke:
            return smoke(work)
        record = run_workload(args.workload, args.seed, args.seconds,
                              bool(args.trace), SCALE, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    runs = os.path.join(HERE, "_runs")
    os.makedirs(runs, exist_ok=True)
    out = os.path.join(runs, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(out, "w") as f:
        json.dump(record, f, indent=1)
    for failure in record["failures"]:
        print(f"FAIL {failure}", file=sys.stderr)
    if record["trace_error"]:
        print(f"TRACE FAILED {record['trace_error']}", file=sys.stderr)
    print(summary(record))
    print(json.dumps(result_line(record, bool(args.trace))))
    return 0


if __name__ == "__main__":
    sys.exit(main())
