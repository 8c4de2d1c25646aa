"""Regenerate ``oracle_digests.json``.

    python3 perfbench/regen_digests.py

For every query row the benchmark runs, at the benchmark's scale and at
the smoke scale, this lands the generated tables, runs the row's DuckDB
``oracle_sql()`` and its Spark query, compares the two results as
``tools/check_correctness.py`` does, and records the oracle's digest.
It writes nothing if any row disagrees with its oracle.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

import run


def main() -> int:
    work = os.path.join(run.HERE, "_work", f"regen-{os.getpid()}")
    try:
        run.prepare_imports(work)
        import duckdb

        import checks
        import datagen
        import workloads
        from peskas_mozambique_data_pipeline_spark import registry

        cc = checks.load_check_correctness(run.ROOT)
        rows = workloads.BUILD_HEAVY
        session = run.Session(work, run.host_cores())
        out, bad = {}, 0
        try:
            for sf in sorted({run.SCALE["sf"], run.SMOKE_SCALE["sf"]}):
                sf_dir = os.path.join(work, f"sf{sf}")
                datagen.write_tables(sf_dir, sf, seed=0)
                con = duckdb.connect()
                for t in datagen.TABLES:
                    con.execute(
                        f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{sf_dir}/{t}.parquet')"
                    )
                digests = {}
                for row in rows:
                    t0 = time.perf_counter()
                    rel = con.sql(registry.ORACLE_SQL[row])
                    want = checks.rows_digest(cc, rel.fetchall(), rel.columns)
                    got = checks.spark_digest(cc, registry.SPARK_QUERIES[row](session.spark, sf_dir))
                    status = "OK  " if got == want else "FAIL"
                    bad += got != want
                    print(f"{status} sf{sf} {row}: {want['rows']} rows "
                          f"[{time.perf_counter() - t0:.1f}s]", flush=True)
                    digests[row] = want
                out[f"sf{sf}"] = digests
                con.close()
        finally:
            session.stop()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if bad:
        print(f"{bad} rows disagree with their oracle; digests not written")
        return 1
    with open(checks.DIGESTS_PATH, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {checks.DIGESTS_PATH}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
