"""Smoke test of the benchmark itself, at tiny scale.

    python3 perfbench/selftest.py

For every workload it runs the timed operation once on tiny seeded inputs
and checks that the output passes the checker, then alters that output in
three ways (one row dropped, one row duplicated, one value nudged by one
unit in the last place) and checks that each altered output fails. Exits
0 when every expectation holds.
"""

from __future__ import annotations

import math
import os
import shutil
import sys

import run

SCALE = {"pip_broadcast": 0.01, "paths_shuffle": 0.05, "prox_geos_write": 0.1,
         "knn_skewed": 0.05}
SEED = 5


def alterations(wl, rows):
    """(label, altered rows) triples; each must fail the check."""
    yield "dropped row", rows[1:]
    yield "duplicated row", rows + rows[:1]
    r = rows[0].asDict()
    if "distance" in r:
        r["distance"] = math.nextafter(r["distance"], math.inf)
        yield "distance + 1 ulp", [type(rows[0])(**r)] + rows[1:]
    else:
        r["small_id"] += 1
        yield "small_id + 1", [type(rows[0])(**r)] + rows[1:]


def main() -> int:
    run_dir = os.path.join(run.WORK, f"selftest-p{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    os.environ.update(run.deployment(run_dir, trace=False))
    sys.path.insert(0, run.ROOT)
    import check
    import workloads
    from spatialjoin.sparkutil import get_spark

    from spans import NullTracer

    # every probe is in the sample, so any altered row is seen
    check.SAMPLE_PROBES = 1 << 30
    problems = []
    spark = None
    try:
        spark = get_spark(app="perfbench-selftest")
        spark.sparkContext.setLogLevel("ERROR")
        for name, wl in workloads.WORKLOADS.items():
            root = os.path.join(run_dir, name)
            inp = wl.inputs(spark, SEED, SCALE[name], root)
            out = wl.run(spark, inp, os.path.join(root, "out"), NullTracer())
            frame = spark.read.parquet(os.path.join(root, "out")) if wl.sink == "parquet" \
                else out.frame
            big = check.Table.read(os.path.join(root, "big"))
            small = check.Table.read(os.path.join(root, "small"))
            v = check.verify(wl, frame, big, small, SEED)
            rows = frame.collect()
            print(f"{name}: {len(rows)} rows, check {'ok' if v.ok else v.failures}")
            if not v.ok or (v.rows, v.digest) != (out.rows, out.digest) or not rows:
                problems.append(f"{name}: unaltered output rejected or empty")
                continue
            for label, altered in alterations(wl, rows):
                bad = check.verify(wl, spark.createDataFrame(altered, frame.schema),
                                   big, small, SEED)
                print(f"  {label}: {'rejected' if not bad.ok else 'ACCEPTED'}")
                if bad.ok:
                    problems.append(f"{name}: {label} passed the check")
            out.release()
    finally:
        run.stop_jvm(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    for p in problems:
        print("FAIL", p)
    print("selftest", "failed" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
