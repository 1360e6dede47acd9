"""Host-local benchmark of the spatialjoin engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs from the root of a checkout. One client runs one operation at a time
on ``local[nproc]`` (a closed loop), for ``--seconds`` seconds and at least
``MIN_OPS`` operations, then checks every operation's output. The last line
of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics with ``--trace 0``, the
per-layer ledger with ``--trace 1``. The line before it records the
deployment settings, input sizes, every timing and every check failure.

Everything the run writes goes under ``.perfbench_work/`` in the checkout:
inputs, Spark scratch and output in the run's own directory, which is
deleted when the run ends, and a traced run's spans in
``spans-<workload>-s<seed>.json``, which is kept.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

SETUP_REPS = 3  # input writes per run; setup_s takes their median
WARM_EVERY = 20  # the first warm-up operation runs on every 20th input row
WARM_OPS = 2  # full-scale warm-up operations after it
MIN_OPS = 5
TRACED_OPS = 2
DRIVER_MEM = "3g"
UNSET_ENV = ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_ARROW_BATCH", "SPARK_GRAFT_COGROUP_SALT",
             "SPARK_GRAFT_KNN_DEBUG")


def deployment(run_dir: str, trace: bool) -> dict:
    """Environment every run pins before the Spark JVM starts."""
    cpus = len(os.sched_getaffinity(0))
    env = {
        # Python workers import the engine from the checkout
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options -Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} "
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"),
    }
    if trace:
        env["SPARK_GRAFT_UI"] = "1"
    # the engine's other environment switches stay at their defaults: an
    # inherited value must not change the plan, the master or the UI
    for name in UNSET_ENV + (() if trace else ("SPARK_GRAFT_UI",)):
        os.environ.pop(name, None)
    return env


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def jvm_peak_rss_mb() -> float:
    from pyspark import SparkContext

    with open(f"/proc/{SparkContext._gateway.proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def cpu_seconds() -> dict:
    """CPU time of the whole host (all cores) from /proc/stat, in seconds:
    busy, idle and steal (time the hypervisor gave the cores to others)."""
    with open("/proc/stat") as f:
        t = [int(x) / os.sysconf("SC_CLK_TCK") for x in f.readline().split()[1:9]]
    return {"busy": t[0] + t[1] + t[2] + t[5] + t[6], "idle": t[3] + t[4], "steal": t[7]}


def cpu_delta(before: dict) -> dict:
    after = cpu_seconds()
    return {k: round(after[k] - before[k], 2) for k in before}


def stop_jvm(spark):
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    gw.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


class Bench:
    def __init__(self, wl, args, run_dir: str):
        self.wl = wl
        self.args = args
        self.run_dir = run_dir
        self.spark = None
        self.info: dict = {"workload": wl.name, "seed": args.seed}
        self.na: dict = {}

    # -- set-up ---------------------------------------------------------------

    def setup(self):
        """Start the session (this launches the JVM), write the seeded
        inputs to parquet SETUP_REPS times, then run the operation once at
        reduced scale and WARM_OPS times at full scale.
        setup_s = session start + median write + warm-up."""
        from pyspark.sql import functions as F
        from spatialjoin.sparkutil import get_spark
        from workloads import Inputs

        from spans import NullTracer

        t0 = time.perf_counter()
        self.spark = get_spark(app=f"perfbench-{self.wl.name}")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.info["session_s"] = time.perf_counter() - t0
        writes = []
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            self.inp = self.wl.inputs(self.spark, self.args.seed, 1.0,
                                      os.path.join(self.run_dir, f"inputs{rep}"))
            writes.append(time.perf_counter() - t0)
        self.inputs_dir = os.path.join(self.run_dir, f"inputs{SETUP_REPS - 1}")
        # every WARM_EVERY-th row, so the warm-up reads every input file and
        # runs as many tasks (and Python workers) as a timed operation
        warm = Inputs(self.inp.big.where(F.col("id") % WARM_EVERY == 0),
                      self.inp.small.where(F.col("id") % WARM_EVERY == 0),
                      -(-self.inp.n_big // WARM_EVERY), -(-self.inp.n_small // WARM_EVERY))
        t0 = time.perf_counter()
        self.wl.run(self.spark, warm, os.path.join(self.run_dir, "warm-out"),
                    NullTracer()).release()
        # Spark's planning and scheduling code is still being compiled by
        # the JIT for several operations after the first
        for _ in range(WARM_OPS):
            self.wl.run(self.spark, self.inp, os.path.join(self.run_dir, "warm-out"),
                        NullTracer()).release()
        self.info["warm_s"] = time.perf_counter() - t0
        self.info["input_write_s"] = writes
        self.info["setup_s"] = (self.info["session_s"] + statistics.median(writes)
                                + self.info["warm_s"])
        self.info["inputs"] = {"probe_rows": self.inp.n_big, "small_rows": self.inp.n_small}

    # -- timed operations ----------------------------------------------------

    def timed_ops(self, tracer, seconds: float, min_ops: int, outs: list):
        """Run operations one after another for ``seconds`` and at least
        ``min_ops`` times; appends each Output (None if it raised) to
        ``outs`` and returns the wall times of those that completed."""
        sink = os.path.join(self.run_dir, "out")
        walls = []
        t_start = time.perf_counter()
        for attempt in itertools.count():
            if attempt >= min_ops and time.perf_counter() - t_start >= seconds:
                return walls
            tracer.begin_op(len(outs))
            t0 = time.perf_counter()
            try:
                with tracer.span("op"):
                    out = self.wl.run(self.spark, self.inp, sink, tracer)
            except Exception as e:  # an operation that raises counts as failed
                self.info.setdefault("errors", []).append(repr(e)[:500])
                outs.append(None)
                continue
            walls.append(time.perf_counter() - t0)
            out.release()
            outs.append(out)

    def verify(self, outs: list) -> int:
        """Check the last output in full and every other output against it;
        returns the number of failed operations."""
        import check

        last = next((o for o in reversed(outs) if o is not None), None)
        failed = sum(o is None for o in outs)
        if last is None:
            return failed
        frame = last.frame
        if self.wl.sink == "parquet":
            frame = self.spark.read.parquet(os.path.join(self.run_dir, "out"))
        big = check.Table.read(os.path.join(self.inputs_dir, "big"))
        small = check.Table.read(os.path.join(self.inputs_dir, "small"))
        v = check.verify(self.wl, frame, big, small, self.args.seed)
        self.info["check"] = {"rows": v.rows, "failures": v.failures,
                              "sample_probes": check.SAMPLE_PROBES}
        for o in outs:
            if o is not None and not (v.ok and (o.rows, o.digest) == (v.rows, v.digest)):
                failed += 1
        return failed

    # -- traced ledger -------------------------------------------------------

    def populated_cover_share(self) -> float:
        """Share of probe covering rows that land in a populated cell of the
        workload's index (the property a probe pre-filter acts on)."""
        from pyspark.sql import functions as F
        from spatialjoin import SpatialIndex
        from spatialjoin.index import with_bbox, with_cells

        kw = dict(getattr(self.wl, "build_kw", {}))
        if self.wl.check == "knn":
            kw["cell_target_rows"] = self.wl.k / 2.0  # as knn_join sizes its grid
        idx = SpatialIndex.build(self.spark, self.inp.small, **kw)
        b = self.inp.big.select(F.col("id").alias("big_id"), F.col("kind").alias("b_kind"),
                                F.col("coords").alias("b_coords"),
                                F.col("rings").alias("b_rings"))
        cover = with_cells(with_bbox(b, "b"), "b", idx.grid, idx.resolution, keep_cxy=False)
        populated = idx.small_cells.select("cell").distinct()
        got = cover.agg(F.count(F.lit(1)).alias("n")).first()["n"]
        hit = cover.join(populated, "cell", "left_semi").agg(
            F.count(F.lit(1)).alias("n")).first()["n"]
        idx.unpersist()
        return hit / got if got else 0.0

    def ledger(self, tracer, paired_walls: list, outs: list) -> dict:
        import ledger
        import micro

        from spans import SparkStatus

        snap = ledger.Snapshot(SparkStatus(self.spark))
        cores = self.spark.sparkContext.defaultParallelism
        traced = sorted({s["op"] for s in tracer.spans})
        per_op = [
            ledger.op_ledger(self.wl, snap, tracer, i, cores, self.inp.n_big,
                             outs[i].rows, self.na)
            for i in traced if outs[i] is not None
        ]
        m = {name: 0.0 for name, _, _ in ledger.PER_LAYER}
        for name in per_op[0]:
            m[name] = statistics.median(float(op[name]) for op in per_op)
        m["trace.overhead_s"] = m["trace.wall_s"] - statistics.median(paired_walls)
        m["sparkutil.session_s"] = self.info["session_s"]
        m["jvm.peak_heap_mb"] = snap.peak_heap_mb()
        m["input.probe_rows"] = float(self.inp.n_big)
        m["input.small_rows"] = float(self.inp.n_small)
        m["input.populated_cover_share"] = self.populated_cover_share()
        layer = micro.measure(self.wl, os.path.join(self.inputs_dir, "big"),
                              os.path.join(self.inputs_dir, "small"), self.args.seed)
        self.info["micro_pairs"] = layer.pop("micro.pairs")
        m.update(layer)
        spans_path = os.path.join(WORK, f"spans-{self.wl.name}-s{self.args.seed}.json")
        tracer.dump(spans_path)
        self.info["spans"] = spans_path
        self.info["not_applicable"] = self.na
        self.info["traced_ops"] = len(per_op)
        return m

    # -- whole run -----------------------------------------------------------

    def run(self) -> dict:
        import ledger

        from spans import NullTracer, Tracer

        cpu0 = cpu_seconds()
        self.setup()
        self.info["cpu_setup_s"] = cpu_delta(cpu0)
        cpu0 = cpu_seconds()
        outs: list = []
        if self.args.trace:
            # at least MIN_OPS operations in about as long as an untraced
            # run: half the time untraced, then TRACED_OPS pairs, each a
            # traced operation right after an untraced one, so the
            # overhead compares neighbours on the warm-up curve
            walls = self.timed_ops(NullTracer(), self.args.seconds / 2,
                                   MIN_OPS - 2 * TRACED_OPS, outs)
            tracer, paired = Tracer(self.spark), []
            for _ in range(TRACED_OPS):
                paired += self.timed_ops(NullTracer(), 0.0, 1, outs)
                self.timed_ops(tracer, 0.0, 1, outs)
        else:
            walls = self.timed_ops(NullTracer(), self.args.seconds, MIN_OPS, outs)
        self.info["cpu_ops_s"] = cpu_delta(cpu0)
        t0 = time.perf_counter()
        failed = self.verify(outs)
        self.info["check_s"] = time.perf_counter() - t0
        attempted = len(outs)
        self.info["op_wall_s"] = walls
        # recorded, not a metric: across seeds it varies by far more than a tenth
        self.info["peak_rss_mb"] = jvm_peak_rss_mb()
        self.info["error_rate"] = failed / attempted
        if self.args.trace:
            t0 = time.perf_counter()
            metrics = self.ledger(tracer, paired, outs)
            self.info["ledger_s"] = time.perf_counter() - t0
            metrics["check.error_rate"] = failed / attempted
            units = {name: unit for name, unit, _ in ledger.PER_LAYER}
        else:
            wall = statistics.median(walls)
            metrics = {
                "setup_s": self.info["setup_s"],
                "wall_s": wall,
                "probe_rows_per_s": self.inp.n_big / wall,
            }
            units = {"setup_s": "s", "wall_s": "s", "probe_rows_per_s": "rows/s"}
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
        }


def main(argv=None) -> int:
    args = parse_args(argv)
    run_dir = os.path.join(WORK, f"{args.workload}-s{args.seed}-p{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    env = deployment(run_dir, bool(args.trace))
    os.environ.update(env)
    bench = None
    try:
        sys.path.insert(0, ROOT)
        try:
            import spatialjoin  # noqa: F401  (fails fast outside a checkout)
            import workloads
        except ImportError as e:
            print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
            return 2
        wl = workloads.WORKLOADS.get(args.workload)
        if wl is None:
            print(f"perfbench: unknown workload {args.workload!r}; "
                  f"known: {sorted(workloads.WORKLOADS)}", file=sys.stderr)
            return 2
        bench = Bench(wl, args, run_dir)
        bench.info["deployment"] = {k: env[k] for k in sorted(env)}
        result = bench.run()
    finally:
        if bench is not None:
            stop_jvm(bench.spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(bench.info, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
