"""Per-layer ledger of one traced operation, from its spans and Spark's own
accounting of the jobs each span ran (read back by job group).

Metrics that do not apply to a workload are reported as 0 and named, with
the reason, in ``not_applicable``.
"""

from __future__ import annotations

from spans import Tracer, metric_total

MB = float(1 << 20)

PER_LAYER = [
    ("sparkutil.session_s", "s", "lower"),
    ("index.build_s", "s", "lower"),
    ("index.build_jobs", "count", "lower"),
    ("index.plan_s", "s", "lower"),
    ("index.plan_jobs", "count", "lower"),
    ("index.exec_s", "s", "lower"),
    ("index.stages", "count", "lower"),
    ("index.tasks", "count", "lower"),
    ("index.executor_run_s", "s", "lower"),
    ("index.executor_cpu_s", "s", "lower"),
    ("index.busy_share", "ratio", "higher"),
    ("index.probe_cover_rows", "count", "lower"),
    ("index.cover_per_probe", "ratio", "lower"),
    ("index.candidates", "count", "lower"),
    ("index.candidates_per_probe", "ratio", "lower"),
    ("index.output_rows", "count", "higher"),
    ("index.refine_selectivity", "ratio", "higher"),
    ("index.shuffle_write_mb", "MB", "lower"),
    ("index.shuffle_read_mb", "MB", "lower"),
    ("index.spill_mb", "MB", "lower"),
    ("index.task_max_over_median", "ratio", "lower"),
    ("index.python_in_mb", "MB", "lower"),
    ("index.python_out_mb", "MB", "lower"),
    ("index.python_run_s", "s", "lower"),
    ("index.python_init_s", "s", "lower"),
    ("geom.from_arrow_ns_per_row", "ns", "lower"),
    ("kernels.intersects_ns_per_pair", "ns", "lower"),
    ("kernels.contains_ns_per_pair", "ns", "lower"),
    ("kernels.distance_ns_per_pair", "ns", "lower"),
    ("strtree.build_ns_per_row", "ns", "lower"),
    ("strtree.query_ns_per_probe", "ns", "lower"),
    ("knn.call_s", "s", "lower"),
    ("knn.jobs", "count", "lower"),
    ("knn.stages", "count", "lower"),
    ("knn.tasks", "count", "lower"),
    ("knn.executor_run_s", "s", "lower"),
    ("knn.busy_share", "ratio", "higher"),
    ("knn.shuffle_write_mb", "MB", "lower"),
    ("output.rows", "count", "higher"),
    ("output.write_mb", "MB", "lower"),
    ("jvm.peak_heap_mb", "MB", "lower"),
    ("trace.wall_s", "s", "lower"),
    ("trace.overhead_s", "s", "lower"),
    ("trace.unattributed_s", "s", "lower"),
    ("trace.unattributed_share", "ratio", "lower"),
    ("input.probe_rows", "count", "higher"),
    ("input.small_rows", "count", "higher"),
    ("input.populated_cover_share", "ratio", "lower"),
    ("check.error_rate", "ratio", "lower"),
]

_JOINS = ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
          "BroadcastNestedLoopJoin", "CartesianProduct")
_PY = {
    "data sent to Python workers": "python_in",
    "data returned from Python workers": "python_out",
    "time to run Python workers": "python_run",
    "time to initialize Python workers": "python_init",
}


class Snapshot:
    """Jobs, stages and SQL executions of the application, read once."""

    def __init__(self, status):
        self.status = status
        self.jobs = status.jobs()
        self.stages = {(s["stageId"], s["attemptId"]): s for s in status.stages()}
        self.sql = status.sql()
        self.executors = status.executors()

    def account(self, group: str) -> dict:
        jobs = [j for j in self.jobs if j.get("jobGroup") == group]
        job_ids = {j["jobId"] for j in jobs}
        sids = {sid for j in jobs for sid in j["stageIds"]}
        stages = [s for key, s in self.stages.items()
                  if key[0] in sids and s["status"] == "COMPLETE"]
        execs = [e for e in self.sql
                 if job_ids & set(e["successJobIds"] + e["failedJobIds"] + e["runningJobIds"])]
        acc = {
            "jobs": len(jobs),
            "stages": len(stages),
            "tasks": sum(s["numCompleteTasks"] for s in stages),
            "run_s": sum(s["executorRunTime"] for s in stages) / 1e3,
            "cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
            "shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in stages) / MB,
            "shuffle_read_mb": sum(s["shuffleReadBytes"] for s in stages) / MB,
            "spill_mb": sum(s["diskBytesSpilled"] for s in stages) / MB,
            "output_mb": sum(s["outputBytes"] for s in stages) / MB,
            "generate_rows": 0.0,
            "join_rows": 0.0,
            "joins": 0,
            "python_nodes": 0,
            **{v: 0.0 for v in _PY.values()},
        }
        for e in execs:
            for node in e["nodes"]:
                m = {x["name"]: x["value"] for x in node.get("metrics", [])}
                name = node["nodeName"]
                rows = metric_total(m.get("number of output rows", "0"))
                if name == "Generate":
                    acc["generate_rows"] = max(acc["generate_rows"], rows)
                elif name.startswith(_JOINS):
                    acc["join_rows"] += rows
                    acc["joins"] += 1
                if "data sent to Python workers" in m:
                    acc["python_nodes"] += 1
                    for label, key in _PY.items():
                        acc[key] += metric_total(m.get(label, "0"))
        heaviest = max(stages, key=lambda s: s["executorRunTime"], default=None)
        acc["task_max_over_median"] = 0.0
        if heaviest is not None:
            q = self.status.task_quantiles(heaviest["stageId"], heaviest["attemptId"])
            med, top = q["executorRunTime"]
            acc["task_max_over_median"] = top / med if med else 0.0
        return acc

    def peak_heap_mb(self) -> float:
        for ex in self.executors:
            peak = ex.get("peakMemoryMetrics") or {}
            if "JVMHeapMemory" in peak:
                return peak["JVMHeapMemory"] / MB
        return 0.0


def op_ledger(wl, snap: Snapshot, tracer: Tracer, op_id: int, cores: int,
              n_big: int, out_rows: int, na: dict) -> dict:
    spans = tracer.op_spans(op_id)
    by_name = {s["name"]: s for s in spans}
    dur = {s["name"]: s["end"] - s["start"] for s in spans}
    root = by_name["op"]
    self_t = Tracer.self_times(spans)
    m = {
        "trace.wall_s": dur["op"],
        "trace.unattributed_s": self_t[root["id"]],
        "trace.unattributed_share": self_t[root["id"]] / dur["op"],
        "output.rows": float(out_rows),
    }
    if wl.check == "knn":
        call = snap.account(by_name["knn.call"]["group"])
        sink = snap.account(by_name["output.sink"]["group"])
        m.update({
            "knn.call_s": dur["knn.call"],
            "knn.jobs": call["jobs"],
            "knn.stages": call["stages"],
            "knn.tasks": call["tasks"],
            "knn.executor_run_s": call["run_s"],
            "knn.busy_share": call["run_s"] / (dur["knn.call"] * cores),
            "knn.shuffle_write_mb": call["shuffle_write_mb"],
            "output.write_mb": sink["output_mb"],
        })
        na["index.*"] = "knn_join builds its index inside the call; the build cannot be split out"
        na["output.write_mb"] = "noop sink writes nothing"
        return m
    build = snap.account(by_name["index.build"]["group"])
    plan = snap.account(by_name["index.plan"]["group"])
    ex = snap.account(by_name["index.exec"]["group"])
    m.update({
        "index.build_s": dur["index.build"],
        "index.build_jobs": build["jobs"],
        "index.plan_s": dur["index.plan"],
        "index.plan_jobs": plan["jobs"],
        "index.exec_s": dur["index.exec"],
        "index.stages": ex["stages"],
        "index.tasks": ex["tasks"],
        "index.executor_run_s": ex["run_s"],
        "index.executor_cpu_s": ex["cpu_s"],
        "index.busy_share": ex["run_s"] / (dur["index.exec"] * cores),
        "index.probe_cover_rows": ex["generate_rows"],
        "index.cover_per_probe": ex["generate_rows"] / n_big,
        "index.output_rows": float(out_rows),
        "index.shuffle_write_mb": ex["shuffle_write_mb"],
        "index.shuffle_read_mb": ex["shuffle_read_mb"],
        "index.spill_mb": ex["spill_mb"],
        "index.task_max_over_median": ex["task_max_over_median"],
        "index.python_in_mb": ex["python_in"] / MB,
        "index.python_out_mb": ex["python_out"] / MB,
        "index.python_run_s": ex["python_run"],
        "index.python_init_s": ex["python_init"],
        "output.write_mb": ex["output_mb"],
    })
    if ex["joins"]:
        m["index.candidates"] = ex["join_rows"]
        m["index.candidates_per_probe"] = ex["join_rows"] / n_big
        m["index.refine_selectivity"] = out_rows / ex["join_rows"] if ex["join_rows"] else 0.0
    else:
        na["index.candidates"] = na["index.candidates_per_probe"] = na[
            "index.refine_selectivity"] = ("no join operator in the plan: the cogroup route "
                                           "forms candidate pairs inside Python")
    if not ex["python_nodes"]:
        na["index.python_*"] = "no Python operator in the plan"
    if wl.sink == "noop":
        na["output.write_mb"] = "noop sink writes nothing"
    na["knn.*"] = "no kNN call in this workload"
    return m
