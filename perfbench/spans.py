"""Spans recorded by the benchmark around its calls into the engine, and
Spark's own accounting for each span read back from the status REST API.

A span has a name, start, end, parent and operation id. Spans live in
memory and are written out once, when the benchmark ends. Around each
span the tracer sets a Spark job group, so every job the span triggers
(including broadcast and subquery jobs Spark runs on its own threads) can
be attributed to it afterwards. ``NullTracer`` is the untraced stand-in:
its spans record nothing and set no job group.
"""

from __future__ import annotations

import contextlib
import json
import re
import time
import urllib.request


class NullTracer:
    @contextlib.contextmanager
    def span(self, name: str):
        yield None

    def begin_op(self, op_id: int):
        pass


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.op_id = None

    def begin_op(self, op_id: int):
        self.op_id = op_id

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = {
            "name": name,
            "op": self.op_id,
            "id": len(self.spans),
            "parent": parent["id"] if parent else None,
            "group": f"perfbench-op{self.op_id}-{len(self.spans)}-{name}",
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(sp["group"], name, False)
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent["group"], parent["name"], False)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def op_spans(self, op_id: int) -> list[dict]:
        return [s for s in self.spans if s["op"] == op_id]

    @staticmethod
    def self_times(spans: list[dict]) -> dict[int, float]:
        """Span duration minus the part of it its children cover (children
        of one span run one after another, so their durations add)."""
        out = {s["id"]: s["end"] - s["start"] for s in spans}
        for s in spans:
            if s["parent"] is not None and s["parent"] in out:
                out[s["parent"]] -= s["end"] - s["start"]
        return out

    def dump(self, path: str):
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)


# -- Spark status REST API ---------------------------------------------------


class SparkStatus:
    """Reads jobs, stages, SQL executions and executors for this
    application from the Spark UI's REST API (the UI must be on)."""

    def __init__(self, spark):
        sc = spark.sparkContext
        url = sc.uiWebUrl
        if not url:
            raise RuntimeError("the Spark UI is off; tracing needs it")
        port = url.rsplit(":", 1)[1].strip("/")
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.loads(r.read().decode())

    def jobs(self):
        return self.get("/jobs")

    def stages(self):
        return self.get("/stages")

    def task_quantiles(self, stage_id: int, attempt: int):
        return self.get(f"/stages/{stage_id}/{attempt}/taskSummary?quantiles=0.5,1.0")

    def sql(self):
        return self.get("/sql?details=true&planDescription=false&length=100000")

    def executors(self):
        return self.get("/executors")


_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}


def metric_total(value: str) -> float:
    """Total of one SQL metric as the REST API prints it: a plain count
    ("1,234"), or "total (min, med, max ...)\\n12.3 MiB (...)" for sizes and
    timings. Sizes come back in bytes, timings in seconds."""
    text = value.split("\n", 1)[1] if "\n" in value else value
    m = re.match(r"\s*([0-9.,]+)\s*([A-Za-z]*)", text)
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _SIZE:
        return num * _SIZE[unit]
    if unit in _TIME:
        return num * _TIME[unit]
    return num
