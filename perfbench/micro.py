"""In-process timings of the geom, kernels and strtree layers, on one
thread, over a fixed seeded sample of the workload's own geometry.

Candidate pairs come from an STRtree over the small side's bboxes
(buffered by the workload's max distance, or by ``KNN_RADIUS`` for kNN,
whose point bboxes would otherwise never overlap), probed with the sampled
probes' bboxes. Each timing is the median of ``REPEATS`` runs.
"""

from __future__ import annotations

import statistics
import time

import numpy as np
import pyarrow.parquet as pq

from spatialjoin import kernels
from spatialjoin.geom import GeomBatch
from spatialjoin.strtree import STRtree

SAMPLE = 4000
REPEATS = 5
KNN_RADIUS = 0.02


def _median_ns(fn, n: int) -> float:
    times = []
    for _ in range(REPEATS):
        t0 = time.perf_counter_ns()
        fn()
        times.append(time.perf_counter_ns() - t0)
    return statistics.median(times) / max(n, 1)


def _batch(table):
    return GeomBatch.from_arrow(table.column("kind").to_numpy(),
                                table.column("coords"), table.column("rings"))


def measure(wl, big_path: str, small_path: str, seed: int) -> dict:
    big = pq.read_table(big_path, columns=["kind", "coords", "rings"])
    small = pq.read_table(small_path, columns=["kind", "coords", "rings"])
    rng = np.random.default_rng([seed, 11])
    pick = np.sort(rng.choice(big.num_rows, size=min(SAMPLE, big.num_rows), replace=False))
    probes = big.take(pick).combine_chunks()
    small = small.combine_chunks()

    out = {"geom.from_arrow_ns_per_row": _median_ns(lambda: _batch(probes), probes.num_rows)}
    A, B = _batch(small), _batch(probes)
    buf = wl.max_distance if wl.check != "knn" else KNN_RADIUS
    sx0, sy0, sx1, sy1 = (a.copy() for a in A.bbox())
    sx0 -= buf
    sy0 -= buf
    sx1 += buf
    sy1 += buf
    out["strtree.build_ns_per_row"] = _median_ns(lambda: STRtree(sx0, sy0, sx1, sy1), len(A))
    tree = STRtree(sx0, sy0, sx1, sy1)
    bb = B.bbox()
    out["strtree.query_ns_per_probe"] = _median_ns(lambda: tree.query_pairs(*bb), len(B))
    bi, ai = tree.query_pairs(*bb)
    n = len(ai)
    out["micro.pairs"] = float(n)
    out["kernels.intersects_ns_per_pair"] = _median_ns(lambda: kernels.intersects(A, ai, B, bi), n)
    out["kernels.contains_ns_per_pair"] = _median_ns(lambda: kernels.contains(A, ai, B, bi), n)
    out["kernels.distance_ns_per_pair"] = _median_ns(lambda: kernels.distance(A, ai, B, bi), n)
    return out
