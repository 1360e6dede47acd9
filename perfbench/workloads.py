"""The four benchmark workloads: their seeded inputs and the timed
operation, which calls only the engine's public API.

An operation is index build (or the kNN call), then the join, then full
consumption of the output: the noop sink, or a parquet write for
``prox_geos_write``. Never ``.count()``, which lets Catalyst prune output
columns the workload is meant to produce. While the sink consumes the
output, ``observe`` folds every output row into a row count and an
order-independent hash, so each operation's output can be compared with
the one output the checker verifies in full.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Observation
from pyspark.sql import functions as F

import gen

INPUT_PARTITIONS = 8


@dataclass
class Inputs:
    big: object
    small: object
    n_big: int
    n_small: int


@dataclass
class Output:
    frame: object  # the output DataFrame (recomputed if read again)
    rows: int
    digest: int
    index: object = None  # the SpatialIndex the operation built, if any

    def release(self):
        """Drop the index's cached cells; ``frame`` stays readable."""
        if self.index is not None:
            self.index.unpersist()
            self.index = None


def consume(df, parquet_path: str | None = None):
    """Consume every column of every output row; returns (rows, digest)."""
    obs = Observation()
    watched = df.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.bit_xor(F.xxhash64(*df.columns)).alias("digest"),
    )
    if parquet_path is None:
        watched.write.format("noop").mode("overwrite").save()
    else:
        watched.write.mode("overwrite").parquet(parquet_path)
    got = obs.get
    return int(got["rows"]), int(got["digest"] or 0)


class Workload:
    name = ""
    # predicate the checker evaluates per (probe, small) pair: "contains"
    # (small contains probe), "intersects", "distance" (<= max_distance)
    # or "knn"
    check = ""
    max_distance = 0.0
    k = 0
    sink = "noop"
    n_big = 0
    n_small = 0

    def always_sampled(self, n_big: int) -> list:
        """Probe ids the checker samples on every seed, besides its random
        sample."""
        return []

    def sizes(self, scale: float):
        return max(int(self.n_big * scale), 64), max(int(self.n_small * scale), 64)

    def make(self, spark, seed: int, scale: float):
        """(big, small) DataFrames at ``scale`` of the stated sizes."""
        raise NotImplementedError

    def inputs(self, spark, seed: int, scale: float, root: str) -> Inputs:
        big, small = self.make(spark, seed, scale)
        n_big, n_small = self.sizes(scale)
        big.write.mode("overwrite").parquet(f"{root}/big")
        small.write.mode("overwrite").parquet(f"{root}/small")
        return Inputs(spark.read.parquet(f"{root}/big"),
                      spark.read.parquet(f"{root}/small"), n_big, n_small)

    def run(self, spark, inp: Inputs, sink_path: str, tr) -> Output:
        raise NotImplementedError


class _Join(Workload):
    """SpatialIndex.build + spatial_join / proximity_map."""

    build_kw: dict = {}

    def query(self, idx, big):
        raise NotImplementedError

    def run(self, spark, inp, sink_path, tr):
        from spatialjoin import SpatialIndex

        with tr.span("index.build"):
            idx = SpatialIndex.build(spark, inp.small, **self.build_kw)
        with tr.span("index.plan"):
            out = self.query(idx, inp.big)
        with tr.span("index.exec"):
            rows, digest = consume(out, sink_path if self.sink == "parquet" else None)
        return Output(out, rows, digest, idx)


class PipBroadcast(_Join):
    """Selective point-in-polygon join whose whole plan stays in the JVM
    (broadcast cell join, dedup, unrolled PIP); Python, shuffle and
    kernels idle."""

    name = "pip_broadcast"
    check = "contains"
    n_big = 400_000
    n_small = 4_000
    extent = (0.0, 0.0, 20.0, 20.0)

    def make(self, spark, seed, scale):
        nb, ns = self.sizes(scale)
        big = gen.points(spark, nb, seed, 10, *self.extent, INPUT_PARTITIONS)
        small = gen.rhombi(spark, ns, seed, 20, self.extent, (0.05, 0.2), 4)
        return big, small

    def query(self, idx, big):
        return idx.spatial_join(big, how="contains", big_kinds={0})


class PathsShuffle(_Join):
    """Index forced off broadcast: shuffle-pairs route, one mapInArrow and
    kernels.intersects; most probe covering rows meet no polygon."""

    name = "paths_shuffle"
    check = "intersects"
    build_kw = {"broadcast": False}
    n_big = 40_000
    n_small = 20_000
    extent = (0.0, 0.0, 20.0, 20.0)
    # the polygons are packed into 1/16 of the probes' extent
    packed = (0.0, 0.0, 5.0, 5.0)

    def make(self, spark, seed, scale):
        nb, ns = self.sizes(scale)
        big = gen.paths(spark, nb, seed, 30, self.extent, 0.1, INPUT_PARTITIONS)
        small = gen.rhombi(spark, ns, seed, 40, self.packed, (0.02, 0.08), 4, hole=0.4)
        return big, small

    def query(self, idx, big):
        return idx.spatial_join(big, how="intersects")


class ProxGeosWrite(_Join):
    """Proximity map with geometry on every output row, written as parquet:
    the cogroup route, kernels.distance and the parquet writer."""

    name = "prox_geos_write"
    check = "distance"
    max_distance = 0.05
    build_kw = {"max_distance": 0.05, "broadcast": False}
    sink = "parquet"
    n_big = 40_000
    n_small = 10_000
    extent = (0.0, 0.0, 20.0, 20.0)

    def make(self, spark, seed, scale):
        nb, ns = self.sizes(scale)
        big = gen.points(spark, nb, seed, 50, *self.extent, INPUT_PARTITIONS)
        small = gen.rhombi(spark, ns, seed, 60, self.extent, (0.05, 0.2), 4, hole=0.4)
        return big, small

    def query(self, idx, big):
        return idx.proximity_map(big, with_geos=True, big_kinds={0})


class KnnSkewed(Workload):
    """kNN whose first ring the skewed data makes too small, so the round
    loop (persist, groupBy, done-check count, sweep, checkpoint)
    dominates.

    Every 1000th probe lies in a strip right of the points' extent, farther
    from any point than the second round's ring reaches, so every seed
    ends the loop with the straggler sweep. Without the strip, whether a few
    uniform probes are left after round 2 (and the sweep runs) depends on
    the seed."""

    name = "knn_skewed"
    check = "knn"
    k = 8
    n_big = 30_000
    n_small = 20_000
    extent = (0.0, 0.0, 1.0, 1.0)
    hot = (0.0, 0.0, 0.5, 0.5)
    stray_every = 1000
    stray_box = (1.2, 0.0, 1.5, 1.0)

    def always_sampled(self, n_big):
        return list(range(0, n_big, self.stray_every))[:20]

    def make(self, spark, seed, scale):
        nb, ns = self.sizes(scale)
        big = gen.points_with_strays(spark, nb, seed, 70, self.extent, self.stray_every,
                                     self.stray_box, INPUT_PARTITIONS)
        small = gen.skewed_points(spark, ns, seed, 80, 0.8, self.hot, self.extent, 4)
        return big, small

    def run(self, spark, inp, sink_path, tr):
        from spatialjoin import knn_join

        with tr.span("knn.call"):
            out = knn_join(spark, inp.small, inp.big, self.k, big_kinds={0})
        with tr.span("output.sink"):
            rows, digest = consume(out)
        return Output(out, rows, digest)


WORKLOADS = {w.name: w for w in (PipBroadcast(), PathsShuffle(), ProxGeosWrite(), KnnSkewed())}
