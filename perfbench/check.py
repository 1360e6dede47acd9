"""Output checks.

Two checks, both run on every operation's output:

* the whole output: no duplicate (big_id, small_id) pairs; for proximity
  maps every distance finite and within ``max_distance``; for kNN exactly
  k rows ranked 1..k for every probe;
* a seeded sample of probes, plus any the workload names in
  ``always_sampled``, recomputed with ``spatialjoin.scalar_ref``, the
  independent pure-Python spec that shares no code with ``kernels`` or
  ``index``, against every small geometry whose bbox (buffered by
  ``max_distance``) meets the probe's. The sample's rows must match
  exactly: distances bit-equal, kNN ties broken by ``small_id``, and for
  ``with_geos`` output the geometry columns equal to the inputs'.

The checks read one output in full; every timed operation then has to
reproduce that output's row count and order-independent hash.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from spatialjoin import scalar_ref

SAMPLE_PROBES = 500
_GEO = ("kind", "coords", "rings")


@dataclass
class Table:
    """One input side read back from its parquet files, by id."""

    ids: np.ndarray
    kind: np.ndarray
    coords: list
    rings: list
    bbox: tuple  # (xmin, ymin, xmax, ymax) arrays

    @staticmethod
    def read(path: str) -> "Table":
        t = pq.read_table(path, columns=["id", *_GEO]).combine_chunks()
        order = np.argsort(t.column("id").to_numpy())
        t = t.take(order)
        coords = t.column("coords").combine_chunks()
        off = np.asarray(coords.offsets, dtype=np.int64)
        flat = coords.values.to_numpy(zero_copy_only=False)
        starts = off[:-1] // 2
        xs, ys = flat[0::2], flat[1::2]
        bbox = (np.minimum.reduceat(xs, starts), np.minimum.reduceat(ys, starts),
                np.maximum.reduceat(xs, starts), np.maximum.reduceat(ys, starts))
        return Table(t.column("id").to_numpy(), t.column("kind").to_numpy(),
                     t.column("coords").to_pylist(), t.column("rings").to_pylist(), bbox)

    def row(self, i: int):
        return scalar_ref.make(int(self.kind[i]), self.coords[i], self.rings[i] or None)

    def geo(self, i: int):
        return (int(self.kind[i]), list(self.coords[i]), list(self.rings[i] or []))


@dataclass
class Verdict:
    rows: int = 0
    digest: int = 0
    failures: list = field(default_factory=list)

    @property
    def ok(self) -> bool:
        return not self.failures


def sample_ids(n_big: int, seed: int, always=()) -> np.ndarray:
    rng = np.random.default_rng([seed, 7])
    ids = rng.choice(n_big, size=min(SAMPLE_PROBES, n_big), replace=False)
    return np.union1d(ids, np.asarray(always, dtype=ids.dtype))


def whole_output(wl, frame, n_big: int, v: Verdict):
    cols = frame.columns
    aggs = [
        F.count(F.lit(1)).alias("rows"),
        F.bit_xor(F.xxhash64(*cols)).alias("digest"),
        F.count_distinct("big_id", "small_id").alias("pairs"),
    ]
    if "distance" in cols:
        aggs += [
            F.max("distance").alias("dmax"),
            F.min("distance").alias("dmin"),
            F.sum(F.when(F.isnan("distance") | F.col("distance").isNull(), 1)
                  .otherwise(0)).alias("dbad"),
        ]
    got = frame.agg(*aggs).first()
    v.rows, v.digest = int(got["rows"]), int(got["digest"] or 0)
    if got["pairs"] != got["rows"]:
        v.failures.append(f"{got['rows'] - got['pairs']} duplicate (big_id, small_id) rows")
    if wl.check == "distance" and v.rows:
        if got["dbad"] or not (0.0 <= got["dmin"] and got["dmax"] <= wl.max_distance):
            v.failures.append(
                f"distance outside [0, {wl.max_distance}]: min {got['dmin']!r} max {got['dmax']!r}")
    if wl.check == "knn":
        k = wl.k
        per = frame.groupBy("big_id").agg(
            F.count(F.lit(1)).alias("n"), F.min("rank").alias("lo"),
            F.max("rank").alias("hi"), F.count_distinct("rank").alias("nr"))
        ok = (F.col("n") == k) & (F.col("lo") == 1) & (F.col("hi") == k) & (F.col("nr") == k)
        got = per.agg(F.count(F.lit(1)).alias("probes"),
                      F.sum(F.when(ok, 0).otherwise(1)).alias("bad")).first()
        if got["bad"] or got["probes"] != n_big:
            v.failures.append(f"kNN: {got['probes']} of {n_big} probes present, "
                              f"{got['bad']} without exactly ranks 1..{k}")


def expected_rows(wl, big: Table, small: Table, ids: np.ndarray) -> dict:
    """{big_id: sorted list of expected output tuples} for sampled probes."""
    bpos = np.searchsorted(big.ids, ids)
    sx0, sy0, sx1, sy1 = small.bbox
    out = {}
    if wl.check == "knn":
        # prefilter on numpy squared distances, then exact scalar_ref
        # distances for every small point within the k-th squared
        # distance (plus slack, so rounding cannot drop a tie)
        for bid, i in zip(ids.tolist(), bpos.tolist()):
            px, py = big.coords[i][0], big.coords[i][1]
            d2 = (sx0 - px) ** 2 + (sy0 - py) ** 2
            kth = np.partition(d2, wl.k - 1)[wl.k - 1]
            cand = np.flatnonzero(d2 <= kth * (1 + 1e-9) + 1e-300)
            probe = big.row(i)
            ranked = sorted((scalar_ref.distance(small.row(j), probe), int(small.ids[j]))
                            for j in cand)[: wl.k]
            out[bid] = [(bid, sid, d, r + 1) for r, (d, sid) in enumerate(ranked)]
        return out
    buf = wl.max_distance
    for bid, i in zip(ids.tolist(), bpos.tolist()):
        bx0, by0, bx1, by1 = (a[i] for a in big.bbox)
        cand = np.flatnonzero((sx0 - buf <= bx1) & (sx1 + buf >= bx0)
                              & (sy0 - buf <= by1) & (sy1 + buf >= by0))
        probe = big.row(i)
        rows = []
        for j in cand.tolist():
            s = small.row(j)
            sid = int(small.ids[j])
            if wl.check == "contains":
                if scalar_ref.contains(s, probe):
                    rows.append((bid, sid))
            elif wl.check == "intersects":
                if scalar_ref.intersects(s, probe):
                    rows.append((bid, sid))
            else:
                d = scalar_ref.distance(s, probe)
                if d <= buf:
                    rows.append((bid, sid, d) + big.geo(i) + small.geo(j))
        out[bid] = sorted(rows)
    return out


def _as_tuple(wl, r):
    if wl.check == "knn":
        return (r["big_id"], r["small_id"], r["distance"], r["rank"])
    if wl.check == "distance":
        return (r["big_id"], r["small_id"], r["distance"],
                r["b_kind"], list(r["b_coords"]), list(r["b_rings"] or []),
                r["s_kind"], list(r["s_coords"]), list(r["s_rings"] or []))
    return (r["big_id"], r["small_id"])


def sample(wl, frame, big: Table, small: Table, ids: np.ndarray, v: Verdict):
    want = expected_rows(wl, big, small, ids)
    got: dict = {int(i): [] for i in ids}
    for r in frame.where(F.col("big_id").isin([int(i) for i in ids])).collect():
        got[r["big_id"]].append(_as_tuple(wl, r))
    bad = [bid for bid in want if sorted(got[bid]) != sorted(want[bid])]
    if bad:
        b = bad[0]
        v.failures.append(
            f"{len(bad)} of {len(ids)} sampled probes differ from scalar_ref; "
            f"probe {b}: expected {sorted(want[b])[:3]} got {sorted(got[b])[:3]}")


def verify(wl, frame, big: Table, small: Table, seed: int) -> Verdict:
    """Check one output in full: whole-output properties and the sample."""
    v = Verdict()
    whole_output(wl, frame, len(big.ids), v)
    n_big = len(big.ids)
    sample(wl, frame, big, small, sample_ids(n_big, seed, wl.always_sampled(n_big)), v)
    return v
