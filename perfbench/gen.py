"""Seeded input generation in Spark SQL.

Every coordinate is derived from ``xxhash64(id, seed, salt)``, so a row's
geometry depends only on its id and the seed: the same seed gives the same
rows for any partitioning (``rand(seed)`` does not). Inputs are written to
parquet once per seed and every operation reads them back.
"""

from __future__ import annotations

from pyspark.sql import functions as F

_TWO53 = float(1 << 53)


def uniform(seed: int, salt: int):
    """Column of doubles in [0, 1), a pure function of (id, seed, salt)."""
    h = F.xxhash64(F.col("id"), F.lit(int(seed)), F.lit(int(salt)))
    return F.shiftrightunsigned(h, 11).cast("double") / F.lit(_TWO53)


def between(seed: int, salt: int, lo: float, hi: float):
    return F.lit(float(lo)) + uniform(seed, salt) * F.lit(float(hi - lo))


def _geom(df, kind: int, coords, rings=None):
    rings = rings if rings is not None else F.array().cast("array<int>")
    return df.select(
        F.col("id"),
        F.lit(kind).cast("int").alias("kind"),
        coords.cast("array<double>").alias("coords"),
        rings.cast("array<int>").alias("rings"),
    )


def points(spark, n: int, seed: int, salt: int, x0: float, y0: float,
           x1: float, y1: float, parts: int):
    df = spark.range(0, n, 1, parts)
    x = between(seed, salt, x0, x1)
    y = between(seed, salt + 1, y0, y1)
    return _geom(df, 0, F.array(x, y))


def skewed_points(spark, n: int, seed: int, salt: int, hot_share: float,
                  hot: tuple, extent: tuple, parts: int):
    """Points uniform over ``hot`` with probability ``hot_share``, else
    uniform over ``extent``."""
    df = spark.range(0, n, 1, parts)
    return _two_boxes(df, seed, salt, uniform(seed, salt + 2) < F.lit(float(hot_share)),
                      hot, extent)


def points_with_strays(spark, n: int, seed: int, salt: int, extent: tuple,
                       stray_every: int, stray_box: tuple, parts: int):
    """Points uniform over ``extent``, except every ``stray_every``-th id
    (ids 0, stray_every, ...), which is uniform over ``stray_box``."""
    df = spark.range(0, n, 1, parts)
    return _two_boxes(df, seed, salt, F.col("id") % F.lit(stray_every) == 0,
                      stray_box, extent)


def _two_boxes(df, seed: int, salt: int, in_first, first: tuple, other: tuple):
    """Points uniform over ``first`` where ``in_first`` holds, else over
    ``other``."""
    ux, uy = uniform(seed, salt), uniform(seed, salt + 1)

    def scale(u, lo, hi):
        return F.lit(float(lo)) + u * F.lit(float(hi - lo))

    x = F.when(in_first, scale(ux, first[0], first[2])).otherwise(scale(ux, other[0], other[2]))
    y = F.when(in_first, scale(uy, first[1], first[3])).otherwise(scale(uy, other[1], other[3]))
    return _geom(df, 0, F.array(x, y))


def _rhombus_ring(cx, cy, hx, hy):
    """Closed 5-vertex rhombus ring around (cx, cy)."""
    return [cx + hx, cy, cx, cy + hy, cx - hx, cy, cx, cy - hy, cx + hx, cy]


def rhombi(spark, n: int, seed: int, salt: int, centre_box: tuple,
           half: tuple, parts: int, hole: float | None = None):
    """Rhombi with centres uniform over ``centre_box`` and half-diagonals
    uniform in ``half``; ``hole`` (a scale in (0, 1)) adds a concentric
    rhombic hole."""
    df = spark.range(0, n, 1, parts)
    cx = between(seed, salt, centre_box[0], centre_box[2])
    cy = between(seed, salt + 1, centre_box[1], centre_box[3])
    hx = between(seed, salt + 2, half[0], half[1])
    hy = between(seed, salt + 3, half[0], half[1])
    ring = _rhombus_ring(cx, cy, hx, hy)
    rings = F.array(F.lit(0))
    if hole is not None:
        s = F.lit(float(hole))
        ring = ring + _rhombus_ring(cx, cy, hx * s, hy * s)
        rings = F.array(F.lit(0), F.lit(5))
    return _geom(df, 3, F.array(*ring), rings)


def paths(spark, n: int, seed: int, salt: int, extent: tuple, step: float,
          parts: int):
    """3-point linestrings: a uniform start and two steps in
    [-step, step]^2."""
    df = spark.range(0, n, 1, parts)
    x0 = between(seed, salt, extent[0], extent[2])
    y0 = between(seed, salt + 1, extent[1], extent[3])
    d = [between(seed, salt + 2 + i, -step, step) for i in range(4)]
    x1, y1 = x0 + d[0], y0 + d[1]
    x2, y2 = x1 + d[2], y1 + d[3]
    return _geom(df, 2, F.array(x0, y0, x1, y1, x2, y2))
