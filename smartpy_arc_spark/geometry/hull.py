"""Per-group convex hull — Andrew's monotone chain over grouped points.

The aggregate-geometry op (coverage footprints, service areas, cluster
outlines) the reference delegates to arcpy's MinimumBoundingGeometry;
here it is a grouped Arrow-batched computation: points shuffle once by
group key, each group's hull is the classic O(n log n) monotone chain in
numpy, and the result row carries the ring (WKT), vertex count, exact
shoelace area and perimeter.

Scale note: per-group point counts must fit a task (the same bounded-
group contract as sessionize/ewma).  For planet-scale single groups,
pre-reduce with a grid: per-cell min/max y per x-band is hull-preserving
and cuts input to O(cells) before the exact chain.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def convex_hulls(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Convex hull per group: ``(group, n_points, n_vertices, hull_wkt,
    area_e4, perimeter_e4)``.  Degenerate groups (<3 distinct points or
    collinear) yield the degenerate hull with ``area_e4 = 0``.

    Hull vertices are emitted counter-clockwise starting from the
    lexicographically smallest point, so the WKT is deterministic."""
    import math

    import pandas as pd

    from smartpy_arc_spark.session import ensure_worker_imports

    ensure_worker_imports(df.sparkSession)

    def cross(o, a, b):
        return (a[0] - o[0]) * (b[1] - o[1]) - (a[1] - o[1]) * (b[0] - o[0])

    def hull_of(points):
        pts = sorted(set(map(tuple, points)))
        if len(pts) <= 2:
            return pts
        lower, upper = [], []
        for p in pts:
            while len(lower) >= 2 and cross(lower[-2], lower[-1], p) <= 0:
                lower.pop()
            lower.append(p)
        for p in reversed(pts):
            while len(upper) >= 2 and cross(upper[-2], upper[-1], p) <= 0:
                upper.pop()
            upper.append(p)
        return lower[:-1] + upper[:-1]  # CCW, starts at smallest point

    # no type hints: a partly-hinted function makes pyspark warn that it
    # cannot infer the eval type before it falls back to grouped-map
    def compute(key, pdf):
        points = list(zip(pdf["_x"].astype(float), pdf["_y"].astype(float)))
        h = hull_of(points)
        k = len(h)
        area = 0.0
        perim = 0.0
        if k >= 2:
            for i in range(k):
                x1, y1 = h[i]
                x2, y2 = h[(i + 1) % k]
                area += x1 * y2 - x2 * y1
                # explicit sqrt(dx*dx + dy*dy), NOT np.hypot: hypot's
                # correctly-rounded-composite algorithm can differ from
                # the naive form by 1 ulp, and the naive form is what a
                # SQL mirror (sqrt over the same doubles) reproduces
                # bit-exactly (r7 — convex_hulls oracle conversion)
                dx, dy = x2 - x1, y2 - y1
                perim += math.sqrt(dx * dx + dy * dy)
            area = abs(area) / 2.0
        ring = ", ".join(f"{x:g} {y:g}" for x, y in h + h[:1])
        wkt = f"POLYGON (({ring}))" if k >= 3 else (
            f"LINESTRING ({ring})" if k == 2 else f"POINT ({ring})"
        )
        return pd.DataFrame(
            {
                "group": [str(key[0])],  # group lands as string in the output schema
                "n_points": [len(points)],
                "n_vertices": [k],
                "hull_wkt": [wkt],
                "area_e4": [int(round(area * 1e4))],
                "perimeter_e4": [int(round(perim * 1e4))],
            }
        )

    out = (
        df.select(
            F.col(group_col).alias("_g"),
            F.col(x_col).cast("double").alias("_x"),
            F.col(y_col).cast("double").alias("_y"),
        )
        .groupBy("_g")
        .applyInPandas(
            compute,
            "group string, n_points long, n_vertices int, hull_wkt string, "
            "area_e4 long, perimeter_e4 long",
        )
    )
    return out.withColumnRenamed("group", group_col)
