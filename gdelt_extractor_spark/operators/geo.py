"""Geometry projection — Spark re-expression of the reference's
PostGIS stage: add a point geometry from lon/lat and keep only rows
with valid coordinates (reference/extractor/extractor.py:168-180
``addgeometrycolumn``/``st_setsrid(st_point(...))`` and
reference/extractor/v2_table.py:68-84 typed casts +
``where lat != '' and long != ''``).

No geometry lib in this environment, so the point is carried as WKT
text + double lon/lat columns — which is also the right 100 TB
shape: the validity filter is a plain predicate that pushes into the
parquet scan, and WKT construction is codegen'd string concat.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def valid_coords(lat: Column, lon: Column) -> Column:
    return (
        lat.isNotNull()
        & lon.isNotNull()
        & (lat >= -90)
        & (lat <= 90)
        & (lon >= -180)
        & (lon <= 180)
    )


def point_wkt(lat: Column, lon: Column) -> Column:
    """WKT POINT(lon lat) string (SRID 4326 implied, as reference),
    coordinates at 6 decimals."""
    return F.concat(
        F.lit("POINT("),
        F.round(lon, 6).cast("decimal(10,6)").cast("string"),
        F.lit(" "),
        F.round(lat, 6).cast("decimal(10,6)").cast("string"),
        F.lit(")"),
    )


def geo_project(df: DataFrame, lat_col: str, lon_col: str, *keep: str) -> DataFrame:
    """Typed projection + coordinate-validity filter + WKT point.

    Mirrors v2_table.py's geom_base: select a typed subset, filter
    invalid coordinates, produce the geometry column.
    """
    lat = F.col(lat_col).cast("double")
    lon = F.col(lon_col).cast("double")
    return (
        df.filter(valid_coords(lat, lon))
        .select(
            *keep,
            lat.alias("lat"),
            lon.alias("lon"),
            point_wkt(lat, lon).alias("geom_wkt"),
        )
    )


def _cell_key(iy: Column, ix: Column) -> Column:
    # iy/ix are non-negative after the +90/+180 offsets; 100000
    # leaves room for any cell_deg ≥ 0.01
    return (iy * 100000 + ix).cast("long")


def grid_join(
    points: DataFrame,
    boxes: DataFrame,
    lat_col: str = "lat",
    lon_col: str = "lon",
    cell_deg: float = 15.0,
) -> DataFrame:
    """Spatial point-in-rectangle join via a GRID-CELL EQUI-JOIN —
    the 2-D analogue of the range join's bin trick.  Spark has no
    spatial join; the naive formulation (``lat BETWEEN … AND lon
    BETWEEN …``) has no equi-key and degrades to a broadcast
    nested-loop / cartesian.  Instead: every box explodes to the
    grid cells its rectangle covers, every point maps to its ONE
    cell, the join is a plain hash equi-join on the cell key, and
    exact containment evaluates as the post-join residual.

    Because a point belongs to exactly one cell, a (point, box)
    pair can only meet once — no distinct pass needed.  Containment
    is half-open ([min, max) on both axes) so abutting boxes never
    double-match a boundary point.

    ``boxes`` columns: (box_id, lat_min, lat_max, lon_min, lon_max).
    ``cell_deg`` trades fan-out for selectivity: boxes replicate
    ~(span/cell_deg)² times, points never replicate — so size cells
    near the typical box edge.  At 100 TB both sides shuffle once on
    the uniform cell key (or the points side pre-buckets on it);
    works unchanged when the box catalog is itself too big to
    broadcast — exactly where the BNLJ formulation dies.

    Output: the point rows + matched ``box_id`` (one row per
    containing box).
    """
    lat = F.col(lat_col)
    lon = F.col(lon_col)
    iy = lambda c: F.floor((c + F.lit(90.0)) / cell_deg).cast("long")  # noqa: E731
    ix = lambda c: F.floor((c + F.lit(180.0)) / cell_deg).cast("long")  # noqa: E731
    cb = (
        boxes.withColumn(
            "_iy", F.explode(F.sequence(iy(F.col("lat_min")), iy(F.col("lat_max"))))
        )
        .withColumn(
            "_ix", F.explode(F.sequence(ix(F.col("lon_min")), ix(F.col("lon_max"))))
        )
        .withColumn("cell", _cell_key(F.col("_iy"), F.col("_ix")))
        .drop("_iy", "_ix")
    )
    pts = points.withColumn("cell", _cell_key(iy(lat), ix(lon)))
    return (
        pts.join(cb, "cell")
        .filter(
            (lat >= F.col("lat_min"))
            & (lat < F.col("lat_max"))
            & (lon >= F.col("lon_min"))
            & (lon < F.col("lon_max"))
        )
        .drop("cell", "lat_min", "lat_max", "lon_min", "lon_max")
    )


def haversine_km(
    lat1: Column, lon1: Column, lat2: Column, lon2: Column
) -> Column:
    """Great-circle distance in km (haversine, mean Earth radius
    6371.0088 km) — pure codegen trig, no geometry lib."""
    rl1, rl2 = F.radians(lat1), F.radians(lat2)
    dlat = F.radians(lat2 - lat1) / 2
    dlon = F.radians(lon2 - lon1) / 2
    a = (
        F.sin(dlat) * F.sin(dlat)
        + F.cos(rl1) * F.cos(rl2) * F.sin(dlon) * F.sin(dlon)
    )
    # float rounding can push a to 1 + ~1e-16 for near-antipodal
    # pairs; asin(sqrt(>1)) would be NaN — and NaN sorts LAST, so a
    # true-but-antipodal nearest match would silently lose
    return F.lit(2 * 6371.0088) * F.asin(F.sqrt(F.least(a, F.lit(1.0))))


def nearest_join(
    points: DataFrame,
    anchors: DataFrame,
    point_id: str,
    anchor_id: str,
    k: int = 1,
    cell_deg: float = 5.0,
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """Spatial k-nearest-neighbor join: for every point, the ``k``
    closest anchors by great-circle distance — store-assignment /
    nearest-capital / sensor-attribution, the spatial sibling of
    ``asof_join`` (nearest in time) and ``ann_bruteforce`` (nearest
    in embedding space).

    Scale shape: the grid-cell candidate trick (same family as
    ``grid_join`` and the range-join bin trick) — anchors replicate
    into their ``cell_deg``-sized cell plus the 8 surrounding cells
    (longitude wraps at ±180°, latitude clamps at the poles), points
    land in exactly one cell, candidates form by plain equi-join on
    the cell key, haversine reranks, and a per-point window keeps the
    top k (anchor id tie-break).  Never an all-pairs cross join.

    EXACTNESS CONTRACT: a point only sees anchors within its 3×3 cell
    neighborhood, so results equal the brute-force answer whenever
    every point's true k-th neighbor lies within ``cell_deg`` degrees
    — size ``cell_deg`` to anchor density (unit-tested equal to brute
    force under that condition); points with NO anchor in the
    neighborhood drop out rather than silently matching far anchors.
    """
    n_lon = max(1, int(360.0 / cell_deg))
    n_lat = max(1, int(180.0 / cell_deg))

    def cell_ix(lon: Column) -> Column:
        return F.pmod(
            F.floor((lon + 180.0) / cell_deg).cast("long"), F.lit(n_lon)
        )

    def cell_iy(lat: Column) -> Column:
        return F.least(
            F.greatest(
                F.floor((lat + 90.0) / cell_deg).cast("long"), F.lit(0)
            ),
            F.lit(n_lat - 1),
        )

    offs = [(dy, dx) for dy in (-1, 0, 1) for dx in (-1, 0, 1)]
    a = anchors.select(
        F.col(anchor_id).alias("_aid"),
        F.col(lat_col).cast("double").alias("_alat"),
        F.col(lon_col).cast("double").alias("_alon"),
    )
    a_cells = a.withColumn(
        "_cell",
        F.explode(
            F.array_distinct(
                F.array(
                    *[
                        F.concat_ws(
                            ":",
                            F.least(
                                F.greatest(
                                    cell_iy(F.col("_alat")) + dy, F.lit(0)
                                ),
                                F.lit(n_lat - 1),
                            ),
                            F.pmod(
                                cell_ix(F.col("_alon")) + dx, F.lit(n_lon)
                            ),
                        )
                        for dy, dx in offs
                    ]
                )
            )
        ),
    )
    p = points.select(
        F.col(point_id).alias("_pid"),
        F.col(lat_col).cast("double").alias("_plat"),
        F.col(lon_col).cast("double").alias("_plon"),
    ).withColumn(
        "_cell",
        F.concat_ws(
            ":", cell_iy(F.col("_plat")), cell_ix(F.col("_plon"))
        ),
    )
    cand = p.join(a_cells, "_cell").withColumn(
        "_dist",
        haversine_km(
            F.col("_plat"), F.col("_plon"), F.col("_alat"), F.col("_alon")
        ),
    )
    w = Window.partitionBy("_pid").orderBy(
        F.col("_dist").asc(), F.col("_aid").asc()
    )
    return (
        cand.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select(
            F.col("_pid").alias(point_id),
            F.col("_aid").alias(anchor_id),
            F.col("_rn").cast("long").alias("rank"),
            F.round("_dist", 3).alias("dist_km"),
        )
    )
