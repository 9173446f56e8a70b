"""Geometry operators — the reference's spatial tool surface, Spark-native.

The reference delegates to external Esri jars (Projector / BufferCreator,
StreamWithStates.scala:209-243); only the call sites live in its code.  Here:

- G1 Projector (WGS84 → Web Mercator, wkid 4326 → 3857) is pure column math —
  spherical-mercator is a closed formula, no library needed, fully inside
  WholeStageCodegen;
- S4 point construct and P3 geometry null-out are struct column ops;
- G2 geodesic buffer (dead code in the reference — usage commented out at
  StreamWithStates.scala:241-243) is a spherical-approximation ring generator
  via mapInPandas, excluded from oracle checks;
- G4 tool registry is a plain dict of named DataFrame transforms.
"""

from __future__ import annotations

import math
from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from stateful_spark_streaming_spark.schema import GEOMETRY_TYPE, geometry_col

WEB_MERCATOR_R = 6378137.0  # WGS84 semi-major axis (public constant)


def web_mercator_x(lon: Column) -> Column:
    """x' = R * radians(lon)"""
    return F.lit(WEB_MERCATOR_R) * F.radians(lon)


def web_mercator_y(lat: Column) -> Column:
    """y' = R * ln(tan(pi/4 + radians(lat)/2)) — undefined at the poles, so
    callers should clamp |lat| < 89.9 upstream (the projector tool's domain)."""
    return F.lit(WEB_MERCATOR_R) * F.log(
        F.tan(F.lit(math.pi / 4.0) + F.radians(lat) / F.lit(2.0))
    )


def project_web_mercator(
    df: DataFrame, lon: str = "longitude", lat: str = "latitude"
) -> DataFrame:
    """G1: reproject (lon, lat) columns → Web-Mercator geometry struct.
    Output schema derivation (G3) is just this DataFrame's schema."""
    return df.withColumn(
        "geometry",
        F.struct(
            web_mercator_x(F.col(lon)).alias("x"),
            web_mercator_y(F.col(lat)).alias("y"),
        ),
    )


def make_point(df: DataFrame, lon: str = "longitude", lat: str = "latitude") -> DataFrame:
    """S4: (lon, lat) → point struct (reference Point(x, y) construct)."""
    return df.withColumn("geometry", geometry_col(lon, lat))


def null_geometry(df: DataFrame, col: str = "geometry") -> DataFrame:
    """P3: clone records with geometry nulled
    (StatefulStreamingWithMultipleStates.scala:100-114)."""
    return df.withColumn(col, F.lit(None).cast(GEOMETRY_TYPE))


def geodesic_buffer(
    df: DataFrame,
    lon: str = "longitude",
    lat: str = "latitude",
    distance_m: float = 100.0,
    n_points: int = 32,
) -> DataFrame:
    """G2: ~distance_m buffer ring around each point (spherical approximation
    of the reference's geodesic buffer; adequate at 100 m scale where the
    sphere/ellipsoid discrepancy is <0.4%).

    Vectorized numpy over Arrow batches (mapInPandas) — no per-row Python.
    Output: input columns + ``buffer_ring array<struct<x,y>>``.
    """
    from pyspark.sql.types import ArrayType, StructField, StructType

    out_schema = StructType(
        list(df.schema.fields) + [StructField("buffer_ring", ArrayType(GEOMETRY_TYPE))]
    )
    R = 6371008.8  # mean earth radius
    ang = distance_m / R

    def gen(batches):
        import numpy as np

        bearings = np.linspace(0.0, 2.0 * np.pi, n_points, endpoint=False)
        for pdf in batches:
            lat1 = np.radians(pdf[lat].to_numpy())
            lon1 = np.radians(pdf[lon].to_numpy())
            # spherical destination formula, vectorized (n_rows, n_points)
            sin_lat2 = (
                np.sin(lat1)[:, None] * math.cos(ang)
                + np.cos(lat1)[:, None] * math.sin(ang) * np.cos(bearings)[None, :]
            )
            lat2 = np.arcsin(sin_lat2)
            lon2 = lon1[:, None] + np.arctan2(
                np.sin(bearings)[None, :] * math.sin(ang) * np.cos(lat1)[:, None],
                math.cos(ang) - np.sin(lat1)[:, None] * sin_lat2,
            )
            pdf = pdf.copy()
            pdf["buffer_ring"] = [
                [
                    {"x": float(x), "y": float(y)}
                    for x, y in zip(np.degrees(lon2[i]), np.degrees(lat2[i]))
                ]
                for i in range(len(pdf))
            ]
            yield pdf

    return df.mapInPandas(gen, schema=out_schema)


#: G4 tool registry — named transforms with a property map, the whole plugin
#: framework collapses to a dict (ToolRegistry at StreamWithStates.scala:212-219).
TOOLS: dict[str, Callable[..., DataFrame]] = {
    "Projector": project_web_mercator,
    "BufferCreator": geodesic_buffer,
    "MakePoint": make_point,
    "NullGeometry": null_geometry,
}


def apply_tool(df: DataFrame, name: str, **props) -> DataFrame:
    if name not in TOOLS:
        raise KeyError(f"unknown tool {name!r}; registered: {sorted(TOOLS)}")
    return TOOLS[name](df, **props)
