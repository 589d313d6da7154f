"""Geospatial transforms & analysis.

Reference parity: data_transformer/geospatial.py (format conversions :39-458,
location_distance :460-651, geohash ops :653-725, point-in-polygon :727-973,
centroid/weighted_centroid :975-1221, rog_calculation :1223-1333) and
data_analyzer/geospatial_analyzer.py (cluster analysis :390-850, geo stats
:64-313).

Spark-first rework:
- haversine / euclidean / centroid / radius-of-gyration are pure Catalyst
  trig expressions (the reference uses row UDFs, geospatial.py:625-636) —
  whole-stage codegen, scan-speed at 100 TB.
- geohash encode/decode: base-32 bit interleaving as an expression over a
  fixed iteration count (precision ≤ 12) — no UDF.
- point-in-polygon keeps a UDF (ray casting has data-dependent loop length)
  but prefilters with a bounding box expression so the UDF only sees
  bbox-positive rows (reference does the same prefilter driver-side,
  geo_utils.py:368-560).
- cluster analysis: ml.clustering.KMeans (distributed) replaces the
  reference's driver-side sklearn MiniBatchKMeans on sampled pandas.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from anovos_spark.core.utils import local_frame

EARTH_RADIUS_KM = 6371.0088

_GH32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def _rad(c: Column) -> Column:
    return F.radians(c)


def haversine_km(lat1, lon1, lat2, lon2) -> Column:
    """Great-circle distance in km — pure trig expression
    (reference UDF: geospatial.py:625-636, haversine in geo_utils)."""
    dlat = _rad(lat2 - lat1) / 2
    dlon = _rad(lon2 - lon1) / 2
    a = F.pow(F.sin(dlat), 2) + F.cos(_rad(lat1)) * F.cos(_rad(lat2)) * F.pow(
        F.sin(dlon), 2
    )
    return F.lit(2 * EARTH_RADIUS_KM) * F.asin(F.least(F.lit(1.0), F.sqrt(a)))


# WGS-84 ellipsoid (the reference's vincenty_distance uses geopy's WGS-84
# geodesic, geo_utils.py:283-315)
WGS84_A = 6378137.0
WGS84_B = 6356752.314245
WGS84_F = 1.0 / 298.257223563
_WGS84_EP2 = (WGS84_A**2 - WGS84_B**2) / WGS84_B**2  # e'^2


def vincenty_steps(
    lat1: str, lon1: str, lat2: str, lon2: str, iters: int = 6
) -> list[tuple[str, str]]:
    """Vincenty inverse formula on WGS-84, unrolled to a fixed ``iters``
    λ-updates, as an ordered list of ``(column_name, sql_expression)``
    steps — each expression references only input columns and earlier
    step names.  The SAME text compiles under Spark SQL (``F.expr``) and
    DuckDB, so the correctness oracle replays bit-identical arithmetic.

    Six iterations converge to <1e-6 m for non-antipodal pairs (the
    reference's geopy geodesic, geo_utils.py:283-315, iterates to the
    same tolerance); near-antipodal inputs get the 6-step approximant
    instead of geopy's divergence error.  Output step ``v_dist_m`` is
    meters; 0.0 for coincident points.
    """
    f = repr(WGS84_F)
    steps: list[tuple[str, str]] = [
        ("v_u1", f"atan((1.0 - {f}) * tan(radians({lat1})))"),
        ("v_u2", f"atan((1.0 - {f}) * tan(radians({lat2})))"),
        ("v_ll", f"radians({lon2} - {lon1})"),
        ("v_su1", "sin(v_u1)"),
        ("v_cu1", "cos(v_u1)"),
        ("v_su2", "sin(v_u2)"),
        ("v_cu2", "cos(v_u2)"),
        ("v_lam0", "v_ll"),
    ]
    # each round evaluates the trig block at lam{k}; rounds < iters also
    # emit the next lambda.  The final block (k == iters) feeds the
    # distance series.
    for k in range(iters + 1):
        steps += [
            (f"v_sl{k}", f"sin(v_lam{k})"),
            (f"v_cl{k}", f"cos(v_lam{k})"),
            (
                f"v_ss{k}",
                f"sqrt(pow(v_cu2*v_sl{k}, 2) + "
                f"pow(v_cu1*v_su2 - v_su1*v_cu2*v_cl{k}, 2))",
            ),
            (f"v_cs{k}", f"v_su1*v_su2 + v_cu1*v_cu2*v_cl{k}"),
            (f"v_sig{k}", f"atan2(v_ss{k}, v_cs{k})"),
            (
                f"v_sa{k}",
                f"CASE WHEN v_ss{k} = 0.0 THEN 0.0 "
                f"ELSE v_cu1*v_cu2*v_sl{k}/v_ss{k} END",
            ),
            (f"v_c2a{k}", f"1.0 - v_sa{k}*v_sa{k}"),
            (
                f"v_c2m{k}",
                f"CASE WHEN v_c2a{k} = 0.0 THEN 0.0 "
                f"ELSE v_cs{k} - 2.0*v_su1*v_su2/v_c2a{k} END",
            ),
        ]
        if k < iters:
            steps += [
                (
                    f"v_cc{k}",
                    f"{f}/16.0*v_c2a{k}*(4.0 + {f}*(4.0 - 3.0*v_c2a{k}))",
                ),
                (
                    f"v_lam{k + 1}",
                    f"v_ll + (1.0 - v_cc{k})*{f}*v_sa{k}*(v_sig{k} + "
                    f"v_cc{k}*v_ss{k}*(v_c2m{k} + v_cc{k}*v_cs{k}*"
                    f"(-1.0 + 2.0*v_c2m{k}*v_c2m{k})))",
                ),
            ]
    K = iters
    steps += [
        ("v_us", f"v_c2a{K} * {_WGS84_EP2!r}"),
        (
            "v_aa",
            "1.0 + v_us/16384.0*(4096.0 + v_us*(-768.0 + "
            "v_us*(320.0 - 175.0*v_us)))",
        ),
        (
            "v_bb",
            "v_us/1024.0*(256.0 + v_us*(-128.0 + v_us*(74.0 - 47.0*v_us)))",
        ),
        (
            "v_dsig",
            f"v_bb*v_ss{K}*(v_c2m{K} + v_bb/4.0*(v_cs{K}*"
            f"(-1.0 + 2.0*v_c2m{K}*v_c2m{K}) - v_bb/6.0*v_c2m{K}*"
            f"(-3.0 + 4.0*v_ss{K}*v_ss{K})*(-3.0 + 4.0*v_c2m{K}*v_c2m{K})))",
        ),
        (
            "v_dist_m",
            f"CASE WHEN v_ss{K} = 0.0 THEN 0.0 "
            f"ELSE {WGS84_B!r}*v_aa*(v_sig{K} - v_dsig) END",
        ),
    ]
    return steps


def vincenty_km(
    idf: DataFrame, lat1: str, lon1: str, lat2: str, lon2: str, result_col: str
) -> DataFrame:
    """Attach the Vincenty WGS-84 geodesic distance (km) as a pure
    expression battery — no UDF, whole-stage codegen, scan-speed at
    100 TB.  Intermediate step columns are projected away; Catalyst's
    CollapseProject + subexpression elimination fold the chain."""
    out = idf
    for name, expr in vincenty_steps(lat1, lon1, lat2, lon2):
        out = out.withColumn(name, F.expr(expr))
    return out.withColumn(result_col, F.col("v_dist_m") / 1000.0).drop(
        *[n for n, _ in vincenty_steps(lat1, lon1, lat2, lon2)]
    )


def location_distance(
    idf: DataFrame,
    lat1: str,
    lon1: str,
    lat2: str,
    lon2: str,
    method: str = "haversine",
    result_col: str = "distance_km",
) -> DataFrame:
    """Pairwise distance column (reference: geospatial.py:460-651).
    ``haversine``: spherical great-circle (reference default);
    ``vincenty``: exact WGS-84 ellipsoidal geodesic, fixed-unroll
    expression (reference geo_utils.py:283-315 via geopy);
    ``euclidean``: planar."""
    la1, lo1, la2, lo2 = (F.col(c) for c in (lat1, lon1, lat2, lon2))
    if method == "vincenty":
        return vincenty_km(idf, lat1, lon1, lat2, lon2, result_col)
    if method == "haversine":
        d = haversine_km(la1, lo1, la2, lo2)
    elif method == "euclidean":
        d = F.sqrt(F.pow(la2 - la1, 2) + F.pow(lo2 - lo1, 2))
    else:
        raise ValueError("method must be haversine|vincenty|euclidean")
    return idf.withColumn(result_col, d)


def geo_format_cartesian(
    idf: DataFrame, lat_col: str, lon_col: str, prefix: str = "loc"
) -> DataFrame:
    """lat/lon degrees → unit-sphere cartesian x,y,z
    (reference: geospatial.py:190-331)."""
    lat, lon = _rad(F.col(lat_col)), _rad(F.col(lon_col))
    return idf.select(
        *idf.columns,
        (F.cos(lat) * F.cos(lon)).alias(f"{prefix}_x"),
        (F.cos(lat) * F.sin(lon)).alias(f"{prefix}_y"),
        F.sin(lat).alias(f"{prefix}_z"),
    )


def geo_format_radian(idf: DataFrame, list_of_cols) -> DataFrame:
    """Degrees → radians columns (reference: geospatial.py:39-188)."""
    from anovos_spark.core.utils import ensure_list

    cols = ensure_list(list_of_cols)
    return idf.select(
        *idf.columns, *[F.radians(F.col(c)).alias(f"{c}_rad") for c in cols]
    )


def geo_format_dms(idf: DataFrame, list_of_cols) -> DataFrame:
    """Decimal degrees → DMS components ``{c}_sign/{c}_deg/{c}_min/{c}_sec``
    (sign its own column — an integer degree part can't represent −0° for
    coordinates in (−1, 0); reference: geospatial.py:39-188 converts dd↔dms
    via row UDFs — pure expressions here)."""
    from anovos_spark.core.utils import ensure_list

    out = [F.col(c) for c in idf.columns]
    for c in ensure_list(list_of_cols):
        a = F.abs(F.col(c))
        d = F.floor(a)
        m = F.floor((a - d) * 60)
        s = F.round((a - d - m / 60) * 3600, 6)
        out += [
            F.when(F.col(c) < 0, -1).otherwise(1).cast("int").alias(f"{c}_sign"),
            d.cast("int").alias(f"{c}_deg"),
            m.cast("int").alias(f"{c}_min"),
            s.alias(f"{c}_sec"),
        ]
    return idf.select(*out)


def geo_format_dd(
    idf: DataFrame,
    deg_col: str,
    min_col: str,
    sec_col: str,
    result_col: str,
    sign_col: str | None = None,
) -> DataFrame:
    """DMS components → decimal degrees (inverse of geo_format_dms).
    Without ``sign_col`` the sign is taken from the degree part."""
    d, m, s = F.col(deg_col), F.col(min_col), F.col(sec_col)
    sign = (
        F.col(sign_col).cast("double")
        if sign_col
        else F.when(d < 0, -1.0).otherwise(1.0)
    )
    dd = sign * (F.abs(d) + m / 60.0 + s / 3600.0)
    return idf.withColumn(result_col, F.round(dd, 9))


def geohash_encode(
    idf: DataFrame,
    lat_col: str,
    lon_col: str,
    precision: int = 8,
    result_col: str = "geohash",
) -> DataFrame:
    """Geohash base-32 encode as a pure expression (fixed-depth bisection
    per output character; reference uses the python-geohash lib in a UDF,
    geospatial.py:138-153)."""
    if not 1 <= precision <= 12:
        raise ValueError("precision must be 1..12")
    # Quantize lat/lon to fixed-point integers, then read interleaved bits
    # (even global bit = lon, odd = lat, MSB first) — flat O(5·precision)
    # expression, unlike a bisection unroll whose when-chains grow
    # exponentially with depth.
    total_bits = precision * 5
    lon_bits = (total_bits + 1) // 2
    lat_bits = total_bits // 2
    lon_q = F.least(
        F.lit(2**lon_bits - 1),
        F.floor((F.col(lon_col) + 180.0) / 360.0 * F.lit(float(2**lon_bits))),
    ).cast("long")
    lat_q = F.least(
        F.lit(2**lat_bits - 1),
        F.floor((F.col(lat_col) + 90.0) / 180.0 * F.lit(float(2**lat_bits))),
    ).cast("long")

    def global_bit(i: int):
        if i % 2 == 0:
            return F.shiftright(lon_q, lon_bits - 1 - i // 2).bitwiseAND(F.lit(1))
        return F.shiftright(lat_q, lat_bits - 1 - i // 2).bitwiseAND(F.lit(1))

    gh = None
    for k in range(precision):
        val = F.lit(0)
        for j in range(5):
            val = val + global_bit(5 * k + j) * F.lit(2 ** (4 - j))
        ch = F.lit(_GH32).substr(val.cast("int") + F.lit(1), F.lit(1))
        gh = ch if gh is None else F.concat(gh, ch)
    return idf.withColumn(result_col, gh)


def geohash_decode(
    idf: DataFrame,
    geohash_col: str,
    precision: int = 8,
    lat_col: str = "gh_lat",
    lon_col: str = "gh_lon",
) -> DataFrame:
    """Geohash base-32 decode to the cell-center (lat, lon) — the exact
    inverse of geohash_encode's bit interleave, as a pure expression
    (reference ships encode+decode via the python-geohash lib in UDFs,
    geo_utils codec; round-trip is how users validate geohashes).

    Each character's alphabet index contributes 5 global bits (even → lon,
    odd → lat, MSB first); the reassembled fixed-point integers map back to
    the cell center  (q + 0.5) / 2^bits · range − offset.  Fixed-depth
    expression: O(5·precision) ops, no UDF, embarrassingly parallel."""
    if not 1 <= precision <= 12:
        raise ValueError("precision must be 1..12")
    total_bits = precision * 5
    lon_bits = (total_bits + 1) // 2
    lat_bits = total_bits // 2

    # alphabet index of char k (0-based):  instr(_GH32, chr) - 1
    def char_val(k: int):
        return F.expr(f"instr('{_GH32}', substring(`{geohash_col}`, {k + 1}, 1))") - 1

    lon_q = F.lit(0).cast("long")
    lat_q = F.lit(0).cast("long")
    for k in range(precision):
        val = char_val(k)
        for j in range(5):
            gbit = 5 * k + j
            bit = F.shiftright(val, 4 - j).bitwiseAND(F.lit(1)).cast("long")
            if gbit % 2 == 0:
                lon_q = lon_q + bit * F.lit(2 ** (lon_bits - 1 - gbit // 2))
            else:
                lat_q = lat_q + bit * F.lit(2 ** (lat_bits - 1 - gbit // 2))
    lat = (lat_q.cast("double") + 0.5) / F.lit(float(2**lat_bits)) * 180.0 - 90.0
    lon = (lon_q.cast("double") + 0.5) / F.lit(float(2**lon_bits)) * 360.0 - 180.0
    return idf.withColumn(lat_col, F.round(lat, 9)).withColumn(
        lon_col, F.round(lon, 9)
    )


# Approximate country bounding boxes (public-domain geography, coarse):
# name → (lat_min, lat_max, lon_min, lon_max).  The approx containment
# path mirrors the reference's bounding-box fast path (geo_utils.py:799);
# exact containment takes a caller-supplied polygon.
COUNTRY_BBOXES: dict[str, tuple[float, float, float, float]] = {
    "United States": (24.5, 49.4, -125.0, -66.9),
    "Canada": (41.7, 83.1, -141.0, -52.6),
    "Mexico": (14.5, 32.7, -118.4, -86.7),
    "Brazil": (-33.8, 5.3, -73.9, -34.8),
    "Argentina": (-55.1, -21.8, -73.6, -53.6),
    "Peru": (-18.4, -0.0, -81.3, -68.7),
    "Colombia": (-4.2, 12.5, -79.0, -66.9),
    "United Kingdom": (49.9, 58.7, -8.2, 1.8),
    "France": (41.3, 51.1, -5.1, 9.6),
    "Germany": (47.3, 55.1, 5.9, 15.0),
    "Spain": (36.0, 43.8, -9.3, 3.3),
    "Italy": (36.6, 47.1, 6.6, 18.5),
    "Poland": (49.0, 54.8, 14.1, 24.1),
    "Sweden": (55.3, 69.1, 11.1, 24.2),
    "Norway": (58.0, 71.2, 4.6, 31.1),
    "Ukraine": (44.4, 52.4, 22.1, 40.2),
    "Russia": (41.2, 81.9, 19.6, 180.0),
    "Turkey": (35.8, 42.1, 26.0, 44.8),
    "Egypt": (22.0, 31.7, 24.7, 36.9),
    "Nigeria": (4.3, 13.9, 2.7, 14.7),
    "Ethiopia": (3.4, 14.9, 33.0, 48.0),
    "Kenya": (-4.7, 5.5, 33.9, 41.9),
    "South Africa": (-34.8, -22.1, 16.5, 32.9),
    "Algeria": (19.1, 37.1, -8.7, 12.0),
    "Morocco": (27.7, 35.9, -13.2, -1.0),
    "Saudi Arabia": (16.4, 32.2, 34.5, 55.7),
    "Iran": (25.1, 39.8, 44.0, 63.3),
    "Iraq": (29.1, 37.4, 38.8, 48.6),
    "India": (6.7, 35.5, 68.1, 97.4),
    "Pakistan": (23.7, 37.1, 60.9, 77.8),
    "Bangladesh": (20.7, 26.6, 88.0, 92.7),
    "China": (18.2, 53.6, 73.5, 135.1),
    "Japan": (24.2, 45.5, 122.9, 145.8),
    "South Korea": (33.1, 38.6, 125.9, 129.6),
    "Vietnam": (8.6, 23.4, 102.1, 109.5),
    "Thailand": (5.6, 20.5, 97.3, 105.6),
    "Indonesia": (-11.0, 6.1, 95.0, 141.0),
    "Philippines": (4.6, 21.1, 116.9, 126.6),
    "Australia": (-43.6, -10.7, 113.2, 153.6),
    "New Zealand": (-47.3, -34.4, 166.4, 178.6),
}


def location_in_country(
    idf: DataFrame,
    lat_col: str,
    lon_col: str,
    country: str,
    method: str = "approx",
    polygon: list[tuple[float, float]] | None = None,
    result_col: str = "in_country",
) -> DataFrame:
    """Flag rows whose point lies inside a country (reference:
    geospatial.py:814-973; approx bbox path geo_utils.py:799).

    method='approx': pure bounding-box expression — zero shuffle, scan
    speed, the posture for 100 TB prefilters.  method='exact': caller
    supplies the country polygon (public boundary data); runs the
    bbox-prefiltered ray-casting UDF from location_in_polygon, so the UDF
    only ever sees bbox survivors."""
    if method == "approx":
        if country not in COUNTRY_BBOXES:
            raise ValueError(
                f"unknown country '{country}'; known: {sorted(COUNTRY_BBOXES)}"
            )
        lat_min, lat_max, lon_min, lon_max = COUNTRY_BBOXES[country]
        cond = (
            F.col(lat_col).between(lat_min, lat_max)
            & F.col(lon_col).between(lon_min, lon_max)
        )
        return idf.withColumn(result_col, F.coalesce(cond, F.lit(False)))
    if method == "exact":
        if not polygon:
            raise ValueError("method='exact' requires a boundary polygon")
        return location_in_polygon(idf, lat_col, lon_col, polygon, result_col)
    raise ValueError("method must be 'approx' or 'exact'")


def geo_stats_generator(
    idf: DataFrame,
    lat_col: str,
    lon_col: str,
    precisions: tuple[int, ...] = (2, 3, 4),
    top_n: int = 5,
) -> DataFrame:
    """Top-N densest geohash cells at each precision
    (reference: geospatial_analyzer.py:64-313 — their per-precision loops
    of groupBy+toPandas become ONE encode + one groupBy per precision over
    prefixes of the same hash, unioned).

    [precision, cell, n_points, pct_points, rank] — rank by count desc,
    cell asc tie-break (deterministic)."""
    from anovos_spark.core.utils import union_by_name

    max_p = max(precisions)
    hashed = geohash_encode(
        idf.dropna(subset=[lat_col, lon_col]), lat_col, lon_col, precision=max_p
    )
    total = hashed.count()
    frames = []
    for p in sorted(precisions):
        cells = (
            hashed.select(F.substring("geohash", 1, p).alias("cell"))
            .groupBy("cell")
            .agg(F.count(F.lit(1)).alias("n_points"))
        )
        w = Window.orderBy(F.col("n_points").desc(), F.col("cell").asc())
        frames.append(
            cells.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= top_n)
            .select(
                F.lit(p).alias("precision"),
                "cell",
                "n_points",
                F.round(F.col("n_points") / F.lit(total), 6).alias("pct_points"),
                "rank",
            )
        )
    return union_by_name(frames)


def geohash_precision_control(
    idf: DataFrame, geohash_col: str, precision: int, result_col: str | None = None
) -> DataFrame:
    """Truncate geohashes to a coarser precision
    (reference: geospatial.py:653-725 via F.substring)."""
    return idf.withColumn(
        result_col or geohash_col, F.substring(F.col(geohash_col), 1, precision)
    )


def centroid(
    idf: DataFrame, id_col: str, lat_col: str, lon_col: str, weight_col: str | None = None
) -> DataFrame:
    """Spherical centroid per id: mean of cartesian vectors → atan2 back
    (reference: geospatial.py:975-1221).  One groupBy, trig expressions."""
    lat, lon = _rad(F.col(lat_col)), _rad(F.col(lon_col))
    w = F.col(weight_col) if weight_col else F.lit(1.0)
    agg = idf.groupBy(id_col).agg(
        F.sum(F.cos(lat) * F.cos(lon) * w).alias("sx"),
        F.sum(F.cos(lat) * F.sin(lon) * w).alias("sy"),
        F.sum(F.sin(lat) * w).alias("sz"),
        F.sum(w).alias("sw"),
    )
    x, y, z = (F.col(c) / F.col("sw") for c in ("sx", "sy", "sz"))
    hyp = F.sqrt(x * x + y * y)
    return agg.select(
        F.col(id_col),
        F.degrees(F.atan2(z, hyp)).alias(f"{lat_col}_centroid"),
        F.degrees(F.atan2(y, x)).alias(f"{lon_col}_centroid"),
    )


def rog_calculation(
    idf: DataFrame, id_col: str, lat_col: str, lon_col: str
) -> DataFrame:
    """Radius of gyration: mean haversine distance to the id's centroid
    (reference: geospatial.py:1223-1333).  centroid join (broadcast — one
    row per id) + trig expression + one more groupBy."""
    cent = centroid(idf, id_col, lat_col, lon_col)
    joined = idf.join(F.broadcast(cent), id_col, "inner")
    d = haversine_km(
        F.col(lat_col),
        F.col(lon_col),
        F.col(f"{lat_col}_centroid"),
        F.col(f"{lon_col}_centroid"),
    )
    return joined.groupBy(id_col).agg(F.round(F.mean(d), 6).alias("rog_km"))


# Approximate country centroids (public-domain geography; ~1-decimal
# precision is all nearest-centroid assignment needs).  (name, lat, lon).
COUNTRY_CENTROIDS: list[tuple[str, float, float]] = [
    ("United States", 39.8, -98.6),
    ("Canada", 56.1, -106.3),
    ("Mexico", 23.6, -102.6),
    ("Brazil", -10.8, -52.9),
    ("Argentina", -34.0, -64.0),
    ("Peru", -9.2, -75.0),
    ("Colombia", 4.6, -74.1),
    ("United Kingdom", 54.0, -2.0),
    ("France", 46.6, 2.5),
    ("Germany", 51.1, 10.4),
    ("Spain", 40.2, -3.6),
    ("Italy", 42.8, 12.1),
    ("Poland", 52.1, 19.4),
    ("Sweden", 62.8, 16.7),
    ("Norway", 64.6, 11.5),
    ("Ukraine", 48.4, 31.2),
    ("Russia", 61.5, 97.7),
    ("Turkey", 39.0, 35.2),
    ("Egypt", 26.6, 29.8),
    ("Nigeria", 9.6, 8.1),
    ("Ethiopia", 8.6, 39.6),
    ("Kenya", 0.5, 37.9),
    ("South Africa", -29.0, 25.1),
    ("Algeria", 28.2, 2.6),
    ("Morocco", 31.9, -6.3),
    ("Saudi Arabia", 24.1, 44.5),
    ("Iran", 32.6, 54.3),
    ("Iraq", 33.0, 43.8),
    ("India", 22.9, 79.6),
    ("Pakistan", 29.9, 69.4),
    ("Bangladesh", 23.8, 90.2),
    ("China", 36.6, 103.8),
    ("Japan", 36.6, 138.0),
    ("South Korea", 36.4, 127.8),
    ("Vietnam", 16.6, 106.3),
    ("Thailand", 15.1, 101.0),
    ("Indonesia", -2.2, 117.3),
    ("Philippines", 12.9, 122.9),
    ("Australia", -25.7, 134.5),
    ("New Zealand", -41.8, 171.5),
]


def reverse_geocoding(
    idf: DataFrame,
    lat_col: str,
    lon_col: str,
    ref: list[tuple[str, float, float]] | None = None,
    output_col: str = "country",
    with_distance: bool = True,
) -> DataFrame:
    """Offline reverse geocoding: assign each point the nearest reference
    centroid (reference: geospatial.py:1335-1411, which runs the offline
    ``reverse_geocoder`` k-d-tree lib inside a row UDF).

    Spark-first rework: the reference set is small (countries or a
    user-supplied POI list), so the argmin is a pure Catalyst expression —
    ``array_min`` over ``array<struct<dist,name>>`` (struct ordering = by
    distance, name as deterministic tie-break).  Zero shuffle, zero UDF,
    whole-stage-codegen'd; embarrassingly parallel at 100 TB.  For reference
    sets too large to inline (>~500 rows), prefer a broadcast crossJoin +
    ``min_by`` aggregation instead.
    """
    rows = list(ref) if ref is not None else COUNTRY_CENTROIDS
    if len(rows) > 500:
        raise ValueError(
            "inline argmin supports <=500 reference points; "
            "use a broadcast join for larger reference sets"
        )
    la, lo = F.col(lat_col), F.col(lon_col)
    candidates = F.array(
        *[
            F.struct(
                haversine_km(la, lo, F.lit(float(clat)), F.lit(float(clon))).alias("d"),
                F.lit(str(name)).alias("name"),
            )
            for name, clat, clon in rows
        ]
    )
    best = F.array_min(candidates)
    odf = idf.withColumn(output_col, best["name"])
    if with_distance:
        odf = odf.withColumn(f"{output_col}_dist_km", F.round(best["d"], 6))
    return odf


def location_in_polygon(
    idf: DataFrame,
    lat_col: str,
    lon_col: str,
    polygon: list[tuple[float, float]],
    result_col: str = "in_polygon",
) -> DataFrame:
    """Ray-casting point-in-polygon with a bounding-box expression prefilter
    (reference: geospatial.py:727-812, algo geo_utils.py:368-560).

    The polygon is a driver-side list of (lat, lon) vertices, lowered to a
    LITERAL vertex array so the exact ray cast is the same pure-expression
    crossing count spatial_join uses (point_in_polygon_col) — the whole
    operator runs inside whole-stage codegen, zero Python UDFs.  The bbox
    prefilter short-circuits the per-edge work for far-away rows.
    """
    lats = [p[0] for p in polygon]
    lons = [p[1] for p in polygon]
    bbox = (
        (F.col(lat_col) >= min(lats))
        & (F.col(lat_col) <= max(lats))
        & (F.col(lon_col) >= min(lons))
        & (F.col(lon_col) <= max(lons))
    )
    verts = F.array(
        *[
            F.struct(
                F.lit(float(la)).alias("lat"), F.lit(float(lo)).alias("lon")
            )
            for la, lo in polygon
        ]
    )
    inside = point_in_polygon_col(F.col(lat_col), F.col(lon_col), verts)
    return idf.withColumn(
        result_col,
        F.when(bbox, F.coalesce(inside, F.lit(False))).otherwise(F.lit(False)),
    )


def geo_auto_detection(idf: DataFrame) -> dict[str, list[str]]:
    """Detect latitude / longitude / geohash candidate columns by name hint
    + value-range vote (reference: data_ingest/geo_auto_detection.py:177-298
    ll_gh_cols).  ONE aggregation job for all numeric columns.

    Returns {"lat": [...], "lon": [...], "geohash": [...]}.
    """
    from anovos_spark.core.typing import attribute_type_segregation

    num_cols, cat_cols, _ = attribute_type_segregation(idf)
    aggs = []
    for c in num_cols:
        aggs += [
            F.min(c).alias(f"{c}__min"),
            F.max(c).alias(f"{c}__max"),
            F.try_divide(F.count_distinct(c), F.count(c)).alias(f"{c}__card"),
        ]
    gh_re = r"^[0123456789bcdefghjkmnpqrstuvwxyz]{4,12}$"
    for c in cat_cols:
        aggs.append(
            F.avg(F.col(c).rlike(gh_re).cast("double")).alias(f"{c}__gh_rate")
        )
    if not aggs:
        return {"lat": [], "lon": [], "geohash": []}
    row = idf.agg(*aggs).collect()[0]

    out = {"lat": [], "lon": [], "geohash": []}
    for c in num_cols:
        lo, hi, card = row[f"{c}__min"], row[f"{c}__max"], row[f"{c}__card"]
        if lo is None or card is None or card < 0.01:
            continue  # constants/ids-with-few-values aren't coordinates
        name = c.lower()
        if -90 <= lo and hi <= 90 and ("lat" in name or (-90 <= lo < 0 or hi > 20)):
            if "lon" not in name and -90 <= lo and hi <= 90:
                out["lat"].append(c)
        if -180 <= lo and hi <= 180 and ("lon" in name or "lng" in name or hi > 90 or lo < -90):
            out["lon"].append(c)
    for c in cat_cols:
        if (row[f"{c}__gh_rate"] or 0) >= 0.95:
            out["geohash"].append(c)
    return out


def geo_cluster_analysis(
    idf: DataFrame,
    lat_col: str,
    lon_col: str,
    max_k: int = 8,
    seed: int = 42,
    criterion: str = "elbow",
) -> tuple[DataFrame, dict]:
    """KMeans sweep on (lat, lon) via distributed Spark ML
    (reference: geospatial_analyzer.py:390-850 runs driver-side sklearn
    MiniBatchKMeans + silhouette sweeps on a pandas sample — replaced with
    ml.clustering.KMeans / ClusteringEvaluator so both the fit and the
    model-selection metric scale).

    criterion='elbow': keep the smallest k whose marginal cost gain drops
    below 20%.  criterion='silhouette': pick argmax silhouette (squared
    euclidean) — the reference's selection metric, computed distributed.
    Returns (frame with cluster col, {k: score})."""
    try:
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.evaluation import ClusteringEvaluator
        from pyspark.ml.feature import VectorAssembler
    except ImportError as e:  # pragma: no cover
        raise NotImplementedError("pyspark.ml unavailable") from e

    if criterion not in ("elbow", "silhouette"):
        raise ValueError("criterion must be 'elbow' or 'silhouette'")
    if max_k < 2:
        raise ValueError(f"max_k must be >= 2 (got {max_k}): the sweep fits k=2..max_k")
    vec = VectorAssembler(inputCols=[lat_col, lon_col], outputCol="__features__")
    assembled = vec.transform(idf.dropna(subset=[lat_col, lon_col]))
    # The sweep (every fit iteration + every silhouette pass) only reads
    # __features__, so cache THAT projection — the full-width frame would
    # pin every payload column in executor storage and make each KMeans
    # iteration scan bytes it never uses (guide §2.3/§5: don't cache or
    # rescan payload you don't need).  The final labeled output transforms
    # the full `assembled` frame exactly once, outside the cache.
    sweep_frame = assembled.select("__features__")
    sweep_frame.persist()
    n = sweep_frame.count()  # also materializes the persist before the sweep
    if n < 2:
        sweep_frame.unpersist()
        raise ValueError(
            "geo_cluster_analysis needs at least 2 non-null (lat, lon) rows "
            f"(got {n})"
        )
    scores: dict[int, float] = {}
    best_model, best_k = None, None
    evaluator = ClusteringEvaluator(
        featuresCol="__features__", predictionCol="__pred__", metricName="silhouette"
    )
    # Concurrency cap: 8 parallel fit/evaluate chains over the same
    # persisted frame multiply peak executor pressure; 4 keeps most of the
    # scheduling-latency win with half the concurrent working set, and is
    # overridable for bigger boxes.
    raw_workers = os.environ.get("ANOVOS_SPARK_KSWEEP_WORKERS", "4")
    try:
        sweep_workers = max(1, int(raw_workers))
    except ValueError:
        raise ValueError(
            "ANOVOS_SPARK_KSWEEP_WORKERS must be an integer >= 1 "
            f"(got {raw_workers!r})"
        ) from None

    # Fit the k-sweep CONCURRENTLY: each fit is an independent job chain
    # over the same persisted frame, and Spark's scheduler interleaves
    # jobs submitted from separate threads, so the sweep's wall-clock
    # collapses from sum(fits) toward max(fit) — KMeans iterations are
    # short scheduling-latency-bound jobs on persisted data.  Results are
    # unchanged: each (k, seed) fit is deterministic in isolation, and
    # the selection below replays in ascending-k order exactly as the
    # old sequential loop did.
    def _fit_and_score(k: int):
        model = KMeans(
            k=k, seed=seed, featuresCol="__features__", predictionCol="__pred__"
        ).fit(sweep_frame)
        if criterion == "silhouette":
            score = evaluator.evaluate(model.transform(sweep_frame))
        else:
            score = model.summary.trainingCost
        return k, model, score

    from concurrent.futures import ThreadPoolExecutor

    # try/finally so a failed fit/evaluate chain can't leave the assembled
    # frame pinned in the cache for the rest of the session.
    try:
        ks = list(range(2, max_k + 1))
        with ThreadPoolExecutor(max_workers=max(1, min(len(ks), sweep_workers))) as pool:
            fitted = {k: (m, s) for k, m, s in pool.map(_fit_and_score, ks)}

        for k in ks:  # selection replayed in k order (same as sequential)
            model, scores[k] = fitted[k]
            if criterion == "silhouette":
                if best_model is None or scores[k] > scores[best_k]:
                    best_model, best_k = model, k
            else:
                if best_model is None or (
                    scores.get(best_k) and scores[k] < 0.8 * scores[best_k]
                ):
                    best_model, best_k = model, k
        odf = best_model.transform(assembled).withColumnRenamed(
            "__pred__", "cluster"
        ).drop("__features__")
    finally:
        sweep_frame.unpersist()
    return odf, scores


def geo_density_clusters(
    idf: DataFrame,
    lat_col: str,
    lon_col: str,
    eps_km: float = 50.0,
    min_samples: int = 5,
    cluster_col: str = "cluster",
    dense_cell_limit: int = 5_000_000,
) -> tuple[DataFrame, DataFrame]:
    """DBSCAN-style grid density clustering, distributed end-to-end
    (reference: geospatial_analyzer.py:390-850 runs sklearn DBSCAN on a
    driver-side pandas sample — that caps it at the sample; this variant
    scales to the full frame).

    Algorithm: snap points to an eps-sized grid (equirectangular degrees,
    documented approximation), count per cell in ONE groupBy; dense cells
    (count ≥ min_samples) form a graph with their 8-neighbors; connected
    components over the DENSE-CELL graph (sparse cells, whose count
    approaches N at fine eps on a 100 TB table, never enter the
    component step).  Below ``dense_cell_limit`` dense cells the
    components run driver-side (union-find, one collect of the bounded
    dense set); above it they run FULLY DISTRIBUTED through
    dedup.near_dup_components min-label propagation — the 8-neighbor
    adjacency is an equi-join on packed cell coordinates, so a uniformly
    dense planet at fine eps no longer has a driver bottleneck.  Both
    paths label components identically: representative = min (cx, cy)
    cell, cluster id = rank of the representative in sorted order.

    Border handling (DBSCAN semantics: sparse-cell points adjacent to a
    dense cell join that cluster, min label for determinism) happens
    distributed: the dense label frame explodes into its 3×3 neighbor
    halo and points equi-join it (broadcast on the driver path, plain
    hash join on the distributed path) — adjacent dense cells share a
    component label by construction, so min-over-halo never relabels a
    dense cell.  Points with no dense neighbor get cluster −1 (noise).

    Returns (points with cluster_col, stats [cluster, n_points]).
    """
    eps_deg = eps_km / 111.32
    cx = F.floor(F.col(lon_col) / F.lit(eps_deg)).cast("long")
    cy = F.floor(F.col(lat_col) / F.lit(eps_deg)).cast("long")
    pts = idf.dropna(subset=[lat_col, lon_col]).withColumn(
        "__cx__", cx
    ).withColumn("__cy__", cy)
    cells = pts.groupBy("__cx__", "__cy__").agg(F.count(F.lit(1)).alias("n"))
    dense_df = cells.where(F.col("n") >= int(min_samples)).select(
        "__cx__", "__cy__"
    )
    n_dense = dense_df.count()
    spark = idf.sparkSession
    small = n_dense <= int(dense_cell_limit)
    if small:
        # union-find over dense cells (driver-side; |dense| bounded by
        # dense_cell_limit — the distributed branch takes over beyond it)
        dense = [(r["__cx__"], r["__cy__"]) for r in dense_df.collect()]
        parent = {c: c for c in dense}

        def find(c):
            while parent[c] != c:
                parent[c] = parent[parent[c]]
                c = parent[c]
            return c

        dense_set = set(dense)
        for (x, y) in dense:
            for dx in (-1, 0, 1):
                for dy in (-1, 0, 1):
                    nb = (x + dx, y + dy)
                    if nb != (x, y) and nb in dense_set:
                        ra, rb = find((x, y)), find(nb)
                        if ra != rb:
                            parent[rb] = ra
        # representative = MIN cell of each component (matches the
        # distributed min-label path bit-for-bit), cluster id = rank of
        # the representative in sorted (cx, cy) order
        min_of_root: dict = {}
        for c in dense:
            r = find(c)
            if r not in min_of_root or c < min_of_root[r]:
                min_of_root[r] = c
        root_id = {m: i for i, m in enumerate(sorted(min_of_root.values()))}
        labels = [(x, y, root_id[min_of_root[find((x, y))]]) for (x, y) in dense]
        label_df = local_frame(spark, labels, "__cx__ long, __cy__ long, __lbl__ int")
    else:
        label_df = _dense_labels_distributed(dense_df)
    # distributed border labeling: explode each dense cell's label into
    # its 9-cell halo, min per cell (9·|dense| rows, broadcastable
    # whenever the union-find itself was feasible)
    offsets = F.array(*[
        F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
        for dx in (-1, 0, 1)
        for dy in (-1, 0, 1)
    ])
    halo = (
        label_df.select(
            F.explode(offsets).alias("__o__"), "__cx__", "__cy__", "__lbl__"
        )
        .select(
            (F.col("__cx__") + F.col("__o__.dx")).alias("__cx__"),
            (F.col("__cy__") + F.col("__o__.dy")).alias("__cy__"),
            "__lbl__",
        )
        .groupBy("__cx__", "__cy__")
        .agg(F.min("__lbl__").alias("__lbl__"))
    )
    halo_side = F.broadcast(halo) if small else halo
    odf = (
        pts.join(halo_side, ["__cx__", "__cy__"], "left_outer")
        .withColumn(cluster_col, F.coalesce(F.col("__lbl__"), F.lit(-1)))
        .drop("__cx__", "__cy__", "__lbl__")
    )
    stats = odf.groupBy(cluster_col).agg(F.count(F.lit(1)).alias("n_points"))
    return odf, stats


def _dense_labels_distributed(dense_df: DataFrame) -> DataFrame:
    """Distributed connected components over the dense-cell 8-neighbor
    graph → [__cx__, __cy__, __lbl__] with cluster ids 0..k−1 ranked by
    each component's minimum (cx, cy) cell — identical labeling to the
    driver union-find path.

    Cell coords pack into one long — (cx+2³⁰)·2³¹ + (cy+2³⁰) — whose
    numeric order IS the (cx, cy) lexicographic order, so
    dedup.near_dup_components' min-label propagation directly yields the
    min-cell representative.  Adjacency is an equi-join of the 8-neighbor
    halo against the dense set (no cartesian); isolated dense cells
    (no dense neighbor) keep themselves as representative.  The final
    0..k−1 renumbering is a rank window over the DISTINCT-ROOTS frame
    only — bounded by the number of clusters, not cells."""
    from pyspark.sql.window import Window

    from anovos_spark.operators.dedup import near_dup_components

    OFF = 1 << 30
    MUL = 1 << 31
    packed = (
        (F.col("__cx__") + F.lit(OFF)) * F.lit(MUL)
        + (F.col("__cy__") + F.lit(OFF))
    ).alias("cell")
    d = dense_df.select("__cx__", "__cy__", packed)
    nbr_offsets = F.array(*[
        F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
        for dx in (-1, 0, 1)
        for dy in (-1, 0, 1)
        if (dx, dy) != (0, 0)
    ])
    probes = d.select(
        F.col("cell").alias("id_a"),
        F.explode(nbr_offsets).alias("__o__"),
        "__cx__", "__cy__",
    ).select(
        "id_a",
        (F.col("__cx__") + F.col("__o__.dx")).alias("__cx__"),
        (F.col("__cy__") + F.col("__o__.dy")).alias("__cy__"),
    )
    edges = probes.join(
        d.select("__cx__", "__cy__", F.col("cell").alias("id_b")),
        ["__cx__", "__cy__"],
    ).select("id_a", "id_b")
    # grid graphs can be snake-shaped (diameter ≈ cell count); the
    # propagation uses pointer doubling, so rounds ≈ log2(diameter) —
    # 64 covers any physically possible cell count, and the helper
    # raises rather than returning split components if it ever fails
    # to reach the fixpoint.
    comp = near_dup_components(edges, "id_a", "id_b", max_iter=64)
    labeled = d.join(
        comp.withColumnRenamed("id", "cell"), "cell", "left_outer"
    ).select(
        "__cx__", "__cy__",
        F.coalesce("component", F.col("cell")).alias("root"),
    )
    roots = labeled.select("root").distinct()
    rank_w = Window.orderBy("root")
    root_ids = roots.select(
        "root", (F.row_number().over(rank_w) - 1).cast("int").alias("__lbl__")
    )
    return labeled.join(root_ids, "root").select("__cx__", "__cy__", "__lbl__")


def point_in_polygon_col(
    lat_col: Column, lon_col: Column, vertices_col: Column
) -> Column:
    """Pure-EXPRESSION ray-casting point-in-polygon (no UDF): vertices is
    an ``array<struct<lat:double, lon:double>>``; the crossing count of a
    +longitude ray against each edge computes inside whole-stage codegen.
    Supersedes the UDF path for polygon COLUMNS (location_in_polygon
    keeps the driver-side-polygon convenience API).

    Classification of points EXACTLY on a polygon edge or vertex is
    unspecified (standard for crossing-count ray casts — which side a
    boundary point lands on depends on float rounding of the edge
    intersection)."""
    v = vertices_col
    n = F.size(v)
    idxs = F.sequence(F.lit(1), n)

    def crossing(i):
        a = F.element_at(v, i)
        b = F.element_at(v, (i % n) + 1)
        straddles = (a["lat"] > lat_col) != (b["lat"] > lat_col)
        x_at = (
            (b["lon"] - a["lon"]) * (lat_col - a["lat"]) / (b["lat"] - a["lat"])
            + a["lon"]
        )
        # x_at divides by (b.lat - a.lat), which is 0 for horizontal
        # edges; straddles is always false there, and CaseWhen evaluates
        # branches lazily per-row, so the guarded form never computes the
        # division at all (previously relied on doubles not raising and
        # the Inf comparing false — correct but fragile, ADVICE r9)
        return F.when(straddles, lon_col < x_at).otherwise(F.lit(False))

    return F.pmod(F.size(F.filter(idxs, crossing)), F.lit(2)) == 1


def spatial_join(
    points: DataFrame,
    polygons: DataFrame,
    lat_col: str,
    lon_col: str,
    vertices_col: str = "vertices",
    cell_deg: float | None = None,
    how: str = "inner",
) -> DataFrame:
    """Points × polygons containment join at scale: polygons explode onto
    a fixed degree grid covering their bounding box, points hash to their
    single cell, and the physical plan is a plain equi-join on
    (cell_lat, cell_lon) followed by the bbox filter and the exact
    expression ray cast — never a BroadcastNestedLoopJoin over the
    polygon set, and the PIP test runs only on grid-colocated candidates.

    ``cell_deg`` defaults to the largest polygon bbox extent (one scalar
    agg, so each polygon covers at most 4 cells); set it explicitly when
    polygon sizes are skewed (continent + city polygons together would
    set a huge grid — split tiers, same guidance as range_join buckets).
    how='inner' emits matched pairs; 'left' keeps unmatched points with
    null polygon columns (matched pairs plus an anti-join of the points
    against the matched ids — still equi-join-only, no BNLJ).
    """
    if how not in ("inner", "left"):
        raise ValueError("how must be 'inner' or 'left'")
    v = F.col(vertices_col)
    lat_min = F.array_min(F.transform(v, lambda s: s["lat"]))
    lat_max = F.array_max(F.transform(v, lambda s: s["lat"]))
    lon_min = F.array_min(F.transform(v, lambda s: s["lon"]))
    lon_max = F.array_max(F.transform(v, lambda s: s["lon"]))
    if cell_deg is None:
        m = polygons.agg(
            F.max(F.greatest(lat_max - lat_min, lon_max - lon_min))
        ).collect()[0][0]
        cell_deg = max(float(m or 1.0), 1e-6)
    c = F.lit(float(cell_deg))

    polys = (
        polygons.withColumn("__la__", F.explode(
            F.sequence(F.floor(lat_min / c), F.floor(lat_max / c))
        ))
        .withColumn("__lo__", F.explode(
            F.sequence(F.floor(lon_min / c), F.floor(lon_max / c))
        ))
    )
    pts = points.withColumn(
        "__la__", F.floor(F.col(lat_col) / c)
    ).withColumn("__lo__", F.floor(F.col(lon_col) / c))

    contained = point_in_polygon_col(F.col(lat_col), F.col(lon_col), v)
    if how == "inner":
        return (
            pts.join(polys, on=["__la__", "__lo__"], how="inner")
            .where(contained)
            .drop("__la__", "__lo__")
        )
    # left: matched pairs + anti-join of the points against the matched
    # point VALUES with null-safe equality — same pattern as
    # temporal.range_join how='left'.  No synthetic row id: a
    # monotonically_increasing_id referenced from two plan subtrees is only
    # stable when the upstream plan is deterministic, and the caller's
    # `points` may contain a shuffle/sample stage.  EqualNullSafe keys
    # still plan as a hash equi-join, and left_anti preserves the
    # multiplicity of duplicate unmatched point rows.
    matched = (
        pts.join(polys, on=["__la__", "__lo__"], how="inner")
        .where(contained)
        .drop("__la__", "__lo__")
    )
    m_pts = matched.select(*points.columns).distinct().alias("__m__")
    p_al = points.alias("__p__")
    anti_cond = None
    for col in points.columns:
        eq = F.col(f"__p__.{col}").eqNullSafe(F.col(f"__m__.{col}"))
        anti_cond = eq if anti_cond is None else anti_cond & eq
    unmatched = p_al.join(m_pts, on=anti_cond, how="left_anti")
    for fld in polygons.schema.fields:
        unmatched = unmatched.withColumn(
            fld.name, F.lit(None).cast(fld.dataType)
        )
    return matched.unionByName(unmatched.select(*matched.columns))
