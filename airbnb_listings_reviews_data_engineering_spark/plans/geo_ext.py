"""Geospatial operators: distance rings, grid-blocked radius joins,
and anchor kNN.

The reference's domain is Airbnb LISTINGS — geo queries ("what's near
this point", "pair listings within walking distance") are the natural
next question its users ask (reference data model: listings.csv's
latitude/longitude columns, stripped from the test fixtures). The
driver tables carry no coordinates, so each point derives
DETERMINISTICALLY from its row key via the cross-engine md5 hash
(functions/hashing.py): lat in [-60, 60), lon in [-180, 180) — the
oracle derives the identical points, so distances are bitwise
comparable after round(4) (verified: 0/2000 mismatches Spark vs DuckDB
on the full haversine).

Scale design:
- distance math is pure column arithmetic (whole-stage codegen);
- the radius self-join NEVER goes all-pairs: candidates come from an
  equi-join on a 3-degree grid cell, with one side exploded to its 3x3
  neighbor cells (9x map-side fan-out, dateline-wrapped via pmod) — the
  standard grid spatial join; cell size is chosen so the 150 km radius
  cannot cross more than one cell boundary at any latitude <= 60;
- anchor kNN is ORDER BY distance LIMIT k -> TakeOrderedAndProject
  (per-partition top-k heaps, no global sort).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import hash60, hash60_duckdb_sql
from .registry import load, register

# ---------------------------------------------------------------------------
# deterministic point derivation + haversine (shared)
# ---------------------------------------------------------------------------

_R_KM = 6371.0


def _point(key: Column) -> tuple[Column, Column]:
    """(lat, lon) derived from a string key: lat in [-60, 60) at 1e-4
    degree resolution, lon in [-180, 180)."""
    lat = (
        F.pmod(hash60(F.concat(F.lit("lat:"), key)), F.lit(1200000)) / 10000.0
        - 60
    )
    lon = (
        F.pmod(hash60(F.concat(F.lit("lon:"), key)), F.lit(3600000)) / 10000.0
        - 180
    )
    return lat, lon


def _point_sql(key_expr: str) -> tuple[str, str]:
    h_lat = hash60_duckdb_sql(f"'lat:' || {key_expr}")
    h_lon = hash60_duckdb_sql(f"'lon:' || {key_expr}")
    return (
        f"({h_lat} % 1200000) / 10000.0 - 60",
        f"({h_lon} % 3600000) / 10000.0 - 180",
    )


def _haversine(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Great-circle distance in km (haversine; both engines' libm agree
    bitwise at round(4) over the derived point population)."""
    dlat = F.radians(lat2 - lat1) / 2
    dlon = F.radians(lon2 - lon1) / 2
    a = F.pow(F.sin(dlat), 2) + F.cos(F.radians(lat1)) * F.cos(
        F.radians(lat2)
    ) * F.pow(F.sin(dlon), 2)
    return 2 * _R_KM * F.asin(F.sqrt(a))


def _haversine_sql(lat1: str, lon1: str, lat2: str, lon2: str) -> str:
    return (
        f"2 * {_R_KM} * asin(sqrt("
        f"pow(sin(radians(({lat2}) - ({lat1})) / 2), 2) + "
        f"cos(radians({lat1})) * cos(radians({lat2})) * "
        f"pow(sin(radians(({lon2}) - ({lon1})) / 2), 2)))"
    )


# ---------------------------------------------------------------------------
# distance rings around an anchor
# ---------------------------------------------------------------------------

_ANCHOR_LAT, _ANCHOR_LON = 48.85, 2.35  # Paris

_C_LAT, _C_LON = _point_sql("CAST(c_custkey AS VARCHAR)")
_D_ANCHOR = _haversine_sql(str(_ANCHOR_LAT), str(_ANCHOR_LON), "lat", "lon")

_RINGS_SQL = f"""
WITH p AS (
  SELECT c_custkey, c_mktsegment, {_C_LAT} AS lat, {_C_LON} AS lon
  FROM customer
), d AS (
  SELECT c_custkey, c_mktsegment, round({_D_ANCHOR}, 4) AS d_km FROM p
)
SELECT CAST(floor(d_km / 2000) AS BIGINT) AS ring, c_mktsegment,
       count(*) AS n, round(min(d_km), 4) AS min_km, round(max(d_km), 4) AS max_km
FROM d GROUP BY 1, 2
"""


@register("geo_dist_rings", oracle=_RINGS_SQL)
def geo_dist_rings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distance-ring report: every customer point's haversine distance
    to a fixed anchor, bucketed into 2000 km rings and counted per
    (ring, segment). The distance is pure map-side column arithmetic
    inside whole-stage codegen — no UDF, no join; the only shuffle is
    the final small aggregate. This is the 'how far is the inventory
    from the city center' histogram at any table size."""
    c = load(spark, sf_dir, "customer")
    lat, lon = _point(F.col("c_custkey").cast("string"))
    d = c.select(
        "c_custkey",
        "c_mktsegment",
        F.round(
            _haversine(F.lit(_ANCHOR_LAT), F.lit(_ANCHOR_LON), lat, lon), 4
        ).alias("d_km"),
    )
    return (
        d.groupBy(
            F.floor(F.col("d_km") / 2000).cast("bigint").alias("ring"),
            "c_mktsegment",
        )
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("d_km"), 4).alias("min_km"),
            F.round(F.max("d_km"), 4).alias("max_km"),
        )
    )


# ---------------------------------------------------------------------------
# grid-blocked radius self-join
# ---------------------------------------------------------------------------

_CELL_DEG = 3  # 150 km <= 2.7 lon-degrees at |lat|=60, < one 3-degree cell
_RADIUS_KM = 150.0

_PAIR_D = _haversine_sql("a.lat", "a.lon", "b.lat", "b.lon")

_GRID_JOIN_SQL = f"""
WITH p AS (
  SELECT c_custkey AS k, {_C_LAT} AS lat, {_C_LON} AS lon FROM customer
), cells AS (
  SELECT k, lat, lon,
         CAST(floor((lat + 60) / {_CELL_DEG}) AS BIGINT) AS cy,
         CAST(floor((lon + 180) / {_CELL_DEG}) AS BIGINT) AS cx
  FROM p
), probes AS (
  SELECT k, lat, lon, cy + dy.d AS py,
         ((cx + dx.d) % 120 + 120) % 120 AS px
  FROM cells, (VALUES (-1), (0), (1)) dy(d), (VALUES (-1), (0), (1)) dx(d)
)
SELECT a.k AS key_a, b.k AS key_b, round({_PAIR_D}, 4) AS d_km
FROM probes a JOIN cells b
  ON a.py = b.cy AND a.px = b.cx AND a.k < b.k
WHERE {_PAIR_D} <= {_RADIUS_KM}
"""


def _cell_pairs(c: DataFrame, pair: Column) -> tuple[DataFrame, Column]:
    """Candidate pairs among the customers ``c``: probe side ``a``, each
    point exploded to its 3x3 neighbour grid cells (longitude wrapped at
    the dateline via pmod), equi-joined on the cell id to point side
    ``b`` where ``pair`` holds. Also returns the exact haversine
    distance between the two points."""
    lat, lon = _point(F.col("c_custkey").cast("string"))
    pts = c.select(
        F.col("c_custkey").alias("k"), lat.alias("lat"), lon.alias("lon")
    ).withColumns(
        {
            "cy": F.floor((F.col("lat") + 60) / _CELL_DEG).cast("bigint"),
            "cx": F.floor((F.col("lon") + 180) / _CELL_DEG).cast("bigint"),
        }
    )
    offsets = F.array(*[F.lit(i) for i in (-1, 0, 1)])
    probes = (
        pts.withColumn("dy", F.explode(offsets))
        .withColumn("dx", F.explode(offsets))
        .select(
            "k",
            "lat",
            "lon",
            (F.col("cy") + F.col("dy")).alias("py"),
            F.pmod(F.col("cx") + F.col("dx"), F.lit(120)).alias("px"),
        )
    )
    a, b = probes.alias("a"), pts.alias("b")
    pairs = a.join(
        b,
        (F.col("a.py") == F.col("b.cy"))
        & (F.col("a.px") == F.col("b.cx"))
        & pair,
    )
    d = _haversine(
        F.col("a.lat"), F.col("a.lon"), F.col("b.lat"), F.col("b.lon")
    )
    return pairs, d


@register("geo_grid_join", oracle=_GRID_JOIN_SQL)
def geo_grid_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius self-join ('all listing pairs within 150 km') via GRID
    BLOCKING — the spatial analog of the LSH band join, never all-pairs:
    each point lands in one 3-degree cell; the probe side explodes to
    its 3x3 neighbor cells (a fixed 9x map-side fan-out, longitude
    wrapped at the dateline via pmod) and candidates come from the
    EQUI-join on the cell id; the exact haversine then verifies inside
    blocks only. Cell size is chosen so two points within the radius
    can never be more than one cell apart at any latitude the data
    contains (|lat| <= 60: 150 km <= 2.7 lon-degrees < 3). At 100 TB
    the cell id is the shuffle key — candidate count scales with local
    density, not n^2; skewed megacity cells are one hot key, handled
    like any skew join (salting / AQE). a.k < b.k canonicalizes pairs."""
    c = load(spark, sf_dir, "customer")
    pairs, d = _cell_pairs(c, F.col("a.k") < F.col("b.k"))
    return (
        pairs.filter(d <= _RADIUS_KM)
        .select(
            F.col("a.k").alias("key_a"),
            F.col("b.k").alias("key_b"),
            F.round(d, 4).alias("d_km"),
        )
    )


# ---------------------------------------------------------------------------
# anchor kNN
# ---------------------------------------------------------------------------

_KNN_SQL = f"""
WITH p AS (
  SELECT c_custkey, {_C_LAT} AS lat, {_C_LON} AS lon FROM customer
), d AS (
  SELECT c_custkey, round({_D_ANCHOR}, 4) AS d_km FROM p
)
SELECT c_custkey, d_km FROM d ORDER BY d_km, c_custkey LIMIT 10
"""


@register("geo_knn_anchor", oracle=_KNN_SQL)
def geo_knn_anchor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k nearest points to an anchor (k=10): map-side haversine +
    ORDER BY distance LIMIT k, which Spark executes as
    TakeOrderedAndProject — each partition keeps a k-row heap and the
    driver merges heaps; no global sort, no shuffle of the table. The
    key tie-break makes the frontier deterministic when distances tie.
    This is the serving-adjacent 'nearest listings to this point' query;
    the batch shape (every query point at once) is geo_grid_join."""
    c = load(spark, sf_dir, "customer")
    lat, lon = _point(F.col("c_custkey").cast("string"))
    return (
        c.select(
            "c_custkey",
            F.round(
                _haversine(F.lit(_ANCHOR_LAT), F.lit(_ANCHOR_LON), lat, lon), 4
            ).alias("d_km"),
        )
        .orderBy("d_km", "c_custkey")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# point-in-polygon (convex, exact integer arithmetic)
# ---------------------------------------------------------------------------

# Convex quadrilateral (counter-clockwise) roughly covering western
# Europe, in 1e-4-degree integer units (the derived points' native
# resolution — so every cross product is EXACT int64 arithmetic).
_POLY = ((-100000, 350000), (200000, 350000), (250000, 600000), (-50000, 600000))

_PIP_TERMS_SQL = " AND ".join(
    f"(({x2} - {x1}) * (py - {y1}) - ({y2} - {y1}) * (px - {x1})) >= 0"
    for (x1, y1), (x2, y2) in zip(_POLY, _POLY[1:] + _POLY[:1])
)

_PIP_SQL = f"""
WITH p AS (
  SELECT c_custkey, c_mktsegment, {_C_LAT} AS lat, {_C_LON} AS lon
  FROM customer
), q AS (
  SELECT c_custkey, c_mktsegment,
         CAST(round(lon * 10000) AS BIGINT) AS px,
         CAST(round(lat * 10000) AS BIGINT) AS py
  FROM p
)
SELECT c_mktsegment, count(*) AS n_inside,
       min(c_custkey) AS min_key, max(c_custkey) AS max_key
FROM q WHERE {_PIP_TERMS_SQL}
GROUP BY c_mktsegment
"""


@register("geo_point_in_polygon", oracle=_PIP_SQL)
def geo_point_in_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-polygon containment for a convex region ('listings
    inside this city boundary') — real computational geometry as pure
    column arithmetic: a point is inside a counter-clockwise convex
    polygon iff every edge's cross product (edge x point-offset) is
    >= 0. Coordinates quantize to the derivation's native 1e-4-degree
    integer grid first, so every cross product is EXACT int64 math —
    no float sign flips at the boundary, bitwise identical in both
    engines. Map-side filter + small aggregate; at 100 TB a polygon
    SET becomes a broadcast polygon table joined after a grid-cell
    prefilter (geo_grid_join's blocking), same arithmetic inside."""
    c = load(spark, sf_dir, "customer")
    lat, lon = _point(F.col("c_custkey").cast("string"))
    q = c.select(
        "c_custkey",
        "c_mktsegment",
        F.round(lon * 10000).cast("bigint").alias("px"),
        F.round(lat * 10000).cast("bigint").alias("py"),
    )
    cond = None
    for (x1, y1), (x2, y2) in zip(_POLY, _POLY[1:] + _POLY[:1]):
        term = (
            (F.lit(x2 - x1) * (F.col("py") - F.lit(y1)))
            - (F.lit(y2 - y1) * (F.col("px") - F.lit(x1)))
        ) >= 0
        cond = term if cond is None else (cond & term)
    return (
        q.filter(cond)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_inside"),
            F.min("c_custkey").alias("min_key"),
            F.max("c_custkey").alias("max_key"),
        )
    )


# ---------------------------------------------------------------------------
# grid-blocked kNN join (top-3 neighbors per point)
# ---------------------------------------------------------------------------

_KNN_JOIN_SQL = f"""
WITH p AS (
  SELECT c_custkey AS k, {_C_LAT} AS lat, {_C_LON} AS lon FROM customer
  WHERE c_custkey < 600
), cells AS (
  SELECT k, lat, lon,
         CAST(floor((lat + 60) / {_CELL_DEG}) AS BIGINT) AS cy,
         CAST(floor((lon + 180) / {_CELL_DEG}) AS BIGINT) AS cx
  FROM p
), probes AS (
  SELECT k, lat, lon, cy + dy.d AS py,
         ((cx + dx.d) % 120 + 120) % 120 AS px
  FROM cells, (VALUES (-1), (0), (1)) dy(d), (VALUES (-1), (0), (1)) dx(d)
), cand AS (
  SELECT a.k AS key_a, b.k AS key_b, round({_PAIR_D}, 4) AS d_km,
         row_number() OVER (PARTITION BY a.k
                            ORDER BY round({_PAIR_D}, 4), b.k) AS rn
  FROM probes a JOIN cells b
    ON a.py = b.cy AND a.px = b.cx AND a.k <> b.k
  WHERE {_PAIR_D} <= {_RADIUS_KM}
)
SELECT key_a, key_b, d_km, CAST(rn AS INT) AS rank
FROM cand WHERE rn <= 3
"""


@register("geo_knn_join", oracle=_KNN_JOIN_SQL)
def geo_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-blocked kNN JOIN: each point's 3 nearest neighbors within
    the 150 km radius — the batch 'nearest listings for every listing'
    shape. Candidates come from the same 3x3 grid-cell equi-join as
    geo_grid_join (provably exhaustive within the radius, so the k
    nearest inside the radius are exact, never approximate); the
    per-point top-3 is a window over the CANDIDATE set (bounded by
    local density, not the corpus), ranked on the ROUNDED distance so
    the frontier tie-break is cross-engine stable. Point set capped at
    gate SF for output size; the plan shape is density-bounded at any
    corpus."""
    c = load(spark, sf_dir, "customer").filter(F.col("c_custkey") < 600)
    pairs, raw = _cell_pairs(c, F.col("a.k") != F.col("b.k"))
    from pyspark.sql import Window as W

    w = W.partitionBy("key_a").orderBy("d_km", "key_b")
    return (
        pairs.filter(raw <= _RADIUS_KM)
        .select(
            F.col("a.k").alias("key_a"),
            F.col("b.k").alias("key_b"),
            F.round(raw, 4).alias("d_km"),
        )
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 3)
    )
