"""Geospatial-lite operators: grid-cell blocking + haversine distance —
the proximity-join family (store/customer catchment, fraud co-location,
geo dedup). The testdata carries no coordinates, so both engines derive
deterministic synthetic lat/lon from c_custkey with EXACT integer
arithmetic (multiply, mod, DIV — no float floor anywhere), the same
device as the md5-uniform sampling family: the derivation is part of
the query text, so the oracle sees identical inputs.

Trig portability: sin/cos/asin differ between the JVM and libm in the
last ulps, so raw radians never cross engines — the haversine distance
rounds to integer METERS (round is the comparison point AND the cutoff
test in both engines). At earth scale a double's relative error leaves
~1e-10 m of absolute noise, ten orders under the half-meter rounding
quantum — the same knife-edge class the tfidf ln-contract documents.

At 100 TB: the join is grid-BLOCKED — each left row explodes to its
3x3 neighbor cells (a constant fan-out) and meets only same-cell
rights via an equi-join on the cell id, so the shuffle is
O(rows x 9) keyed by cell, never all-pairs; a hot cell (urban density
skew) rides AQE skew-split like every hot-key join. Cell size 1 degree
>= the 50 km radius guarantees no missed LATITUDE neighbor anywhere,
but one degree of LONGITUDE shrinks with cos(lat) and drops below
50 km above ~63 degrees latitude — so the LONGITUDE fan-out widens
per row with ceil(0.46 / cos(lat)) + 1 neighbor columns
(blocked_pairs._LON_FANOUT), keeping the blocking pair-complete up to
the 89-degree clamp (poleward of that, use a polar cap cell). The
fan-out is still a small per-row constant (<= 3 x 13 cells at 85
degrees). The antimeridian seam remains excluded by construction of
the synthetic longitudes; real data spanning it needs a modular cell
index.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..graph.fixpoint import keep
from ..io.sources import load_table

GEO_RADIUS_M = 50_000
EARTH_R_M = 6_371_000.0

# Clustered synthetic geography: each customer belongs to one of 40
# "cities" (custkey % 40) whose center comes from the city id, plus a
# +-0.3 degree per-customer jitter — so ~35 same-city customers land
# within ~0-70 km of each other and the 50 km cutoff separates real
# cases (a uniform lattice yields zero pairs at this density; measured).
# All centidegrees: scaled-int arithmetic only, lat in [-85, 83.6].
_LAT_SCALED = (
    "((c_custkey % 40) * 7919) % 16800 + (c_custkey * 48271) % 60"
)
_LON_SCALED = (
    "((c_custkey % 40) * 104729) % 35700 + (c_custkey * 69621) % 60"
)


def geo_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customers -> (pid, lat, lon, cell_lat, cell_lon); cells are 1-deg
    integer boxes computed with integer DIV on the scaled value BEFORE
    the float division, so no float floor exists."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        F.col("c_custkey").alias("pid"),
        F.expr(f"CAST({_LAT_SCALED} AS DOUBLE) / 100.0 - 85.0").alias("lat"),
        F.expr(f"CAST({_LON_SCALED} AS DOUBLE) / 100.0 - 179.0").alias("lon"),
        F.expr(f"({_LAT_SCALED}) DIV 100").alias("cell_lat"),
        F.expr(f"({_LON_SCALED}) DIV 100").alias("cell_lon"),
    )


_HAVERSINE = (
    "round(2.0 * {r} * asin(sqrt("
    " pow(sin(radians(({lat2}) - ({lat1})) / 2.0), 2.0)"
    " + cos(radians({lat1})) * cos(radians({lat2}))"
    " * pow(sin(radians(({lon2}) - ({lon1})) / 2.0), 2.0))))"
)


# Longitude fan-out: 50 km of longitude spans 0.4492 deg / cos(lat); the
# 0.46 numerator, the +0.45 deg latitude slack (the partner may sit up
# to 50 km poleward), the ceil, and the +1 cell absorb cell-boundary
# quantization and the east-west/great-circle gap with margin. Clamped
# at 89 deg — poleward of that a grid block is the wrong structure
# (use a polar cap cell); the synthetic data tops out at 85.
_LON_FANOUT = (
    "CAST(CEIL(0.46 / COS(RADIANS(LEAST(ABS({lat}) + 0.45, 89.0)))) AS INT)"
    " + 1"
)


def blocked_pairs(pts: DataFrame) -> DataFrame:
    """Grid-blocked radius join over (pid, lat, lon, cell_lat,
    cell_lon) points: one row per unordered pair within GEO_RADIUS_M.

    The latitude fan-out is the fixed +-1 cell (1 deg >= 50 km of
    latitude everywhere); the LONGITUDE fan-out widens with
    1/cos(lat) per row (_LON_FANOUT), so the blocking stays
    pair-complete at high latitudes where 1 deg of longitude shrinks
    below the radius — the general-data fix for the documented ~63 deg
    bound of a fixed 3x3 scheme (tests/test_geo_blocking.py pins a
    78-deg pair that a 3x3 would drop). Fan-out stays a small constant
    per row (<= 3 x 13 cells at 85 deg), so the shuffle remains
    O(rows x fanout) keyed by cell.
    """
    w = F.expr(_LON_FANOUT.format(lat="lat"))
    left = pts.select(
        F.col("pid").alias("a_id"),
        F.col("lat").alias("a_lat"),
        F.col("lon").alias("a_lon"),
        F.explode(
            F.expr("sequence(cell_lat - 1, cell_lat + 1)")
        ).alias("jl"),
        F.col("cell_lon").alias("a_cell_lon"),
        w.alias("w_lon"),
    ).select(
        "a_id",
        "a_lat",
        "a_lon",
        "jl",
        F.explode(
            F.expr("sequence(a_cell_lon - w_lon, a_cell_lon + w_lon)")
        ).alias("jc"),
    )
    right = pts.select(
        F.col("pid").alias("b_id"),
        F.col("lat").alias("b_lat"),
        F.col("lon").alias("b_lon"),
        F.col("cell_lat").alias("jl"),
        F.col("cell_lon").alias("jc"),
    )
    dist = F.expr(
        _HAVERSINE.format(
            r=EARTH_R_M, lat1="a_lat", lon1="a_lon", lat2="b_lat", lon2="b_lon"
        )
    ).cast("long")
    return (
        left.join(right, ["jl", "jc"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", dist.alias("dist_m"))
        .filter(F.col("dist_m") <= GEO_RADIUS_M)
    )


def q_geo_neighbor_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All customer pairs within 50 km (haversine), via latitude-aware
    grid-cell blocking (see blocked_pairs) — the canonical distributed
    radius join. One row per unordered pair: ids and the distance in
    integer meters (the rounded value IS the cutoff test, see module
    doc). The oracle is the UNBLOCKED theta join, so the hash match
    proves the block decomposition lossless on this data.
    """
    return blocked_pairs(geo_points(spark, sf_dir))


N_CITIES = 40


def q_geo_catchment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-facility assignment: each customer snaps to the closest
    of the 40 city centers (haversine, integer meters, ties to the
    lower city id), then one row per city with its catchment size and
    distance stats — the store-catchment / service-area workload.

    The centers are a 40-row table derived from the city id by the
    same exact-int arithmetic as geo_points and BROADCAST into a
    constant fan-out map-side argmin (min(struct(dist, city)) — the
    kmeans_assign shape with a geodesic metric): the corpus never
    shuffles for the assignment, only the |cities|-sized aggregate
    exchanges.
    """
    pts = geo_points(spark, sf_dir)
    centers = spark.range(N_CITIES).select(
        F.col("id").cast("long").alias("city"),
        F.expr(
            "CAST((id * 7919) % 16800 AS DOUBLE) / 100.0 - 85.0"
        ).alias("c_lat"),
        F.expr(
            "CAST((id * 104729) % 35700 AS DOUBLE) / 100.0 - 179.0"
        ).alias("c_lon"),
    )
    dist = F.expr(
        _HAVERSINE.format(
            r=EARTH_R_M, lat1="lat", lon1="lon", lat2="c_lat", lon2="c_lon"
        )
    ).cast("long")
    scored = pts.crossJoin(F.broadcast(centers)).select(
        "pid", F.col("city"), dist.alias("dist_m")
    )
    best = scored.groupBy("pid").agg(
        F.min(F.struct("dist_m", "city")).alias("b")
    )
    return (
        best.select("pid", F.col("b.city").alias("city"), F.col("b.dist_m").alias("dist_m"))
        .groupBy("city")
        .agg(
            F.count("*").alias("n_customers"),
            F.sum("dist_m").alias("sum_dist_m"),
            F.max("dist_m").alias("max_dist_m"),
            (
                F.sum("dist_m").cast("double") / F.count("*").cast("double")
            ).alias("avg_dist_m"),
        )
    )


DBSCAN_MINPTS = 5  # core point: >= 5 neighbors within GEO_RADIUS_M


def q_geo_dbscan_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN-style density clustering over the customer geography —
    the geo-dedup / hotspot-detection primitive: a point is CORE when
    it has >= {DBSCAN_MINPTS} neighbors within 50 km (the blocked
    radius join), clusters are the connected components of the
    core-core adjacency (computed by the engine's own wcc fixpoint —
    operator composition, not a re-implementation), and BORDER points
    (non-core within radius of a core) attach to the minimum adjacent
    cluster label for determinism. One row per cluster: core size,
    border size, label.

    Every stage is an existing scale-safe shape: the radius join is
    grid-blocked (never all-pairs), degrees and memberships are
    map-side-combined aggregates, and the component closure is the
    checkpointed min-label fixpoint (bounded label lattice). The
    DuckDB twin closes reachability with a recursive CTE over the
    UNBLOCKED theta-join pairs, so the hash match re-proves the block
    decomposition lossless AND the fixpoint's closure correct in one
    bite.

    At 100 TB: identical plan; the only watch-item is a pathological
    all-points-one-cluster geography, where the min-label fixpoint
    inherits wcc's documented long-chain bound (diameter rounds).
    """
    from ..graph.wcc import wcc

    pairs = blocked_pairs(geo_points(spark, sf_dir)).select("a_id", "b_id")
    # r12 (guide §1.2 — don't recompute): the blocked radius join (the
    # expensive haversine stage) fed every downstream branch by lineage
    # — sym is referenced by the degree pass, the core-core edges AND
    # the border attach, and each sym reference replays pairs twice.
    # One keep each for the radius pairs and the core set.
    sym = keep(
        pairs.union(
            pairs.select(
                F.col("b_id").alias("a_id"), F.col("a_id").alias("b_id")
            )
        )
        .select(F.col("a_id").alias("pid"), F.col("b_id").alias("nbr"))
    )
    deg = sym.groupBy("pid").agg(F.count("*").alias("n_nbr"))
    core = keep(deg.filter(F.col("n_nbr") >= DBSCAN_MINPTS).select("pid"))
    # r13: wcc symmetrizes + distincts its input internally, and sym
    # already carries BOTH directions — feeding it the canonical half
    # (pid < nbr) halves the union+distinct volume of wcc's prelude
    # (its heaviest shuffle) with an identical undirected closure.
    core_edges = (
        sym.filter(F.col("pid") < F.col("nbr"))
        .join(core, "pid")
        .join(core.select(F.col("pid").alias("nbr")), "nbr")
        .select(F.col("pid").alias("src"), F.col("nbr").alias("dst"))
    )
    comp = wcc(core_edges)
    # a core point all of whose neighbors are border-only never enters
    # the edge list — it is its own singleton cluster
    singletons = core.join(
        comp.select(F.col("node").alias("pid")), "pid", "left_anti"
    ).select(F.col("pid").alias("node"), F.col("pid").alias("component"))
    # comp feeds both the border attach and the core counts (two
    # consumers of the union over the converged labels).
    comp = keep(comp.unionByName(singletons))
    border = (
        sym.join(core.select(F.col("pid").alias("nbr")), "nbr")
        .join(core, "pid", "left_anti")
        .join(comp.select(F.col("node").alias("nbr"), "component"), "nbr")
        .groupBy("pid")
        .agg(F.min("component").alias("component"))
    )
    n_core = comp.groupBy("component").agg(F.count("*").alias("n_core"))
    n_border = border.groupBy("component").agg(
        F.count("*").alias("n_border")
    )
    return (
        n_core.join(n_border, "component", "left")
        .select(
            F.col("component").alias("cluster"),
            "n_core",
            F.coalesce("n_border", F.lit(0)).cast("long").alias("n_border"),
        )
    )


QUERIES = {
    "geo_neighbor_join": q_geo_neighbor_join,
    "geo_catchment": q_geo_catchment,
    "geo_dbscan_core": q_geo_dbscan_core,
}

_DUCK_HAVERSINE = _HAVERSINE.format(
    r=EARTH_R_M,
    lat1="a.lat",
    lon1="a.lon",
    lat2="b.lat",
    lon2="b.lon",
)

_DUCK_HAV_CENTER = _HAVERSINE.format(
    r=EARTH_R_M, lat1="p.lat", lon1="p.lon", lat2="c.c_lat", lon2="c.c_lon"
)

ORACLE = {
    "geo_catchment": f"""
WITH pts AS (
  SELECT c_custkey AS pid,
         CAST({_LAT_SCALED} AS DOUBLE) / 100.0 - 85.0 AS lat,
         CAST({_LON_SCALED} AS DOUBLE) / 100.0 - 179.0 AS lon
  FROM customer),
centers AS (
  SELECT CAST(id AS BIGINT) AS city,
         CAST((id * 7919) % 16800 AS DOUBLE) / 100.0 - 85.0 AS c_lat,
         CAST((id * 104729) % 35700 AS DOUBLE) / 100.0 - 179.0 AS c_lon
  FROM (SELECT UNNEST(range({N_CITIES})) AS id)),
scored AS (
  SELECT p.pid, c.city, CAST({_DUCK_HAV_CENTER} AS BIGINT) AS dist_m
  FROM pts p CROSS JOIN centers c),
best AS (
  SELECT pid, city, dist_m
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY pid
                                     ORDER BY dist_m, city) AS rn
        FROM scored)
  WHERE rn = 1)
SELECT city, COUNT(*) AS n_customers,
       CAST(SUM(dist_m) AS BIGINT) AS sum_dist_m,
       MAX(dist_m) AS max_dist_m,
       CAST(SUM(dist_m) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_dist_m
FROM best GROUP BY city
""",
    # The oracle skips the blocking (cells are an execution strategy,
    # not semantics): plain theta join + the same rounded-meter cutoff.
    # The hash match therefore proves the 3x3 block decomposition loses
    # no pair at this radius.
    "geo_neighbor_join": f"""
WITH pts AS (
  SELECT c_custkey AS pid,
         CAST({_LAT_SCALED} AS DOUBLE) / 100.0 - 85.0 AS lat,
         CAST({_LON_SCALED} AS DOUBLE) / 100.0 - 179.0 AS lon
  FROM customer)
SELECT a.pid AS a_id, b.pid AS b_id,
       CAST({_DUCK_HAVERSINE} AS BIGINT) AS dist_m
FROM pts a JOIN pts b ON a.pid < b.pid
WHERE CAST({_DUCK_HAVERSINE} AS BIGINT) <= {GEO_RADIUS_M}
""",
    "geo_dbscan_core": f"""
WITH RECURSIVE pts AS (
  SELECT c_custkey AS pid,
         CAST({_LAT_SCALED} AS DOUBLE) / 100.0 - 85.0 AS lat,
         CAST({_LON_SCALED} AS DOUBLE) / 100.0 - 179.0 AS lon
  FROM customer),
pairs AS (
  SELECT a.pid AS a_id, b.pid AS b_id
  FROM pts a JOIN pts b ON a.pid < b.pid
  WHERE CAST({_DUCK_HAVERSINE} AS BIGINT) <= {GEO_RADIUS_M}
),
sym AS (
  SELECT a_id AS pid, b_id AS nbr FROM pairs
  UNION ALL SELECT b_id, a_id FROM pairs
),
deg AS (SELECT pid, COUNT(*) AS n_nbr FROM sym GROUP BY 1),
core AS (SELECT pid FROM deg WHERE n_nbr >= {DBSCAN_MINPTS}),
ce AS (
  SELECT s.pid AS src, s.nbr AS dst
  FROM sym s JOIN core a ON a.pid = s.pid JOIN core b ON b.pid = s.nbr
),
reach(node, label) AS (
  SELECT pid, pid FROM core
  UNION
  SELECT u.dst, r.label FROM reach r JOIN ce u ON u.src = r.node
),
comp AS (SELECT node, MIN(label) AS component FROM reach GROUP BY node),
border AS (
  SELECT s.pid, MIN(c.component) AS component
  FROM sym s
  JOIN comp c ON c.node = s.nbr
  WHERE s.pid NOT IN (SELECT pid FROM core)
  GROUP BY s.pid
)
SELECT n.component AS cluster, n.n_core,
       CAST(COALESCE(b.n_border, 0) AS BIGINT) AS n_border
FROM (SELECT component, COUNT(*) AS n_core FROM comp GROUP BY 1) n
LEFT JOIN (SELECT component, COUNT(*) AS n_border FROM border GROUP BY 1) b
  ON b.component = n.component
""",
}
