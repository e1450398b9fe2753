"""Geospatial operators: grid-blocked distance joins, nearest-neighbor
assignment, geohash encoding, track length, and bounding-box/centroid
aggregation.

The fixtures carry no coordinate columns, so every op derives a
deterministic synthetic position from an integer key with pure
arithmetic — `((key % 1000003) * SALT) % RANGE / 10000.0 - OFFSET` —
the same expression in Spark and in the DuckDB oracle, so both engines
produce bit-identical doubles (the mod-before-multiply keeps the
product inside BIGINT on any realistic key domain; see the overflow
rule in the oracle-parity notes).

Scale pattern (the standard distributed spatial-join design): never a
cross join.  Points are bucketed into fixed-size grid cells
(cell = floor(coord / R)); the probe side explodes to its 3x3 cell
neighborhood and the join is a plain equi-join on the cell key, so a
radius-R search touches only the 9 cells that can contain a match.
At 100 TB the build side partitions by cell key, the constant x9
explode factor is shuffle-neutral, and dense-cell skew is AQE's
skew-join case (same posture as join_skew_salted).  Distances use
only +, -, *, sqrt — all IEEE-correctly-rounded, hence cross-engine
bit-identical (no libm trig in any hashed output; haversine would be
the production formula for true geodesics but sin/cos are not
correctly-rounded, so the planar metric is what the exactness
contract can carry).

Float-sum discipline: any SUM over per-row doubles (track length,
centroid) is quantized into an exact domain first — `floor(x * 1e9)`
into BIGINT nanos, or a DECIMAL(14,4) cast for the exactly-4-decimal
coordinates — so the aggregation is exact and order-independent
(double sums are not associative; parallel partial aggregation would
otherwise make the last bits partition-count-dependent).  floor, not
round: Spark's round(double, n) works on the shortest decimal repr
while DuckDB rounds the binary value, so they can disagree by one ulp
on irrational inputs — floor(x * 1e9) is a pure double multiply +
floor, both IEEE-exact, hence engine-identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cobradb_spark.io import load_table
from cobradb_spark.registry import register

# Radius (planar degrees) and grid cell size.  Cell == R, so the 3x3
# neighborhood is exactly the set of cells that can hold a point within
# R of the probe.  25.0 keeps the result non-degenerate at sf0.001
# (10 suppliers on the whole plane) while staying selective at sf0.1.
_R = 25.0

# key -> synthetic coordinate, identical text in Spark and DuckDB.
# The CAST to DOUBLE before the division is load-bearing: Spark parses
# the 10000.0 literal as DECIMAL, so without it the whole derivation
# (and every distance downstream) would run in exact DECIMAL on Spark
# but binary DOUBLE in DuckDB — low-bit mismatches that flip 6-dp
# rounding (the q11 cross-engine-domain lesson).  With both sides in
# DOUBLE, every op downstream (+, -, *, /, sqrt, floor) is IEEE
# correctly-rounded, hence bit-identical — which is why the distance
# outputs below are NOT rounded at all.
_LAT = "CAST((({k} % 1000003) * {salt}) % 1800000 AS DOUBLE) / 10000.0 - 90.0"
_LON = "CAST((({k} % 1000003) * {salt}) % 3600000 AS DOUBLE) / 10000.0 - 180.0"

_C_LAT = _LAT.format(k="c_custkey", salt=9973)
_C_LON = _LON.format(k="c_custkey", salt=7919)
_S_LAT = _LAT.format(k="s_suppkey", salt=6007)
_S_LON = _LON.format(k="s_suppkey", salt=4391)
_E_LAT = _LAT.format(k="event_id", salt=9973)
_E_LON = _LON.format(k="event_id", salt=7919)


def _points(spark: SparkSession, sf_dir: str):
    """(customer points with cell, supplier points with cell)."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.expr(_C_LAT).alias("c_lat"),
        F.expr(_C_LON).alias("c_lon"),
    )
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        F.expr(_S_LAT).alias("s_lat"),
        F.expr(_S_LON).alias("s_lon"),
    )
    c = c.withColumn("cla", F.floor(F.col("c_lat") / _R).cast("int")).withColumn(
        "clo", F.floor(F.col("c_lon") / _R).cast("int")
    )
    s = s.withColumn("sla", F.floor(F.col("s_lat") / _R).cast("int")).withColumn(
        "slo", F.floor(F.col("s_lon") / _R).cast("int")
    )
    return c, s


def _radius_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(c_custkey, s_suppkey, d2) for all pairs within planar distance R,
    via the 3x3-cell equi-join — the shared kernel of the radius join
    and the nearest-neighbor ops."""
    c, s = _points(spark, sf_dir)
    offs = F.array(*[F.lit(i) for i in (-1, 0, 1)])
    cx = (
        c.withColumn("dla", F.explode(offs))
        .withColumn("dlo", F.explode(offs))
        .withColumn("jla", F.col("cla") + F.col("dla"))
        .withColumn("jlo", F.col("clo") + F.col("dlo"))
    )
    d2 = (F.col("c_lat") - F.col("s_lat")) * (F.col("c_lat") - F.col("s_lat")) + (
        F.col("c_lon") - F.col("s_lon")
    ) * (F.col("c_lon") - F.col("s_lon"))
    return (
        cx.join(s, (F.col("jla") == F.col("sla")) & (F.col("jlo") == F.col("slo")))
        .withColumn("d2", d2)
        .filter(F.col("d2") <= F.lit(_R * _R))
        .select("c_custkey", "s_suppkey", "d2")
    )


# Shared oracle CTE prelude: derived points, cells, 3x3 explode, pairs.
_ORACLE_PAIRS = f"""
WITH c AS (
  SELECT c_custkey, {_C_LAT} AS c_lat, {_C_LON} AS c_lon FROM customer
), s AS (
  SELECT s_suppkey, {_S_LAT} AS s_lat, {_S_LON} AS s_lon FROM supplier
), cc AS (
  SELECT *, CAST(floor(c_lat / {_R}) AS INT) AS cla,
            CAST(floor(c_lon / {_R}) AS INT) AS clo FROM c
), ss AS (
  SELECT *, CAST(floor(s_lat / {_R}) AS INT) AS sla,
            CAST(floor(s_lon / {_R}) AS INT) AS slo FROM s
), cx AS (
  SELECT cc.*, o1.d AS dla, o2.d AS dlo
  FROM cc, (VALUES (-1), (0), (1)) o1(d), (VALUES (-1), (0), (1)) o2(d)
), pairs AS (
  SELECT cx.c_custkey, ss.s_suppkey,
         (cx.c_lat - ss.s_lat) * (cx.c_lat - ss.s_lat)
         + (cx.c_lon - ss.s_lon) * (cx.c_lon - ss.s_lon) AS d2
  FROM cx JOIN ss ON cx.cla + cx.dla = ss.sla AND cx.clo + cx.dlo = ss.slo
  WHERE (cx.c_lat - ss.s_lat) * (cx.c_lat - ss.s_lat)
        + (cx.c_lon - ss.s_lon) * (cx.c_lon - ss.s_lon) <= {_R * _R}
)
"""


@register(
    "geo_grid_radius_join",
    oracle=_ORACLE_PAIRS
    + """
, g AS (
  SELECT c_custkey, CAST(count(*) AS BIGINT) AS n_within,
         min(sqrt(d2)) AS min_dist
  FROM pairs GROUP BY c_custkey
)
SELECT c.c_custkey, CAST(coalesce(g.n_within, 0) AS BIGINT) AS n_within,
       g.min_dist
FROM c LEFT JOIN g USING (c_custkey)
""",
    doc="Spatial radius join: for every customer, how many suppliers lie "
    "within planar distance R=25 and how close is the nearest — grid-cell "
    "blocked (cell = floor(coord/R), probe explodes to its 3x3 "
    "neighborhood, plain equi-join on cell key), never a cross join. "
    "Customers with an empty neighborhood are kept via a left join "
    "(n_within = 0). At 100 TB the build side partitions by cell and "
    "dense-cell skew is AQE's skew-join case.",
)
def geo_grid_radius_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c, _ = _points(spark, sf_dir)
    g = (
        _radius_pairs(spark, sf_dir)
        .groupBy("c_custkey")
        .agg(
            F.count("*").alias("n_within"),
            F.min(F.sqrt("d2")).alias("min_dist"),
        )
    )
    return c.select("c_custkey").join(g, "c_custkey", "left").select(
        "c_custkey",
        F.coalesce("n_within", F.lit(0)).cast("bigint").alias("n_within"),
        "min_dist",
    )


@register(
    "geo_nearest_neighbor",
    oracle=_ORACLE_PAIRS
    + """
, rnk AS (
  SELECT c_custkey, s_suppkey, d2,
         row_number() OVER (PARTITION BY c_custkey
                            ORDER BY d2, s_suppkey) AS rn
  FROM pairs
)
SELECT c_custkey, s_suppkey AS nearest_suppkey, sqrt(d2) AS dist
FROM rnk WHERE rn = 1
""",
    doc="Bounded nearest-neighbor assignment: each customer's closest "
    "supplier within radius R (kNN k=1 with a radius bound — the bound is "
    "what keeps the search local: only the 3x3 cell neighborhood is "
    "probed, so there is no global top-1 shuffle). Deterministic "
    "tie-break on (d2, s_suppkey). Customers with no supplier within R "
    "drop out (radius-bounded semantics).",
)
def geo_nearest_neighbor(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("c_custkey").orderBy("d2", "s_suppkey")
    return (
        _radius_pairs(spark, sf_dir)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "c_custkey",
            F.col("s_suppkey").alias("nearest_suppkey"),
            F.sqrt("d2").alias("dist"),
        )
    )


# --- geohash: Morton bit-spread, identical constants both engines ----
# Spread a 20-bit int so its bits land on even positions of a 40-bit
# word (the classic Morton-code magic sequence, here on BIGINT).
_SPREAD = (
    (16, 0x0000FFFF0000FFFF),
    (8, 0x00FF00FF00FF00FF),
    (4, 0x0F0F0F0F0F0F0F0F),
    (2, 0x3333333333333333),
    (1, 0x5555555555555555),
)
_B32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def _spread_sql(x: str, shift_fmt: str) -> str:
    """Bit-spread expression; shift_fmt abstracts shiftleft(x,n) (Spark)
    vs (x << n) (DuckDB)."""
    for n, mask in _SPREAD:
        x = f"(({x} | {shift_fmt.format(x=x, n=n)}) & {mask})"
    return x


def _geohash_sql(lat: str, lon: str, spark_side: bool) -> str:
    """40-bit geohash-8 from derived lat/lon, as one SQL expression."""
    shl = "shiftleft({x}, {n})" if spark_side else "({x} << {n})"
    shr = "shiftright({x}, {n})" if spark_side else "({x} >> {n})"
    lat20 = f"CAST(floor(({lat} + 90.0) / 180.0 * 1048576.0) AS BIGINT)"
    lon20 = f"CAST(floor(({lon} + 180.0) / 360.0 * 1048576.0) AS BIGINT)"
    sl = _spread_sql(lat20, shl)
    so = _spread_sql(lon20, shl)
    morton = f"({shl.format(x=so, n=1)} | {sl})"
    chars = []
    for i in range(8):
        idx = f"(CAST(({shr.format(x=morton, n=35 - 5 * i)}) & 31 AS INT) + 1)"
        chars.append(f"substr('{_B32}', {idx}, 1)")
    return "concat(" + ", ".join(chars) + ")"


@register(
    "geo_geohash_encode",
    oracle=f"""
SELECT c_custkey,
       {_geohash_sql(_C_LAT, _C_LON, spark_side=False)} AS geohash,
       substr({_geohash_sql(_C_LAT, _C_LON, spark_side=False)}, 1, 4) AS gh4
FROM customer
""",
    doc="Geohash-8 encoding entirely in integer expressions: 20-bit "
    "lat/lon quantization, Morton bit-spread (the 5-step magic-mask "
    "sequence) to interleave lon/lat with lon at the MSB per the geohash "
    "spec, then base32 via 5-bit substr lookups. No UDF — the whole "
    "encode stays inside whole-stage codegen, so at 100 TB it is a "
    "map-only scan (the standard spatial bucketing key for Z-order "
    "layout, range pruning, and prefix-join blocking).",
)
def geo_geohash_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    gh = _geohash_sql(_C_LAT, _C_LON, spark_side=True)
    return load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.expr(gh).alias("geohash"),
        F.expr(f"substr({gh}, 1, 4)").alias("gh4"),
    )


@register(
    "geo_track_length",
    oracle=f"""
WITH pts AS (
  SELECT user_id, ts, event_id,
         {_E_LAT} AS lat, {_E_LON} AS lon
  FROM events
), seg AS (
  SELECT user_id, lat, lon,
         lag(lat) OVER w AS plat, lag(lon) OVER w AS plon
  FROM pts WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), d AS (
  SELECT user_id,
         CAST(floor(sqrt((lat - plat) * (lat - plat)
                         + (lon - plon) * (lon - plon))
                    * 1000000000.0) AS BIGINT) AS step_nano
  FROM seg WHERE plat IS NOT NULL
)
SELECT user_id,
       CAST(count(*) + 1 AS BIGINT) AS n_points,
       CAST(sum(step_nano) AS DOUBLE) / 1000000000.0 AS track_len
FROM d GROUP BY user_id
""",
    doc="Per-user track length: order each user's events by (ts, "
    "event_id), lag to the previous point, sum planar segment lengths. "
    "Float-sum discipline: each segment is quantized to BIGINT nanos via "
    "floor(dist * 1e9) — multiply and floor are IEEE-exact, so both "
    "engines produce the identical integer — and summed exactly, so the "
    "result does not depend on partial-aggregation order (a raw double "
    "sum would make the hash partition-count-dependent). One shuffle on "
    "user_id serves both the window and the final group-by.",
)
def geo_track_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        F.expr(_E_LAT).alias("lat"),
        F.expr(_E_LON).alias("lon"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seg = e.select(
        "user_id",
        "lat",
        "lon",
        F.lag("lat").over(w).alias("plat"),
        F.lag("lon").over(w).alias("plon"),
    ).filter(F.col("plat").isNotNull())
    step_nano = F.floor(
        F.sqrt(
            (F.col("lat") - F.col("plat")) * (F.col("lat") - F.col("plat"))
            + (F.col("lon") - F.col("plon")) * (F.col("lon") - F.col("plon"))
        )
        * F.lit(1000000000.0)
    ).cast("bigint")
    return (
        seg.select("user_id", step_nano.alias("step_nano"))
        .groupBy("user_id")
        .agg(
            (F.count("*") + F.lit(1)).cast("bigint").alias("n_points"),
            (F.sum("step_nano").cast("double") / F.lit(1000000000.0)).alias(
                "track_len"
            ),
        )
    )


@register(
    "geo_bbox_centroid",
    oracle=f"""
WITH c AS (
  SELECT c_nationkey, {_C_LAT} AS lat, {_C_LON} AS lon FROM customer
)
SELECT n.n_name,
       CAST(count(*) AS BIGINT) AS n_customers,
       min(c.lat) AS min_lat, max(c.lat) AS max_lat,
       min(c.lon) AS min_lon, max(c.lon) AS max_lon,
       CAST(sum(CAST(c.lat AS DECIMAL(14, 4))) AS DOUBLE)
           / count(*) AS centroid_lat,
       CAST(sum(CAST(c.lon AS DECIMAL(14, 4))) AS DOUBLE)
           / count(*) AS centroid_lon
FROM c JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name
""",
    doc="Per-nation bounding box and centroid of customer positions: "
    "min/max are order-free (identical doubles, no rounding needed); "
    "the centroid mean goes through DECIMAL(14,4) sums (the derived "
    "coordinates have exactly 4 decimal digits, so the cast is exact and "
    "the sum order-independent) with the divide done once in double at "
    "the end — unrounded, since both engines divide identical values. "
    "Nation is a broadcast dim; the aggregation is a map-side-combinable "
    "single shuffle on nationkey — the cheapest possible shape at 100 TB.",
)
def geo_bbox_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(
        "c_nationkey",
        F.expr(_C_LAT).alias("lat"),
        F.expr(_C_LON).alias("lon"),
    )
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").cast("bigint").alias("n_customers"),
            F.min("lat").alias("min_lat"),
            F.max("lat").alias("max_lat"),
            F.min("lon").alias("min_lon"),
            F.max("lon").alias("max_lon"),
            (
                F.sum(F.col("lat").cast("decimal(14,4)")).cast("double")
                / F.count("*")
            ).alias("centroid_lat"),
            (
                F.sum(F.col("lon").cast("decimal(14,4)")).cast("double")
                / F.count("*")
            ).alias("centroid_lon"),
        )
    )


# Fixed test polygon on the INTEGER lattice (pre-division units of the
# synthetic coordinate derivation: x in [0, 3.6e6), y in [0, 1.8e6)) —
# a non-convex pentagon covering the middle of the plane.  Integer
# vertices make every ray-casting predicate exact BIGINT arithmetic
# (max |product| ~ 3.6e6 * 1.8e6 = 6.5e12, far inside 64-bit).
_POLY = (
    (200000, 100000),
    (1400000, 600000),  # reflex vertex -> non-convex, exercises parity
    (3000000, 600000),
    (2400000, 1500000),
    (800000, 1300000),
)
_IX = "(({k} % 1000003) * {salt}) % 3600000"
_IY = "(({k} % 1000003) * {salt}) % 1800000"


def _crossing_terms(px: str, py: str) -> list[str]:
    """Half-open crossing-number terms, one per polygon edge, identical
    SQL text for Spark and DuckDB.  Edge (x1,y1)-(x2,y2) crosses the
    upward ray from (px,py) iff the edge spans py half-openly and the
    point lies strictly left of the edge at height py — the sign test
    (t > 0) == (y2 > y1) with t the exact integer cross product."""
    terms = []
    n = len(_POLY)
    for i in range(n):
        x1, y1 = _POLY[i]
        x2, y2 = _POLY[(i + 1) % n]
        t = f"(({x2} - {x1}) * ({py} - {y1}) - ({px} - {x1}) * ({y2} - {y1}))"
        spans = f"(({y1} <= {py}) <> ({y2} <= {py}))"
        left = f"({t} {'>' if y2 > y1 else '<'} 0)"
        terms.append(f"CASE WHEN {spans} AND {left} THEN 1 ELSE 0 END")
    return terms


@register(
    "geo_polygon_contains",
    oracle=f"""
WITH pts AS (
  SELECT c_custkey, c_mktsegment,
         {_IX.format(k="c_custkey", salt=7919)} AS px,
         {_IY.format(k="c_custkey", salt=9973)} AS py
  FROM customer
), flagged AS (
  SELECT c_custkey, c_mktsegment,
         ({" + ".join(_crossing_terms("px", "py"))}) % 2 AS inside
  FROM pts
)
SELECT c_mktsegment,
       CAST(sum(inside) AS BIGINT) AS n_inside,
       CAST(count(*) - sum(inside) AS BIGINT) AS n_outside,
       CAST(sum(CASE WHEN inside = 1 THEN c_custkey ELSE 0 END) AS BIGINT)
         AS inside_key_sum
FROM flagged GROUP BY 1
""",
    doc="Point-in-polygon gating (the geofence primitive missing from "
    "the grid/radius family): customers at synthetic lattice positions "
    "are tested against a fixed NON-CONVEX pentagon by the half-open "
    "crossing-number rule, with every edge predicate an exact-BIGINT "
    "cross product on the integer lattice (no division, no doubles, no "
    "epsilon — boundary cases are decided deterministically by the "
    "half-open span test, so both engines agree bit-for-bit).  Output "
    "is per-market-segment inside/outside counts plus an inside-key "
    "checksum.  Scale: pure map-side arithmetic (5 fused CASE terms "
    "inside WholeStageCodegen) + one map-side-combinable rollup on a "
    "5-value key — no join, no window, no shuffle beyond the final "
    "1-row-per-segment agg; a P-polygon variant broadcasts the vertex "
    "table and unrolls per-edge terms the same way.",
    tags=("geo",),
)
def geo_polygon_contains(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        F.expr(_IX.format(k="c_custkey", salt=7919)).alias("px"),
        F.expr(_IY.format(k="c_custkey", salt=9973)).alias("py"),
    )
    inside = (
        F.expr(" + ".join(_crossing_terms("px", "py"))) % 2
    ).alias("inside")
    flagged = c.select("c_custkey", "c_mktsegment", inside)
    return flagged.groupBy("c_mktsegment").agg(
        F.sum("inside").cast("bigint").alias("n_inside"),
        (F.count("*") - F.sum("inside")).cast("bigint").alias("n_outside"),
        F.sum(F.when(F.col("inside") == 1, F.col("c_custkey")).otherwise(0))
        .cast("bigint")
        .alias("inside_key_sum"),
    )


# --- DBSCAN: clumped synthetic points ------------------------------
# The uniform _LAT/_LON field has no density structure, so DBSCAN on it
# is degenerate (one eps fits no scale).  These positions clump
# customers around 149 lattice centers with a +/-1.5-degree jitter;
# every 17th key scatters uniformly instead (background noise).  All
# arithmetic is integer -> one IEEE division, identical both engines.
_DB_CLUMPS = 149
_DB_EPS = 1.0
_DB_MINPTS = 4  # core = >= 4 points within eps, INCLUDING the point itself

_DB_LAT = (
    f"CASE WHEN {{k}} % 17 = 0 THEN {_LAT.format(k='{k}', salt=3271)} "
    f"ELSE CAST(({{k}} % {_DB_CLUMPS}) * 9973 % 120 AS DOUBLE) - 59.5 "
    f"   + CAST((({{k}} % 1000003) * 6007) % 30001 AS DOUBLE) / 10000.0 - 1.5 END"
)
_DB_LON = (
    f"CASE WHEN {{k}} % 17 = 0 THEN {_LON.format(k='{k}', salt=5689)} "
    f"ELSE CAST(({{k}} % {_DB_CLUMPS}) * 7919 % 300 AS DOUBLE) - 149.5 "
    f"   + CAST((({{k}} % 1000003) * 4391) % 30001 AS DOUBLE) / 10000.0 - 1.5 END"
)

_DB_ORACLE_PAIRS = f"""
WITH p AS (
  SELECT c_custkey AS id,
         {_DB_LAT.format(k="c_custkey")} AS lat,
         {_DB_LON.format(k="c_custkey")} AS lon
  FROM customer
), pc AS (
  SELECT *, CAST(floor(lat / {_DB_EPS}) AS INT) AS cla,
            CAST(floor(lon / {_DB_EPS}) AS INT) AS clo FROM p
), px AS (
  SELECT pc.*, o1.d AS dla, o2.d AS dlo
  FROM pc, (VALUES (-1), (0), (1)) o1(d), (VALUES (-1), (0), (1)) o2(d)
), pairs AS (
  SELECT a.id AS src, b.id AS dst
  FROM px a JOIN pc b
    ON a.cla + a.dla = b.cla AND a.clo + a.dlo = b.clo
  WHERE a.id <> b.id
    AND (a.lat - b.lat) * (a.lat - b.lat)
        + (a.lon - b.lon) * (a.lon - b.lon) <= {_DB_EPS * _DB_EPS}
), ncnt AS (
  SELECT p.id, 1 + coalesce(g.n, 0) AS n_in_eps
  FROM p LEFT JOIN (SELECT src, count(*) AS n FROM pairs GROUP BY src) g
    ON g.src = p.id
), core AS (
  SELECT id FROM ncnt WHERE n_in_eps >= {_DB_MINPTS}
), ce AS (
  SELECT pairs.src, pairs.dst FROM pairs
  JOIN core x ON x.id = pairs.src JOIN core y ON y.id = pairs.dst
)
"""


@register(
    "geo_dbscan_grid",
    oracle=f"""
WITH RECURSIVE p AS (
  SELECT c_custkey AS id,
         {_DB_LAT.format(k="c_custkey")} AS lat,
         {_DB_LON.format(k="c_custkey")} AS lon
  FROM customer
), pc AS (
  SELECT *, CAST(floor(lat / {_DB_EPS}) AS INT) AS cla,
            CAST(floor(lon / {_DB_EPS}) AS INT) AS clo FROM p
), px AS (
  SELECT pc.*, o1.d AS dla, o2.d AS dlo
  FROM pc, (VALUES (-1), (0), (1)) o1(d), (VALUES (-1), (0), (1)) o2(d)
), pairs AS (
  SELECT a.id AS src, b.id AS dst
  FROM px a JOIN pc b
    ON a.cla + a.dla = b.cla AND a.clo + a.dlo = b.clo
  WHERE a.id <> b.id
    AND (a.lat - b.lat) * (a.lat - b.lat)
        + (a.lon - b.lon) * (a.lon - b.lon) <= {_DB_EPS * _DB_EPS}
), ncnt AS (
  SELECT p.id, CAST(1 + coalesce(g.n, 0) AS BIGINT) AS n_in_eps
  FROM p LEFT JOIN (SELECT src, count(*) AS n FROM pairs GROUP BY src) g
    ON g.src = p.id
), core AS (
  SELECT id FROM ncnt WHERE n_in_eps >= {_DB_MINPTS}
), ce AS (
  SELECT pairs.src, pairs.dst FROM pairs
  JOIN core x ON x.id = pairs.src JOIN core y ON y.id = pairs.dst
), reach(src, node) AS (
  SELECT id, id FROM core
  UNION
  SELECT r.src, e.dst FROM reach r JOIN ce e ON e.src = r.node
), cluster AS (
  SELECT src AS id, CAST(min(node) AS BIGINT) AS cluster_id
  FROM reach GROUP BY src
), border AS (
  SELECT pairs.src AS id, min(cl.cluster_id) AS cluster_id
  FROM pairs JOIN cluster cl ON cl.id = pairs.dst
  WHERE pairs.src NOT IN (SELECT id FROM core)
  GROUP BY pairs.src
)
SELECT n.id, n.n_in_eps,
       CASE WHEN c.id IS NOT NULL THEN 'core'
            WHEN b.id IS NOT NULL THEN 'border'
            ELSE 'noise' END AS role,
       coalesce(c.cluster_id, b.cluster_id, -1) AS cluster_id
FROM ncnt n
LEFT JOIN cluster c ON c.id = n.id
LEFT JOIN border b ON b.id = n.id
""",
    doc="Grid-accelerated DBSCAN (Ester et al. 1996) over clumped "
    f"synthetic customer positions: eps = {_DB_EPS}, minPts = {_DB_MINPTS} "
    "(neighborhood count includes the point).  Core points are found "
    "with the same 3x3-cell equi-join as the radius family (never a "
    "cross join — a point's eps-ball can only intersect its 9 grid "
    "cells); clusters are the connected components of the core-core "
    "eps-graph, computed by the hash-min operator shared by the four "
    "clustering keys (operators/fixpoint.components) "
    "(cluster id = min core key, so labels are order-independent — the "
    "one deliberate deviation from scan-order DBSCAN, whose border "
    "assignment depends on visit order: here a border point joins the "
    "MINIMUM cluster among its core neighbors, a deterministic "
    "refinement of the same cluster family).  Oracle: identical pair "
    "generation + recursive-CTE reachability.  Scale: the pair join "
    "partitions by cell key (dense-cell skew = AQE skew-join case); "
    "label propagation shuffles only the core-edge list per round with "
    "localCheckpoint'd labels; component diameter is bounded by the "
    "clump geometry, rounds stop at convergence, and the loop raises "
    "past its 16-round cap.",
    tags=("geo", "graph"),
)
def geo_dbscan_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cobradb_spark.operators.fixpoint import components

    p = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        F.expr(_DB_LAT.format(k="c_custkey")).alias("lat"),
        F.expr(_DB_LON.format(k="c_custkey")).alias("lon"),
    )
    pc = p.withColumn(
        "cla", F.floor(F.col("lat") / _DB_EPS).cast("int")
    ).withColumn("clo", F.floor(F.col("lon") / _DB_EPS).cast("int"))
    offs = F.array(*[F.lit(i) for i in (-1, 0, 1)])
    px = (
        pc.withColumn("dla", F.explode(offs))
        .withColumn("dlo", F.explode(offs))
        .withColumn("jla", F.col("cla") + F.col("dla"))
        .withColumn("jlo", F.col("clo") + F.col("dlo"))
        .select(
            F.col("id").alias("src"),
            F.col("lat").alias("alat"),
            F.col("lon").alias("alon"),
            "jla",
            "jlo",
        )
    )
    b = pc.select(
        F.col("id").alias("dst"),
        F.col("lat").alias("blat"),
        F.col("lon").alias("blon"),
        F.col("cla").alias("bla"),
        F.col("clo").alias("blo"),
    )
    d2 = (F.col("alat") - F.col("blat")) * (F.col("alat") - F.col("blat")) + (
        F.col("alon") - F.col("blon")
    ) * (F.col("alon") - F.col("blon"))
    # localCheckpoint (eager), not persist: each components() round
    # must not re-analyze the grid-join subtree.
    pairs = (
        px.join(b, (F.col("jla") == F.col("bla")) & (F.col("jlo") == F.col("blo")))
        .filter((F.col("src") != F.col("dst")) & (d2 <= F.lit(_DB_EPS * _DB_EPS)))
        .select("src", "dst")
        .localCheckpoint()
    )
    ncnt = (
        p.select("id")
        .join(pairs.groupBy("src").agg(F.count("*").alias("n")), p["id"] == F.col("src"), "left")
        .select("id", (1 + F.coalesce("n", F.lit(0))).cast("bigint").alias("n_in_eps"))
    )
    core = ncnt.filter(F.col("n_in_eps") >= _DB_MINPTS).select("id").localCheckpoint()
    ce = (
        pairs.join(core.withColumnRenamed("id", "src"), "src")
        .join(core.withColumnRenamed("id", "dst"), "dst")
        .select("src", "dst")
        .localCheckpoint()
    )
    # clump-bounded diameter; the round cap is generous
    labels = components(ce, core, max_rounds=16, name="geo_dbscan_grid").select(
        F.col("n").alias("id"), F.col("comp").alias("cluster_id")
    )
    border = (
        pairs.join(labels.withColumnRenamed("id", "dst"), "dst")
        .join(core.withColumnRenamed("id", "src"), "src", "left_anti")
        .groupBy("src")
        .agg(F.min("cluster_id").alias("b_cluster"))
        .withColumnRenamed("src", "id")
    )
    out = (
        ncnt.join(labels.withColumnRenamed("cluster_id", "c_cluster"), "id", "left")
        .join(border, "id", "left")
        .select(
            "id",
            "n_in_eps",
            F.when(F.col("c_cluster").isNotNull(), F.lit("core"))
            .when(F.col("b_cluster").isNotNull(), F.lit("border"))
            .otherwise(F.lit("noise"))
            .alias("role"),
            F.coalesce("c_cluster", "b_cluster", F.lit(-1))
            .cast("bigint")
            .alias("cluster_id"),
        )
    )
    return out
