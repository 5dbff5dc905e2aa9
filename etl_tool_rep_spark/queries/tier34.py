"""Tier-34 queries: the spatial operator family — geohash encoding,
grid-blocked radius joins, and multi-resolution density rollups.

No counterpart in the reference (/root/reference/main.py implements
only Direct Map / Conditional / Lookup). Coordinates are derived
DETERMINISTICALLY from customer keys (documented synthetic mapping —
the fixture has no geo columns; the operators are the deliverable):
lat = ((k^2) % 17000) / 100 - 85 and
lon = (((k^2 + k) * 101) % 36000) / 100 - 180 — quadratic on purpose:
a LINEAR map (k*37, k*101) puts every point on a sparse lattice whose
minimum pairwise gap exceeds any sane radius (the radius join found
ZERO pairs at 15k points), while the quadratic residues scatter like
hash values. Exact to the integer hundredth of a degree, so every
downstream quantity (geohash bits, squared distances, cell ids) is
pure integer arithmetic.

The three operators are the canonical scale shapes for geo at 100 TB:
encode once (geohash = interleaved lat/lon bits, prefix-shared by
nearby points), join by grid blocking (same/adjacent cells only —
never all pairs), and aggregate by zoom-out rollups (parent cell =
child cell >> 2 bits).

Both engines evaluate the SAME generated bit-interleave expression
text, so parity is by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..session import local_frame
from .registry import query

# exact synthetic coordinates in integer hundredths of a degree
_LAT100 = "((c_custkey * c_custkey) % 17000 - 8500)"
_LON100 = "(((c_custkey * c_custkey + c_custkey) * 101) % 36000 - 18000)"

_B32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def _interleave30() -> str:
    """SQL for the 30-bit geohash integer from latq/lonq (15 bits
    each): standard geohash bit order — even positions (from the
    top) take longitude bits, odd take latitude. Generated once and
    used verbatim by BOTH engines."""
    terms = []
    for i in range(15):  # bit i counted from the most significant
        lon_shift = 14 - i
        lat_shift = 14 - i
        # lon bit -> output bit (29 - 2i); lat bit -> (28 - 2i)
        terms.append(f"(((lonq >> {lon_shift}) & 1)"
                     f" * CAST({1 << (29 - 2 * i)} AS BIGINT))")
        terms.append(f"(((latq >> {lat_shift}) & 1)"
                     f" * CAST({1 << (28 - 2 * i)} AS BIGINT))")
    return " + ".join(terms)


def _gh_chars(src: str) -> str:
    """SQL concatenating the six base32 chars of a 30-bit code."""
    parts = []
    for c in range(6):
        shift = 25 - 5 * c
        parts.append(f"substr('{_B32}',"
                     f" CAST((({src} >> {shift}) & 31) + 1 AS INT),"
                     f" 1)")
    return " || ".join(parts)


@query(
    "geohash_encode",
    oracle=f"""
    WITH pts AS (
      SELECT c_custkey,
             CAST({_LAT100} AS BIGINT) AS lat100,
             CAST({_LON100} AS BIGINT) AS lon100
      FROM customer),
    q AS (
      SELECT c_custkey, lat100, lon100,
             CAST((lat100 + 9000) * 32768 // 18000 AS BIGINT)
                 AS latq,
             CAST((lon100 + 18000) * 32768 // 36000 AS BIGINT)
                 AS lonq
      FROM pts),
    enc AS (
      SELECT c_custkey, lat100, lon100,
             CAST({_interleave30()} AS BIGINT) AS gh30
      FROM q)
    SELECT c_custkey,
           CAST(CAST(lat100 AS DOUBLE) / 100.0 AS DOUBLE) AS lat,
           CAST(CAST(lon100 AS DOUBLE) / 100.0 AS DOUBLE) AS lon,
           gh30,
           {_gh_chars('gh30')} AS geohash6
    FROM enc
    """,
)
def geohash_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geohash encoding of every customer's (synthetic,
    integer-exact) coordinates: quantize lat/lon to 15 bits each,
    interleave lon-first into the standard 30-bit geohash integer,
    and render the 6-character base32 geohash — the prefix-shared
    spatial key under location indexes, proximity sharding, and
    privacy-aware coarsening (truncate chars = zoom out). The
    bit-interleave expression is GENERATED once and evaluated
    verbatim by both engines, so parity is structural.

    Scale: pure per-row integer arithmetic inside whole-stage
    codegen — one scan, no shuffle, embarrassingly parallel; the
    geohash column then serves as a clustering/bucketing key
    (`zorder_layout` is the 2-column generalization).
    """
    c = load(spark, sf_dir, "customer")
    q = c.select(
        "c_custkey",
        F.expr(f"CAST({_LAT100} AS BIGINT)").alias("lat100"),
        F.expr(f"CAST({_LON100} AS BIGINT)").alias("lon100"),
    ).selectExpr(
        "c_custkey", "lat100", "lon100",
        "CAST((lat100 + 9000) * 32768 DIV 18000 AS BIGINT) AS latq",
        "CAST((lon100 + 18000) * 32768 DIV 36000 AS BIGINT) AS lonq")
    enc = q.selectExpr(
        "c_custkey", "lat100", "lon100",
        f"CAST({_interleave30()} AS BIGINT) AS gh30")
    return enc.selectExpr(
        "c_custkey",
        "CAST(CAST(lat100 AS DOUBLE) / 100.0 AS DOUBLE) AS lat",
        "CAST(CAST(lon100 AS DOUBLE) / 100.0 AS DOUBLE) AS lon",
        "gh30",
        f"{_gh_chars('gh30')} AS geohash6")


@query(
    "spatial_radius_join",
    oracle=f"""
    WITH pts AS (
      SELECT c_custkey AS k,
             CAST({_LAT100} AS BIGINT) AS y,
             CAST({_LON100} AS BIGINT) AS x
      FROM customer),
    cells AS MATERIALIZED (
      SELECT k, x, y,
             CAST(FLOOR(CAST(x AS DOUBLE) / 100) AS BIGINT) AS cx,
             CAST(FLOOR(CAST(y AS DOUBLE) / 100) AS BIGINT) AS cy
      FROM pts),
    offs AS (SELECT dx, dy
             FROM unnest([-1, 0, 1]) AS a(dx),
                  unnest([-1, 0, 1]) AS b(dy)),
    -- fold the 9 neighbor offsets into the PROBE side before the
    -- join: with the old three-way form (cells a JOIN offs ON TRUE
    -- JOIN cells b ON b.cx = a.cx + o.dx ...) the equality spans two
    -- leaf relations, DuckDB never extracts it as a hash key, and
    -- the plan degenerates to cross-product + FILTER — 501 s at sf1
    -- and ~O(10 h) at sf10 (the r11 slice gate). As a plain
    -- column-column equality it hash-joins: 4.5 s at sf1, full sf10
    -- tractable. Same 9-cell census, bit-identical output.
    probe AS (
      SELECT k, x, y, cx + dx AS ncx, cy + dy AS ncy
      FROM cells, offs),
    cand AS (
      SELECT a.k AS a_id, b.k AS b_id,
             (a.x - b.x) * (a.x - b.x)
               + (a.y - b.y) * (a.y - b.y) AS d2
      FROM probe a
      JOIN cells b ON b.cx = a.ncx AND b.cy = a.ncy
                  AND b.k > a.k)
    SELECT a_id, b_id, CAST(d2 AS BIGINT) AS d2
    FROM cand WHERE d2 <= 10000
    """,
)
def spatial_radius_join(spark: SparkSession,
                        sf_dir: str) -> DataFrame:
    """All customer point pairs within 1 degree (100 integer
    hundredths; squared threshold 10000) of each other — found via
    grid blocking: cells sized exactly to the
    radius, so every qualifying pair lands in the same or an
    adjacent cell (9-cell candidate search, provably complete), then
    an exact integer squared-distance verify. THE spatial-join shape
    at scale — candidates are an equi-join on cell keys, never an
    all-pairs product.

    Scale: the cell census and the 9-way neighbor join shuffle on
    cell keys (dense-city skew salts like any hot key); verification
    is per-candidate integer math. Haversine at planetary scale
    swaps the verify expression, not the plan.
    """
    c = load(spark, sf_dir, "customer")
    pts = (c.select(F.col("c_custkey").alias("k"),
                   F.expr(f"CAST({_LAT100} AS BIGINT)").alias("y"),
                   F.expr(f"CAST({_LON100} AS BIGINT)").alias("x")))
    cells = pts.selectExpr(
        "k", "x", "y",
        "CAST(FLOOR(CAST(x AS DOUBLE) / 100) AS BIGINT) AS cx",
        "CAST(FLOOR(CAST(y AS DOUBLE) / 100) AS BIGINT) AS cy")
    offs = local_frame(
        spark, [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)],
        "dx long, dy long")
    b = cells.selectExpr("k AS bk", "x AS bx", "y AS by_",
                         "cx AS bcx", "cy AS bcy")
    cand = (cells.crossJoin(F.broadcast(offs))
            .join(b, (F.col("bcx") == F.col("cx") + F.col("dx"))
                  & (F.col("bcy") == F.col("cy") + F.col("dy"))
                  & (F.col("bk") > F.col("k")))
            .select(F.col("k").alias("a_id"),
                    F.col("bk").alias("b_id"),
                    ((F.col("x") - F.col("bx"))
                     * (F.col("x") - F.col("bx"))
                     + (F.col("y") - F.col("by_"))
                     * (F.col("y") - F.col("by_"))).alias("d2")))
    return (cand.filter(F.col("d2") <= 10000)
            .select("a_id", "b_id",
                    F.col("d2").cast("bigint").alias("d2")))


@query(
    "spatial_cell_rollup",
    oracle=f"""
    WITH pts AS (
      SELECT CAST((({_LAT100}) + 9000) * 256 // 18000 AS BIGINT)
                 AS cy,
             CAST((({_LON100}) + 18000) * 256 // 36000 AS BIGINT)
                 AS cx
      FROM customer),
    lv AS (SELECT UNNEST([0, 2, 4]) AS shift),
    cells AS (
      SELECT shift,
             cx >> shift AS gx, cy >> shift AS gy,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM pts CROSS JOIN lv
      GROUP BY 1, 2, 3)
    SELECT CAST(8 - shift AS BIGINT) AS zoom_bits,
           gx, gy, n
    FROM cells
    """,
)
def spatial_cell_rollup(spark: SparkSession,
                        sf_dir: str) -> DataFrame:
    """Multi-resolution spatial density rollup: customer points
    bucketed into a 256x256 base grid and rolled up to 64x64 and
    16x16 by integer bit-shifts (parent cell = child >> 2) — the
    hypertable/tile-pyramid aggregation behind every map heat layer
    and spatial partition planner. Per (zoom, cell): point count,
    with the zoom encoded as remaining coordinate bits. All cell ids
    are pure integer arithmetic on the exact synthetic coordinates.

    Scale: ONE scan fans each row into 3 zoom levels (constant
    expansion), then a map-side-combinable count per (zoom, cell) —
    at 100 TB the rollup can equivalently chain child->parent
    aggregations (3 tiny shuffles of cell tables instead of a 3x row
    fan-out); both shapes are one line apart in this plan.
    """
    c = load(spark, sf_dir, "customer")
    pts = c.selectExpr(
        f"CAST((({_LAT100}) + 9000) * 256 DIV 18000 AS BIGINT)"
        " AS cy",
        f"CAST((({_LON100}) + 18000) * 256 DIV 36000 AS BIGINT)"
        " AS cx")
    lv = local_frame(spark, [(0,), (2,), (4,)], "shift long")
    return (pts.crossJoin(F.broadcast(lv))
            .groupBy(
                F.expr("CAST(8 - shift AS BIGINT)").alias("zoom_bits"),
                F.expr("cx >> CAST(shift AS INT)").alias("gx"),
                F.expr("cy >> CAST(shift AS INT)").alias("gy"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n")))
